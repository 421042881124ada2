package graft.ops

import graft.core.{Gts, GtsRow}
import graft.parsers.{GraphiteParser, InfluxLineParser, OpenTsdbParser, PromProtoParser, PrompbParser}
import org.apache.spark.sql.{DataFrame, Dataset}

/** One facade over every wire protocol the engine ingests — the library
  * surface a user points at their own raw captures (a Kafka topic of
  * lines, an object store of request bodies) without touching the
  * per-protocol parsers directly.
  *
  * Every entry returns the SAME flat relation: the [[GtsRow]] columns
  * (`ts_us, name, labels, vtype, v_long, v_double, v_bool, v_str`) plus
  * an `error` string column. Modes mirror the reference's per-transport
  * policies (catalyser/graphite.go:49-56 vs :276-283):
  *
  *  - `"PERMISSIVE"` (default): bad inputs become rows with `error` set
  *    and null payload — count them, quarantine them, keep going;
  *  - `"FAILFAST"`: the first bad input throws, failing the job — the
  *    HTTP-request semantics where one bad line rejects the batch;
  *  - `"DROPMALFORMED"`: bad inputs silently vanish (TCP semantics).
  *
  * All parsing is per-row `flatMap` over typed Datasets — embarrassingly
  * parallel, no shuffle, codegen-friendly output schema. Timestamps are
  * CALLER-SUPPLIED (`nowMs`/`nowNs`/`nowUs` for rows that omit one):
  * determinism is the caller's choice, wall-clock never sneaks in.
  */
object Ingest {

  /** Parsed row or error — the uniform output record. */
  final case class Parsed(
      ts_us: Option[Long],
      name: Option[String],
      labels: Option[Map[String, String]],
      vtype: Option[String],
      v_long: Option[Long],
      v_double: Option[Double],
      v_bool: Option[Boolean],
      v_str: Option[String],
      error: Option[String])

  private def good(g: Gts): Parsed = {
    val r: GtsRow = Gts.toRow(g)
    Parsed(r.ts_us, Some(r.name), Some(r.labels), Some(r.vtype),
      r.v_long, r.v_double, r.v_bool, r.v_str, None)
  }
  private def bad(err: String): Parsed =
    Parsed(None, None, None, None, None, None, None, None, Some(err))

  private val Modes = Seq("PERMISSIVE", "FAILFAST", "DROPMALFORMED")

  /** Parse every record of `in` under `mode`, checked once here as the
    * plan is built: a typo must fail the call, not quarantine the input.
    * `raw` renders a record for the FAILFAST message only.
    */
  private def parse[T](in: Dataset[T], mode: String, raw: T => String)(
      f: T => Either[String, Seq[Gts]]): DataFrame = {
    val m = mode.toUpperCase
    require(Modes.contains(m),
      s"unknown parse mode '$mode': expected one of ${Modes.mkString(", ")}")
    import in.sparkSession.implicits._
    in.mapPartitions(_.flatMap { t =>
      f(t) match {
        case Right(gs) => gs.map(good)
        case Left(err) if m == "FAILFAST" =>
          throw new IllegalArgumentException(s"malformed input: $err in <${raw(t)}>")
        case Left(_) if m == "DROPMALFORMED" => Nil
        case Left(err) => Seq(bad(err))
      }
    }).toDF()
  }

  private def prefix(body: Array[Byte]): String = new String(body.take(64), "UTF-8")

  /** Graphite plaintext lines (`path[;k=v...] value [ts]`).
    * `parseHierarchy` splits dotted paths into positional labels.
    */
  def graphite(
      lines: Dataset[String],
      parseHierarchy: Boolean = false,
      nowMs: Long = 0L,
      mode: String = "PERMISSIVE"): DataFrame =
    parse(lines, mode, identity[String])(
      GraphiteParser.parseLine(_, parseHierarchy, nowMs).map(Seq(_)))

  /** InfluxDB line protocol; one line can fan out to several GTS (one
    * per field). `precision` ∈ n/u/ms/s (influxdb.go:25-28).
    */
  def influx(
      lines: Dataset[String],
      precision: String = "n",
      nowNs: Long = 0L,
      mode: String = "PERMISSIVE"): DataFrame =
    parse(lines, mode, identity[String])(InfluxLineParser.parseLine(_, precision, nowNs))

  /** OpenTSDB JSON bodies (single object or array; junk skipped by the
    * sniffer).
    */
  def opentsdb(
      bodies: Dataset[String],
      nowUs: Long = 0L,
      mode: String = "PERMISSIVE"): DataFrame =
    parse(bodies, mode, identity[String])(OpenTsdbParser.parse(_, nowUs))

  /** Prometheus exposition bodies with content negotiation: delimited
    * protobuf `MetricFamily` when the content type says so, text
    * exposition otherwise (prometheus.go:40-49). Input: (body bytes,
    * content type).
    */
  def promExposition(
      bodies: Dataset[(Array[Byte], Option[String])],
      extraLabels: Map[String, String] = Map.empty,
      nowMs: Long = 0L,
      mode: String = "PERMISSIVE"): DataFrame =
    parse(bodies, mode, (b: (Array[Byte], Option[String])) => prefix(b._1)) {
      case (body, ct) => PromProtoParser.parseExposition(body, ct, extraLabels, nowMs)
    }

  /** Prometheus remote_write bodies: snappy-compressed protobuf
    * `WriteRequest`s (prometheus_remote_write.go:20-50). A body whose
    * snappy header claims more than `PrompbParser.MaxUncompressedBytes`
    * is a parse error, caught before any allocation.
    */
  def promRemoteWrite(
      bodies: Dataset[Array[Byte]],
      mode: String = "PERMISSIVE"): DataFrame =
    parse(bodies, mode, prefix)(PrompbParser.parseSnappyBody)
}
