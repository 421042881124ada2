package graft.queries

import graft.{Q, Tables}
import graft.core.{Gts, Sensision, WarpError}
import graft.parsers.{GraphiteParser, InfluxLineParser, OpenTsdbParser, PromParser}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The ingest layer (SURVEY.md §2 Table A): every protocol parser /
  * normalizer the reference implements, exercised over wire-format lines
  * SYNTHESIZED from the driver's `events` table (FIXTURES.md §B usage
  * plan) so the DuckDB oracle can independently reconstruct the expected
  * output from the source columns.
  *
  * One implementation per ingest law: every protocol parse (graphite,
  * influx, OpenTSDB, prometheus), the TCP auth prefix and the Sensision
  * encoder run the SAME Scala code that serves HTTP and TCP pushes,
  * through typed `Dataset.flatMap` (SURVEY.md §4.3: the one place typed
  * transforms beat SQL), so the oracle, which reconstructs the expected
  * rows relationally, certifies the served path. Operators with no
  * served counterpart (token coalesce, batching, error classes, rollups)
  * stay column pipelines.
  *
  * Scale: every query here is a stateless per-row transform — no shuffle
  * except the final ORDER BY for determinism (which the driver's sorted
  * compare needs, and which TakeOrdered/sort-on-write handles at scale).
  */
object Ingest {

  def all: Seq[Q] = Seq(graphiteParse, influxFanout, opentsdbParse,
    promExposition, promExpositionProto, promRemoteWrite, promPathLabels,
    sensisionEncode, sensisionEncodeUnsafe, tokenExtract, warpBatch27,
    methodFilter, errorClassify, graphiteTcpToken, banExpiry,
    influxPrecision, graphiteFailfast, quotaEnforce, graphiteTreeRollup,
    seriesChurn, graphiteRetention, graphiteAggRules, graphiteHashRing,
    graphiteRingRebalance, promHaDedup, carbonPickle, statsdFlush,
    dogstatsdParse)

  /** Graphite metric-TREE rollup: every dotted metric contributes its
    * observations to each ancestor prefix (`metrics.click.m3` also
    * counts under `metrics.click` and `metrics`) — the hierarchy
    * aggregation a graphite-compatible store answers `sumSeries(a.b.*)`
    * from, and the natural consumer of the A7 hierarchy→labels mapping.
    * Prefix generation is a per-row transform over the split name (depth
    * is the name's own segment count — no joins); one partial-agged
    * shuffle on the prefix key. Exact integer cent sums.
    */
  val graphiteTreeRollup: Q = Q("graphite_tree_rollup", (s, dir) => {
    Tables.events(s, dir)
      .withColumn("name", expr(
        "concat('metrics.', event_type, '.m', CAST(user_id % 10 AS STRING))"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("parts", split(col("name"), "\\."))
      .select(col("cents"), explode(expr(
        "transform(sequence(1, size(parts)), i -> array_join(slice(parts, 1, i), '.'))"))
        .as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_points"), sum("cents").as("sum_cents"),
        expr("size(split(first(prefix), '\\\\.'))").as("depth"))
      .select(col("prefix"), expr("CAST(depth AS BIGINT)").as("depth"),
        col("n_points"), col("sum_cents"))
      .orderBy("prefix")
  }, Some("""WITH e AS (
      SELECT 'metrics.' || event_type || '.m' || CAST(user_id % 10 AS VARCHAR) AS name,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    p AS (SELECT cents, unnest(list_transform(range(1, len(string_split(name, '.')) + 1),
        i -> array_to_string(string_split(name, '.')[1:i], '.'))) AS prefix
      FROM e)
    SELECT prefix, CAST(len(string_split(prefix, '.')) AS BIGINT) AS depth,
      count(*)::BIGINT AS n_points, sum(cents)::BIGINT AS sum_cents
    FROM p GROUP BY prefix ORDER BY prefix"""))

  /** Active-series CHURN between the time range's first and second half:
    * per metric family (event type), how many distinct series (metric id
    * = name × sub-id) appeared, persisted, or vanished — the
    * series-cardinality lifecycle readout a TSDB operator watches to
    * catch label explosions and dead sensors (the reference's domain:
    * every parsed GTS is one series). A full-outer set compare on
    * (family, series) presence flags; two distinct-aggregates + one
    * rollup, all exact counts.
    */
  val seriesChurn: Q = Q("series_churn", (s, dir) => {
    val e = Tables.events(s, dir)
    val rng = e.agg(min("ts_us").as("mn"), max("ts_us").as("mx"))
    val pres = e.crossJoin(broadcast(rng))
      .select(col("event_type"),
        expr("concat('m', CAST(user_id % 100 AS STRING))").as("series"),
        (col("ts_us") * 2 <= col("mn") + col("mx")).as("fh"))
      .groupBy("event_type", "series")
      .agg(max(when(col("fh"), 1L).otherwise(0L)).as("in_a"),
        max(when(!col("fh"), 1L).otherwise(0L)).as("in_b"))
    pres.groupBy("event_type")
      .agg(sum(expr("in_a * (1 - in_b)")).as("n_gone"),
        sum(expr("(1 - in_a) * in_b")).as("n_new"),
        sum(expr("in_a * in_b")).as("n_stayed"),
        count(lit(1)).as("n_total"))
      .withColumn("churn_bp", expr("(n_gone + n_new) * 10000 DIV n_total"))
      .orderBy("event_type")
  }, Some("""WITH rng AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        FROM events),
    pr AS (SELECT event_type, 'm' || CAST(user_id % 100 AS VARCHAR) AS series,
        max(CASE WHEN epoch_us(ts) * 2 <= mn + mx THEN 1 ELSE 0 END)::BIGINT AS in_a,
        max(CASE WHEN epoch_us(ts) * 2 > mn + mx THEN 1 ELSE 0 END)::BIGINT AS in_b
      FROM events, rng GROUP BY event_type, series)
    SELECT event_type,
      sum(in_a * (1 - in_b))::BIGINT AS n_gone,
      sum((1 - in_a) * in_b)::BIGINT AS n_new,
      sum(in_a * in_b)::BIGINT AS n_stayed,
      count(*)::BIGINT AS n_total,
      sum(in_a * (1 - in_b) + (1 - in_a) * in_b)::BIGINT * 10000 // count(*)
        AS churn_bp
    FROM pr GROUP BY event_type ORDER BY event_type"""))

  /** Sensision encoding of URL-UNSAFE names/labels/values through the
    * native codegen'd [[graft.expressions.UrlEncodeWarp]] expression:
    * spaces → %20 in names/labels (the Warp 2.3.0 quirk), '+' → %2B,
    * string values keep '+' for spaces (plain QueryEscape,
    * core/warp.go:467-468). The oracle reproduces the encoding with
    * replace() over the controlled input charset.
    */
  val sensisionEncodeUnsafe: Q = Q("sensision_encode_unsafe", (s, dir) => {
    graft.expressions.UrlEncodeWarp.register(s)
    Tables.events(s, dir)
      .select(col("event_id"),
        concat(col("event_type"), lit(" zone "), (col("user_id") % 3).cast("string")).as("name"),
        concat(lit("us east+"), (col("user_id") % 2).cast("string")).as("lv"),
        concat(lit("v "), col("event_type"), lit(",x")).as("sv"),
        expr("ts_us").as("ts_us"))
      .select(col("event_id"),
        concat(col("ts_us").cast("string"), lit("// "),
          expr("url_encode_warp(name)"), lit("{region="),
          expr("url_encode_warp(lv)"), lit("} '"),
          // string values: plain QueryEscape — space stays '+' (warp.go:467)
          regexp_replace(expr("url_encode_warp(sv)"), lit("%20"), lit("+")),
          lit("'\r\n")).as("sensision"))
      .orderBy("event_id")
  }, Some("""SELECT event_id,
      CAST(epoch_us(ts) AS VARCHAR) || '// ' ||
      replace(event_type || '%20zone%20' || CAST(user_id % 3 AS VARCHAR), '+', '%2B') ||
      '{region=' ||
      replace(replace('us east+' || CAST(user_id % 2 AS VARCHAR), '+', '%2B'), ' ', '%20') ||
      '} ''' ||
      replace(replace('v ' || event_type || ',x', ',', '%2C'), ' ', '+') ||
      '''' || chr(13) || chr(10) AS sensision
    FROM events ORDER BY event_id"""))

  private def canonical(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** `<type>.m<uid>;dc=east <value> <ts>` graphite lines by event_id: the
    * value token is a double, long, bool or string by event_id % 4 and the
    * timestamp alternates seconds and millis.
    */
  private def graphiteLines(s: SparkSession, dir: String): Dataset[(Long, String)] = {
    import s.implicits._
    Tables.events(s, dir).select(col("event_id"), expr("""concat(event_type, '.m',
        CAST(user_id % 10 AS STRING), ';dc=east ',
        CASE CAST(event_id % 4 AS INT)
          WHEN 0 THEN CAST(value AS STRING)
          WHEN 1 THEN CAST(user_id AS STRING)
          WHEN 2 THEN IF(value > 50, 'true', 'False')
          ELSE concat('v', event_type) END, ' ',
        CAST(IF(event_id % 2 = 0, ts_us DIV 1000000, ts_us DIV 1000) AS STRING))""").as("line"))
      .as[(Long, String)]
  }

  /** Graphite line parse through the REAL GraphiteParser: single-space
    * tokenizing (graphite.go:315), float→int→bool→string inference
    * (:332-367), hierarchy labels (:381-403), `;k=v` tag merge (:376-392),
    * ts heuristic (:370).
    */
  val graphiteParse: Q = Q("graphite_parse", (s, dir) => {
    import s.implicits._
    graphiteLines(s, dir).flatMap { case (eid, line) =>
      GraphiteParser.parseLine(line, parse = true, 0L).toOption.map { g =>
        val r = Gts.toRow(g)
        (eid, r.name, canonical(r.labels), r.vtype, r.v_long, r.v_double, r.v_bool, r.v_str, r.ts_us)
      }
    }.toDF("event_id", "name", "labels_str", "vtype", "v_long", "v_double", "v_bool", "v_str", "ts_us")
      .orderBy("event_id")
  }, Some("""SELECT event_id,
      event_type || '.m' || CAST(user_id % 10 AS VARCHAR) AS name,
      '0=' || event_type || ',1=m' || CAST(user_id % 10 AS VARCHAR) || ',dc=east' AS labels_str,
      CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'double' WHEN 1 THEN 'long'
        WHEN 2 THEN 'bool' ELSE 'string' END AS vtype,
      CASE WHEN event_id % 4 = 1 THEN user_id END AS v_long,
      CASE WHEN event_id % 4 = 0 THEN value END AS v_double,
      CASE WHEN event_id % 4 = 2 THEN value > 50 END AS v_bool,
      CASE WHEN event_id % 4 = 3 THEN 'v' || event_type END AS v_str,
      CASE WHEN event_id % 2 = 0 THEN (epoch_us(ts) // 1000000) * 1000000
        ELSE (epoch_us(ts) // 1000) * 1000 END AS ts_us
    FROM events ORDER BY event_id"""))

  /** Influx line protocol through the REAL Scala parser (per-field fan-out,
    * catalyser/influxdb.go:59-84): 1 line with 2 fields → 2 GTS named
    * `measurement.field`; tag escaping (`us\ west`) exercised end-to-end.
    */
  val influxFanout: Q = Q("influx_fanout", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      expr("""concat(event_type,
        ',dc=us\\ west,eid=', CAST(event_id AS STRING),
        ',host=u', CAST(user_id % 20 AS STRING),
        ' value=', CAST(value AS STRING),
        ',k=', coalesce(get_json_object(props, '$.k'), '0'), 'i',
        ' ', CAST(ts_us * 1000 AS STRING))""").as("line"))
    e.as[String].flatMap { line =>
      InfluxLineParser.parseLine(Option(line).getOrElse(""), "n", 0L).fold(
        _ => Seq.empty[(String, String, String, Option[Long], Option[Double], Option[Long])],
        gts => gts.map { g =>
          val r = Gts.toRow(g)
          (r.name, canonical(r.labels), r.vtype, r.v_long, r.v_double, r.ts_us)
        })
    }.toDF("name", "labels_str", "vtype", "v_long", "v_double", "ts_us")
      .orderBy("ts_us", "name", "labels_str")
  }, Some("""SELECT * FROM (
    SELECT event_type || '.value' AS name,
      'dc=us west,eid=' || CAST(event_id AS VARCHAR) || ',host=u' || CAST(user_id % 20 AS VARCHAR) AS labels_str,
      'double' AS vtype, CAST(NULL AS BIGINT) AS v_long, value AS v_double,
      epoch_us(ts) AS ts_us FROM events
    UNION ALL
    SELECT event_type || '.k',
      'dc=us west,eid=' || CAST(event_id AS VARCHAR) || ',host=u' || CAST(user_id % 20 AS VARCHAR),
      'long', CAST(coalesce(json_extract_string(props, '$.k'), '0') AS BIGINT), CAST(NULL AS DOUBLE),
      epoch_us(ts) FROM events)
    ORDER BY ts_us, name, labels_str"""))

  /** The influx `precision` URL param through the REAL parser at every
    * unit (catalyser/influxdb.go:25-28): the same event emitted as
    * s/ms/u/n-precision line protocol (by event_id%4) must land on the
    * same µs timeline after the per-precision ns multiplier — the oracle
    * reconstructs the truncation arithmetic relationally.
    */
  val influxPrecision: Q = Q("influx_precision", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("value"),
      expr("""element_at(array('s','ms','u','n'), CAST(event_id % 4 AS INT) + 1)""").as("prec"),
      expr("""CASE CAST(event_id % 4 AS INT)
        WHEN 0 THEN ts_us DIV 1000000
        WHEN 1 THEN ts_us DIV 1000
        WHEN 2 THEN ts_us
        ELSE ts_us * 1000 END""").as("raw_ts"))
    e.as[(Long, String, Double, String, Long)].flatMap { case (eid, etype, v, prec, rawTs) =>
      val line = s"m_$etype value=$v $rawTs"
      InfluxLineParser.parseLine(line, prec, 0L).fold(
        _ => Seq.empty[(Long, String, String, Double, Long)],
        gts => gts.map { g =>
          val r = Gts.toRow(g)
          (eid, prec, r.name, r.v_double.get, r.ts_us.get)
        })
    }.toDF("event_id", "precision", "name", "v_double", "ts_us")
      .orderBy("event_id")
  }, Some("""SELECT event_id,
      (['s','ms','u','n'])[CAST(event_id % 4 AS INT) + 1] AS precision,
      'm_' || event_type || '.value' AS name,
      value AS v_double,
      CASE CAST(event_id % 4 AS INT)
        WHEN 0 THEN (epoch_us(ts) // 1000000) * 1000000
        WHEN 1 THEN (epoch_us(ts) // 1000) * 1000
        ELSE epoch_us(ts) END AS ts_us
    FROM events ORDER BY event_id"""))

  /** The per-transport error-policy divergence as a query pair
    * (catalyser/graphite.go:49-56 HTTP FAILFAST — one bad line fails the
    * whole request — vs :276-283 TCP PERMISSIVE — bad lines dropped,
    * stream continues): events form 100-line requests, every 13th line
    * corrupted, per-line verdicts from the REAL GraphiteParser; both
    * policies derived per request.
    */
  val graphiteFailfast: Q = Q("graphite_failfast", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      col("event_id"),
      expr("event_id DIV 100").as("req"),
      expr("""IF(event_id % 13 = 0, 'corrupt',
        concat(event_type, '.m ', CAST(value AS STRING), ' ',
               CAST(ts_us DIV 1000000 AS STRING)))""").as("line"))
    val verdicts = e.as[(Long, Long, String)].map { case (eid, req, line) =>
      val ok = graft.parsers.GraphiteParser.parseLine(line, parse = false, 0L).isRight
      (eid, req, if (ok) 1L else 0L)
    }.toDF("event_id", "req", "ok")
    verdicts.groupBy("req")
      .agg(count(lit(1)).as("n_lines"), sum("ok").as("n_ok_permissive"))
      .withColumn("failfast_parsed",
        when(col("n_ok_permissive") === col("n_lines"), col("n_lines")).otherwise(0L))
      .withColumn("failfast_error", (col("n_ok_permissive") =!= col("n_lines")).cast("bigint"))
      .orderBy("req")
  }, Some("""SELECT event_id // 100 AS req, count(*) AS n_lines,
      CAST(sum(CASE WHEN event_id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_ok_permissive,
      CASE WHEN sum(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END) = 0
        THEN count(*) ELSE 0 END AS failfast_parsed,
      CAST(CASE WHEN sum(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END) > 0
        THEN 1 ELSE 0 END AS BIGINT) AS failfast_error
    FROM events GROUP BY event_id // 100 ORDER BY req"""))

  /** OpenTSDB JSON bodies (built with `to_json`) through the REAL
    * OpenTsdbParser (A13/A14, opentsdb.go:37-58,109-124), ts heuristic
    * included; JSON numbers decode to double exactly like Go's
    * encoding/json → interface{} (opentsdb.go:19-28).
    */
  val opentsdbParse: Q = Q("opentsdb_parse", (s, dir) => {
    import s.implicits._
    val bodies = Tables.events(s, dir).select(col("event_id"), to_json(struct(
        concat(lit("sys."), col("event_type")).as("metric"),
        expr("IF(event_id % 2 = 0, ts_us DIV 1000000, ts_us DIV 1000)").as("timestamp"),
        col("value").as("value"),
        map(lit("eid"), col("event_id").cast("string"),
            lit("host"), concat(lit("u"), (col("user_id") % 20).cast("string"))).as("tags")))
      .as("body"))
    bodies.as[(Long, String)].flatMap { case (eid, body) =>
      OpenTsdbParser.parse(body, 0L).fold(
        _ => Seq.empty[(Long, String, Option[Long], Option[Double], String)],
        gts => gts.map { g =>
          val r = Gts.toRow(g)
          (eid, r.name, r.ts_us, r.v_double, canonical(r.labels))
        })
    }.toDF("event_id", "metric", "ts_us", "v_double", "labels_str")
      .orderBy("event_id")
  }, Some("""SELECT event_id, 'sys.' || event_type AS metric,
      CASE WHEN event_id % 2 = 0 THEN (epoch_us(ts) // 1000000) * 1000000
        ELSE (epoch_us(ts) // 1000) * 1000 END AS ts_us,
      value AS v_double,
      'eid=' || CAST(event_id AS VARCHAR) || ',host=u' || CAST(user_id % 20 AS VARCHAR) AS labels_str
    FROM events ORDER BY event_id"""))

  /** Prometheus exposition text through the REAL Scala parser: comment
    * skipping, quoted-label grammar, __name__ precedence, URL-path extra
    * labels override, ±Inf DROPPED (prometheus.go:83-85) — every 97th
    * event becomes a +Inf sample and must vanish.
    */
  val promExposition: Q = Q("prom_exposition", (s, dir) => {
    import s.implicits._
    val lines = Tables.events(s, dir).select(expr("""concat(
      '# TYPE m counter\n',
      'metric_', event_type,
      '{user="u', CAST(user_id % 20 AS STRING), '",eid="', CAST(event_id AS STRING), '"} ',
      IF(event_id % 97 = 0, '+Inf', CAST(value AS STRING)),
      ' ', CAST(ts_us DIV 1000 AS STRING))""").as("body"))
    lines.as[String].flatMap { body =>
      PromParser.parseExposition(body, Map("job" -> "graft"), 0L).fold(
        _ => Seq.empty[(String, String, Double, Option[Long])],
        gts => gts.map { g =>
          val r = Gts.toRow(g)
          (r.name, canonical(r.labels), r.v_double.get, r.ts_us)
        })
    }.toDF("name", "labels_str", "v_double", "ts_us")
      .orderBy("ts_us", "name", "labels_str")
  }, Some("""SELECT 'metric_' || event_type AS name,
      'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,user=u' || CAST(user_id % 20 AS VARCHAR) AS labels_str,
      value AS v_double,
      (epoch_us(ts) // 1000) * 1000 AS ts_us
    FROM events WHERE event_id % 97 <> 0
    ORDER BY ts_us, name, labels_str"""))

  /** Protobuf Prometheus exposition (A17 closing the gap: the reference's
    * `expfmt.ResponseFormat` negotiation at prometheus.go:40-49 decodes
    * varint-delimited `MetricFamily` protobuf). Each event synthesizes one
    * family — counter, summary, or histogram by event_id%3 — ENCODED to
    * real wire bytes, then decoded through the negotiated proto path and
    * flattened expfmt-style: summaries fan out to quantile samples +
    * `_sum`/`_count`, histograms to `le` buckets + `_sum`/`_count` (the
    * `le=+Inf` bucket synthesized from sample_count when the family omits
    * it — exercised on odd user_ids), +Inf counters dropped (every 97th).
    */
  val promExpositionProto: Q = Q("prom_exposition_proto", (s, dir) => {
    import s.implicits._
    import graft.parsers.PromProtoParser
    import PromProtoParser.{Bucket, Metric, MetricFamily, Quantile}
    val e = Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("user_id"), col("value"),
      expr("ts_us DIV 1000").as("ts_ms"))
    e.as[(Long, String, Long, Double, Long)].flatMap { case (eid, etype, uid, v, tsMs) =>
      val labels = Map("eid" -> eid.toString)
      val fam = (eid % 3) match {
        case 0 =>
          val cv = if (eid % 97 == 0) Double.PositiveInfinity else v
          MetricFamily(s"cnt_$etype", PromProtoParser.COUNTER,
            Seq(Metric(labels, Some(cv), None, None, Some(tsMs))))
        case 1 =>
          MetricFamily(s"lat_$etype", PromProtoParser.SUMMARY,
            Seq(Metric(labels, None,
              Some((uid % 100, v * 3, Seq(Quantile(0.5, v), Quantile(0.99, v * 2)))),
              None, Some(tsMs))))
        case _ =>
          // bucket bounds straddle the Go %g scientific switch: 1e-05
          // (exp<-4 → "1e-05"), 5e-4 (exp=-4 → "0.0005"), 0.1, 1048576
          // (exp>=6 → "1.048576e+06") — label parity with expfmt's
          // fmt.Sprint is part of what the oracle checks
          val explicit = Seq(Bucket(uid % 5, 1e-05), Bucket(uid % 5 + 1, 5e-4),
            Bucket(uid % 5 + 2, 0.1), Bucket(uid % 5 + 3, 1048576.0)) ++
            (if (uid % 2 == 0) Seq(Bucket(uid % 5 + 4, Double.PositiveInfinity)) else Nil)
          MetricFamily(s"dur_$etype", PromProtoParser.HISTOGRAM,
            Seq(Metric(labels, None, None,
              Some((uid % 5 + 4, v, explicit)), Some(tsMs))))
      }
      val wire = PromProtoParser.encodeDelimited(Seq(fam))
      PromProtoParser.parseExposition(wire, Some(PromProtoParser.ProtoContentType),
          Map("job" -> "graft"), 0L)
        .fold(_ => Seq.empty[(Long, String, String, Double, Long)],
          gts => gts.map { g =>
            val r = Gts.toRow(g)
            (eid, r.name, canonical(r.labels), r.v_double.get, r.ts_us.get)
          })
    }.toDF("event_id", "name", "labels_str", "v_double", "ts_us")
      .orderBy("event_id", "name", "labels_str")
  }, Some("""WITH base AS (SELECT event_id, event_type, user_id, value,
      (epoch_us(ts) // 1000) * 1000 AS ts_us FROM events)
    SELECT * FROM (
      SELECT event_id, 'cnt_' || event_type AS name,
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft' AS labels_str,
        value AS v_double, ts_us
      FROM base WHERE event_id % 3 = 0 AND event_id % 97 <> 0
      UNION ALL
      SELECT event_id, 'lat_' || event_type,
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,quantile=0.5',
        value, ts_us FROM base WHERE event_id % 3 = 1
      UNION ALL
      SELECT event_id, 'lat_' || event_type,
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,quantile=0.99',
        value * 2, ts_us FROM base WHERE event_id % 3 = 1
      UNION ALL
      SELECT event_id, 'lat_' || event_type || '_sum',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft',
        value * 3, ts_us FROM base WHERE event_id % 3 = 1
      UNION ALL
      SELECT event_id, 'lat_' || event_type || '_count',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft',
        CAST(user_id % 100 AS DOUBLE), ts_us FROM base WHERE event_id % 3 = 1
      UNION ALL
      SELECT event_id, 'dur_' || event_type || '_bucket',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,le=1e-05',
        CAST(user_id % 5 AS DOUBLE), ts_us FROM base WHERE event_id % 3 = 2
      UNION ALL
      SELECT event_id, 'dur_' || event_type || '_bucket',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,le=0.0005',
        CAST(user_id % 5 + 1 AS DOUBLE), ts_us FROM base WHERE event_id % 3 = 2
      UNION ALL
      SELECT event_id, 'dur_' || event_type || '_bucket',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,le=0.1',
        CAST(user_id % 5 + 2 AS DOUBLE), ts_us FROM base WHERE event_id % 3 = 2
      UNION ALL
      SELECT event_id, 'dur_' || event_type || '_bucket',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,le=1.048576e+06',
        CAST(user_id % 5 + 3 AS DOUBLE), ts_us FROM base WHERE event_id % 3 = 2
      UNION ALL
      SELECT event_id, 'dur_' || event_type || '_bucket',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft,le=+Inf',
        CAST(user_id % 5 + 4 AS DOUBLE), ts_us FROM base WHERE event_id % 3 = 2
      UNION ALL
      SELECT event_id, 'dur_' || event_type || '_sum',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft',
        value, ts_us FROM base WHERE event_id % 3 = 2
      UNION ALL
      SELECT event_id, 'dur_' || event_type || '_count',
        'eid=' || CAST(event_id AS VARCHAR) || ',job=graft',
        CAST(user_id % 5 + 4 AS DOUBLE), ts_us FROM base WHERE event_id % 3 = 2)
    ORDER BY event_id, name, labels_str"""))

  /** remote_write normalization (prometheus_remote_write.go:52-86): unlike
    * exposition, non-finite values (±Inf AND NaN) are COERCED TO 0, kept
    * (:70-73); ts ms→µs (:78).
    */
  val promRemoteWrite: Q = Q("prom_remote_write", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("user_id"),
      expr("""CASE CAST(event_id % 13 AS INT) WHEN 0 THEN CAST('Infinity' AS DOUBLE)
        WHEN 1 THEN CAST('-Infinity' AS DOUBLE) WHEN 2 THEN CAST('NaN' AS DOUBLE)
        ELSE value END""").as("sample"),
      expr("ts_us DIV 1000").as("ts_ms"))
    e.as[(Long, String, Long, Double, Long)].map { case (eid, etype, uid, sample, tsMs) =>
      val g = PromParser.normalizeRemoteWriteSample(
        Map("__name__" -> s"up_$etype", "eid" -> eid.toString, "instance" -> s"i${uid % 5}"),
        sample, tsMs)
      val r = Gts.toRow(g)
      (eid, r.name, canonical(r.labels), r.v_double.get, r.ts_us.get)
    }.toDF("event_id", "name", "labels_str", "v_double", "ts_us")
      .orderBy("event_id")
  }, Some("""SELECT event_id, 'up_' || event_type AS name,
      'eid=' || CAST(event_id AS VARCHAR) || ',instance=i' || CAST(user_id % 5 AS VARCHAR) AS labels_str,
      CASE WHEN event_id % 13 IN (0, 1, 2) THEN 0.0 ELSE value END AS v_double,
      (epoch_us(ts) // 1000) * 1000 AS ts_us
    FROM events ORDER BY event_id"""))

  /** URL-path label pairs through the REAL PromParser.pathLabels
    * (prometheus.go:26-38): odd pair count → error (every 89th event gets
    * a 3-segment path and must surface the error marker).
    */
  val promPathLabels: Q = Q("prom_path_labels", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(col("event_id"),
      expr("""IF(event_id % 89 = 0,
        concat('/job/', event_type, '/odd'),
        concat('/job/', event_type, '/instance/i', CAST(user_id % 5 AS STRING),
               '/eid/', CAST(event_id AS STRING)))""").as("path"))
    e.as[(Long, String)].map { case (eid, path) =>
      val labels = PromParser.pathLabels(path).fold(_ => "__error__", canonical)
      (eid, labels)
    }.toDF("event_id", "labels_str").orderBy("event_id")
  }, Some("""SELECT event_id,
      CASE WHEN event_id % 89 = 0 THEN '__error__'
        ELSE 'eid=' || CAST(event_id AS VARCHAR) || ',instance=i' ||
          CAST(user_id % 5 AS VARCHAR) || ',job=' || event_type END AS labels_str
    FROM events ORDER BY event_id"""))

  /** Sensision encoding through the REAL encoder (core/warp.go:423-478):
    * the graphite lines of `graphite_parse`, parsed and encoded by
    * `Sensision.encode`, the code both Warp writers call. Go %f fixed
    * 6-decimal doubles; the names here are URL-safe by construction
    * (`sensision_encode_unsafe` covers escaping).
    */
  val sensisionEncode: Q = Q("sensision_encode", (s, dir) => {
    import s.implicits._
    graphiteLines(s, dir).flatMap { case (eid, line) =>
      GraphiteParser.parseLine(line, parse = true, 0L).toOption.map(g => (eid, Sensision.encode(g)))
    }.toDF("event_id", "sensision")
      .orderBy("event_id")
  }, Some("""SELECT event_id,
      CAST(ts_us AS VARCHAR) || '// ' || name || '{' || labels_str || '} ' ||
      CASE vtype WHEN 'bool' THEN (CASE WHEN v_bool THEN 'T' ELSE 'F' END)
        WHEN 'long' THEN CAST(v_long AS VARCHAR)
        WHEN 'double' THEN printf('%f', v_double)
        ELSE '''' || v_str || '''' END || chr(13) || chr(10) AS sensision
    FROM (
      SELECT event_id,
        event_type || '.m' || CAST(user_id % 10 AS VARCHAR) AS name,
        '0=' || event_type || ',1=m' || CAST(user_id % 10 AS VARCHAR) || ',dc=east' AS labels_str,
        CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'double' WHEN 1 THEN 'long'
          WHEN 2 THEN 'bool' ELSE 'string' END AS vtype,
        CASE WHEN event_id % 4 = 1 THEN user_id END AS v_long,
        CASE WHEN event_id % 4 = 0 THEN value END AS v_double,
        CASE WHEN event_id % 4 = 2 THEN value > 50 END AS v_bool,
        CASE WHEN event_id % 4 = 3 THEN 'v' || event_type END AS v_str,
        CASE WHEN event_id % 2 = 0 THEN (epoch_us(ts) // 1000000) * 1000000
          ELSE (epoch_us(ts) // 1000) * 1000 END AS ts_us
      FROM events) ORDER BY event_id"""))

  /** Token extraction precedence as a coalesce chain (core/auth.go:13-62):
    * X-Warp10-Token → X-Metrics-Token → X-CityzenData-Token → Bearer → p.
    * (The Basic-auth branch needs base64 and is covered by TokenExtract's
    * unit tests.)
    */
  val tokenExtract: Q = Q("token_extract", (s, dir) => {
    Tables.events(s, dir).select(col("event_id"),
        coalesce(
          when(col("event_id") % 5 === 0, concat(lit("w"), col("user_id"))),
          when(col("event_id") % 3 === 0, concat(lit("m"), col("user_id"))),
          when(col("event_id") % 7 === 0, concat(lit("c"), col("user_id"))),
          when(col("event_id") % 2 === 0, concat(lit("b"), col("user_id"))),
          concat(lit("p"), col("user_id"))).as("token"))
      .orderBy("event_id")
  }, Some("""SELECT event_id, coalesce(
      CASE WHEN event_id % 5 = 0 THEN 'w' || CAST(user_id AS VARCHAR) END,
      CASE WHEN event_id % 3 = 0 THEN 'm' || CAST(user_id AS VARCHAR) END,
      CASE WHEN event_id % 7 = 0 THEN 'c' || CAST(user_id AS VARCHAR) END,
      CASE WHEN event_id % 2 = 0 THEN 'b' || CAST(user_id AS VARCHAR) END,
      'p' || CAST(user_id AS VARCHAR)) AS token
    FROM events ORDER BY event_id"""))

  /** The Warp passthrough's literal 27-line `\r\n` batching
    * (catalyser/warp.go:15-49): row_number grouping + bit-exact batch
    * payload assembly (md5 of the joined lines keeps output compact).
    *
    * Batches are keyed PER CONNECTION — the reference batches inside one
    * TCP conn handler, so the window partitions by conn (parallel across
    * connections, ordered by arrival within one). No global window.
    */
  val warpBatch27: Q = Q("warp_batch27", (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_id"),
        concat(lit("tok"), col("user_id") % 16).as("conn"),
        concat(lit("e"), col("event_id"), lit(" "), col("value").cast("string")).as("line"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("conn").orderBy("event_id")
    e.select(col("event_id"), col("conn"), col("line"),
        ((row_number().over(w) - 1).cast("bigint") / 27).cast("bigint").as("batch"))
      .groupBy("conn", "batch")
      .agg(count(lit(1)).as("n_lines"), min("event_id").as("first_id"), max("event_id").as("last_id"),
        md5(concat_ws("\r\n",
          transform(array_sort(collect_list(struct(col("event_id"), col("line")))),
            x => x.getField("line")))).as("payload_md5"))
      .orderBy("conn", "batch")
  }, Some("""SELECT conn, batch, count(*) AS n_lines, min(event_id) AS first_id, max(event_id) AS last_id,
      md5(string_agg(line, chr(13) || chr(10) ORDER BY event_id)) AS payload_md5
    FROM (SELECT event_id, conn, line,
      (row_number() OVER (PARTITION BY conn ORDER BY event_id) - 1) // 27 AS batch
      FROM (SELECT event_id, 'tok' || CAST(user_id % 16 AS VARCHAR) AS conn,
        'e' || CAST(event_id AS VARCHAR) || ' ' || CAST(value AS VARCHAR) AS line FROM events))
    GROUP BY conn, batch ORDER BY conn, batch"""))

  /** Per-protocol HTTP method allowlist (core/handler.go:130-133, route
    * lists cmd/root.go:116-121).
    */
  val methodFilter: Q = Q("method_filter", (s, dir) => {
    Tables.events(s, dir)
      .select(expr("element_at(array('GET','POST','PUT','DELETE'), CAST(event_id % 4 AS INT) + 1)").as("method"))
      .filter(col("method").isin("POST", "PUT"))
      .groupBy("method").agg(count(lit(1)).as("n"))
      .orderBy("method")
  }, Some("""SELECT method, count(*) AS n FROM (
      SELECT (['GET','POST','PUT','DELETE'])[CAST(event_id % 4 AS INT) + 1] AS method FROM events)
    WHERE method IN ('POST','PUT') GROUP BY method ORDER BY method"""))

  /** Warp 10 response-body classification through the REAL ordered
    * classifier (core/warp.go:280-421) + HTTP status mapping
    * (core/handler.go:210-459), as a Dataset map — control-plane logic,
    * not a hot path.
    */
  val errorClassify: Q = Q("error_classify", (s, dir) => {
    import s.implicits._
    val bodies = Tables.events(s, dir).select(col("event_id"),
      expr("""element_at(array(
        'io.warp10.script.WarpScriptException: Invalid token',
        'io.warp10.script.WarpScriptException: Token Expired',
        'io.warp10.script.WarpScriptException: Token revoked',
        'You exceed your Monthly Active Data Streams limit',
        'Daily Data Points limit being already exceeded',
        '<pre> Parse error at &apos;xyz&apos;</pre>',
        'Application suspended or closed',
        'write: broken pipe'), CAST(event_id % 8 AS INT) + 1)""").as("body"))
    bodies.as[(Long, String)].map { case (_, body) =>
      val e = WarpError.classify(body, "tok")
      (e.label, e.httpStatus.toLong, if (e.bansToken) 1L else 0L)
    }.toDF("class", "status", "bans")
      .groupBy("class", "status", "bans").agg(count(lit(1)).as("n"))
      .orderBy("class")
  }, Some("""SELECT class, status, bans, count(*) AS n FROM (
      SELECT CASE CAST(event_id % 8 AS INT)
        WHEN 0 THEN 'invalid_token' WHEN 1 THEN 'expired_token'
        WHEN 2 THEN 'revoked_token' WHEN 3 THEN 'mads_exceeded'
        WHEN 4 THEN 'ddp_exceeded' WHEN 5 THEN 'input_error'
        WHEN 6 THEN 'gone' ELSE 'broken_pipe' END AS class,
      CASE CAST(event_id % 8 AS INT)
        WHEN 0 THEN 401 WHEN 1 THEN 401 WHEN 2 THEN 401 WHEN 3 THEN 429
        WHEN 4 THEN 429 WHEN 5 THEN 422 WHEN 6 THEN 410 ELSE 503 END::BIGINT AS status,
      CASE WHEN event_id % 8 <= 2 THEN 1 ELSE 0 END::BIGINT AS bans
      FROM events)
    GROUP BY class, status, bans ORDER BY class"""))

  /** The ban-expiry admission filter as a batch query (A28's gate,
    * middlewares/auth.go:41-48 + the TTL state of
    * [[graft.streaming.BanStore]]): every 701st event bans its token at
    * its own timestamp; a request is dropped iff an unexpired ban
    * (within 24 h) covers it. Broadcast anti-join — ban tables are
    * bounded by the token universe, never data-sized.
    */
  val banExpiry: Q = Q("ban_expiry", (s, dir) => {
    val reqs = Tables.events(s, dir).select(col("event_id"),
      concat(lit("tok"), col("user_id") % 50).as("token"),
      expr("ts_us DIV 1000").as("req_ms"))
    val bans = Tables.events(s, dir).filter(col("event_id") % 701 === 0)
      .select(concat(lit("tok"), col("user_id") % 50).as("b_token"),
        expr("ts_us DIV 1000").as("banned_at"))
    reqs.join(broadcast(bans),
        reqs("token") === bans("b_token") &&
          col("req_ms") >= col("banned_at") &&
          col("req_ms") < col("banned_at") + 86400000L,
        "left_anti")
      .orderBy("event_id")
  }, Some("""SELECT event_id, 'tok' || CAST(user_id % 50 AS VARCHAR) AS token,
      epoch_us(ts) // 1000 AS req_ms
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM events b
      WHERE b.event_id % 701 = 0
        AND b.user_id % 50 = e.user_id % 50
        AND epoch_us(e.ts) // 1000 >= epoch_us(b.ts) // 1000
        AND epoch_us(e.ts) // 1000 < epoch_us(b.ts) // 1000 + 86400000)
    ORDER BY event_id"""))

  /** Daily-quota ENFORCEMENT — the actionable form of the DDP limit the
    * reference only reports as a Warp error (core/warp.go DDP taxonomy,
    * `error_classify`): per (token, day), the first 80 points by arrival
    * order are admitted, the rest dropped. The admission decision is a
    * real per-point row_number over a (token, day)-PARTITIONED window
    * (parallel across keys), not a derivable count — the oracle must run
    * the same window.
    */
  val quotaEnforce: Q = Q("quota_enforce", (s, dir) => {
    val e = Tables.events(s, dir).select(
      col("event_id"),
      concat(lit("tok"), col("user_id") % 20).as("token"),
      expr("ts_us DIV 86400000000").as("day"),
      col("ts_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token", "day").orderBy(col("ts_us"), col("event_id"))
    e.withColumn("rn", row_number().over(w))
      .groupBy("token", "day")
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("rn") <= 80, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("rn") > 80, 1L).otherwise(0L)).as("n_dropped"),
        max(when(col("rn") === 80, col("event_id"))).as("last_admitted_id"))
      .withColumn("over_limit", (col("n_dropped") > 0).cast("bigint"))
      .orderBy("token", "day")
  }, Some("""SELECT token, day, count(*) AS n_points,
      CAST(sum(CASE WHEN rn <= 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
      CAST(sum(CASE WHEN rn > 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      max(CASE WHEN rn = 80 THEN event_id END) AS last_admitted_id,
      CAST(CASE WHEN sum(CASE WHEN rn > 80 THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT) AS over_limit
    FROM (SELECT event_id, token, day, row_number() OVER
        (PARTITION BY token, day ORDER BY ts_us, event_id) AS rn
      FROM (SELECT event_id, 'tok' || CAST(user_id % 20 AS VARCHAR) AS token,
        epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS ts_us FROM events))
    GROUP BY token, day ORDER BY token, day"""))

  /** Graphite TCP first-line `TOKEN@.` prefix extraction
    * (graphite.go:240-267) through `GraphiteParser.extractTcpToken`, the
    * TCP edge's auth check; the rest is the line minus the prefix length.
    * A line without the prefix yields nothing, as the edge spools nothing
    * for an unauthenticated connection.
    */
  val graphiteTcpToken: Q = Q("graphite_tcp_token", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(col("event_id"),
      expr("""concat('tok', CAST(user_id AS STRING), '@.', event_type, '.m ',
        CAST(value AS STRING))""").as("line"))
    e.as[(Long, String)].flatMap { case (eid, line) =>
      GraphiteParser.extractTcpToken(line).map { case (token, len) =>
        (eid, token, line.substring(len))
      }
    }.toDF("event_id", "token", "rest")
      .orderBy("event_id")
  }, Some("""SELECT event_id,
      'tok' || CAST(user_id AS VARCHAR) AS token,
      event_type || '.m ' || CAST(value AS VARCHAR) AS rest
    FROM events ORDER BY event_id"""))

  /** Graphite STORAGE-SCHEMAS retention rollup (carbon's
    * storage-schemas.conf semantics — public Graphite config: an
    * ordered pattern list, FIRST match assigns the metric its
    * (resolution, retention) tier): classify every synthetic metric
    * name by the 3-rule policy, drop points older than the tier's
    * retention window (measured from the corpus max timestamp — no
    * wall clock), downsample survivors onto the tier's resolution
    * grid, and report per (tier, family) the raw-vs-stored compression
    * the policy buys. All integer (µs buckets, cent sums, bp ratio);
    * regex tiering uses anchored patterns both engines match
    * identically. Shape: one 1-row max broadcast, per-row CASE, one
    * keyed agg with a distinct-(series,bucket) count.
    */
  val graphiteRetention: Q = Q("graphite_retention_rollup", (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("name", expr(
        "concat('metrics.', event_type, '.m', CAST(user_id % 10 AS STRING))"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val mx = e.agg(max("ts_us").as("mx"))
    val t = e.crossJoin(broadcast(mx))
      .withColumn("tier", expr("""CASE
        WHEN name RLIKE '^metrics\\.purchase\\.' THEN 1L
        WHEN name RLIKE '\\.m[0-4]$' THEN 2L
        ELSE 3L END"""))
      .withColumn("res_s", expr(
        "CASE tier WHEN 1 THEN 60L WHEN 2 THEN 300L ELSE 3600L END"))
      .withColumn("keep_h", expr(
        "CASE tier WHEN 1 THEN 24L WHEN 2 THEN 72L ELSE 168L END"))
      .filter(expr("ts_us > mx - keep_h * 3600000000"))
      .withColumn("bucket", expr("ts_us DIV (res_s * 1000000)"))
    t.groupBy("tier", "event_type", "res_s", "keep_h")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(expr("concat(name, '#', CAST(bucket AS STRING))"))
          .as("n_stored"),
        sum("cents").as("sum_cents"))
      .withColumn("compression_bp", expr("n_stored * 10000 DIV n_raw"))
      .orderBy("tier", "event_type")
  }, Some("""WITH e AS (
      SELECT 'metrics.' || event_type || '.m' || CAST(user_id % 10 AS VARCHAR) AS name,
        event_type, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    mx AS (SELECT max(ts_us) AS mx FROM e),
    t0 AS (SELECT e.*, mx.mx,
        CASE WHEN regexp_matches(name, '^metrics\.purchase\.') THEN 1
             WHEN regexp_matches(name, '\.m[0-4]$') THEN 2
             ELSE 3 END AS tier
      FROM e, mx),
    t1 AS (SELECT *,
        CAST(CASE tier WHEN 1 THEN 60 WHEN 2 THEN 300 ELSE 3600 END AS BIGINT) AS res_s,
        CAST(CASE tier WHEN 1 THEN 24 WHEN 2 THEN 72 ELSE 168 END AS BIGINT) AS keep_h
      FROM t0),
    t2 AS (SELECT *, ts_us // (res_s * 1000000) AS bucket FROM t1
      WHERE ts_us > mx - keep_h * 3600000000)
    SELECT CAST(tier AS BIGINT) AS tier, event_type,
      CAST(res_s AS BIGINT) AS res_s, CAST(keep_h AS BIGINT) AS keep_h,
      count(*)::BIGINT AS n_raw,
      count(DISTINCT name || '#' || CAST(bucket AS VARCHAR))::BIGINT AS n_stored,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT name || '#' || CAST(bucket AS VARCHAR)) * 10000
        // count(*) AS BIGINT) AS compression_bp
    FROM t2 GROUP BY tier, event_type, res_s, keep_h
    ORDER BY tier, event_type"""))

  /** Carbon storage-aggregation.conf semantics as one conditional-
    * aggregation pass (Graphite's whisper rollup config — public docs;
    * the retention twin [[graphiteRetention]] sizes the archives, this
    * applies the per-pattern AGGREGATION METHOD and xFilesFactor when
    * downsampling into them). First-match-wins rules on the metric
    * name: purchases roll up by SUM (counters), errors by MAX with
    * xff 0.10 (keep the worst sample, drop nearly-empty buckets),
    * everything else by truncated AVERAGE with xff 0.50 — and a
    * 300 s bucket is KEPT only when its known 10 s slots clear the
    * rule's xFilesFactor, exactly whisper's known/total test in basis
    * points. Output per (rule, series): kept/dropped buckets and the
    * checksum of aggregated values, all exact integers.
    *
    * Scale shape: one pass, two grouped aggregates (bucket then rule),
    * map-side combinable; the rule dispatch is a codegen'd CASE — no
    * joins, no windows.
    */
  val graphiteAggRules: Q = Q("graphite_aggregation_rules", (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("name", expr(
        "concat('metrics.', event_type, '.m', CAST(user_id % 10 AS STRING))"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("rule", expr("""CASE
        WHEN name RLIKE '^metrics\\.purchase\\.' THEN 1L
        WHEN name RLIKE '^metrics\\.error\\.' THEN 2L
        ELSE 3L END"""))
      .withColumn("method", expr(
        "CASE rule WHEN 1 THEN 'sum' WHEN 2 THEN 'max' ELSE 'average' END"))
      .withColumn("xff_bp", expr(
        "CASE rule WHEN 1 THEN 0L WHEN 2 THEN 1000L ELSE 5000L END"))
      .withColumn("bucket", expr("ts_us DIV 300000000"))
      .withColumn("slot", expr("ts_us DIV 10000000"))
    val buckets = e.groupBy("rule", "method", "xff_bp", "event_type", "name", "bucket")
      .agg(count(lit(1)).as("n_pts"),
        countDistinct("slot").as("n_slots"),
        sum("cents").as("s"), max("cents").as("mx"))
      .withColumn("v", expr("""CASE method
        WHEN 'sum' THEN s WHEN 'max' THEN mx ELSE s DIV n_pts END"""))
      .withColumn("kept", expr("n_slots * 10000 DIV 30 >= xff_bp"))
    buckets.groupBy("rule", "method", "event_type")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("kept"), col("v")).otherwise(0L)).as("agg_sum_c"))
      .orderBy("rule", "event_type")
  }, Some("""WITH e AS (
      SELECT 'metrics.' || event_type || '.m' || CAST(user_id % 10 AS VARCHAR) AS name,
        event_type, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    r AS (SELECT *,
        CASE WHEN regexp_matches(name, '^metrics\.purchase\.') THEN 1
             WHEN regexp_matches(name, '^metrics\.error\.') THEN 2
             ELSE 3 END AS rule
      FROM e),
    t AS (SELECT *,
        CASE rule WHEN 1 THEN 'sum' WHEN 2 THEN 'max' ELSE 'average' END AS method,
        CAST(CASE rule WHEN 1 THEN 0 WHEN 2 THEN 1000 ELSE 5000 END AS BIGINT) AS xff_bp,
        ts_us // 300000000 AS bucket, ts_us // 10000000 AS slot
      FROM r),
    b AS (SELECT rule, method, xff_bp, event_type, name, bucket,
        count(*)::BIGINT AS n_pts, count(DISTINCT slot)::BIGINT AS n_slots,
        CAST(sum(cents) AS BIGINT) AS s, max(cents) AS mx
      FROM t GROUP BY 1, 2, 3, 4, 5, 6),
    v AS (SELECT *,
        CASE method WHEN 'sum' THEN s WHEN 'max' THEN mx ELSE s // n_pts END AS v,
        n_slots * 10000 // 30 >= xff_bp AS kept
      FROM b)
    SELECT CAST(rule AS BIGINT) AS rule, method, event_type,
      CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      CAST(sum(CASE WHEN kept THEN v ELSE 0 END) AS BIGINT) AS agg_sum_c
    FROM v GROUP BY 1, 2, 3 ORDER BY rule, event_type"""))

  // --- carbon-relay consistent-hash ring (graphite_hash_ring) ---------
  // Ring model after graphite-project/carbon's ConsistentHashRing
  // (lib/carbon/hashing.py, public): each destination is planted at
  // `replicas` pseudo-random ring positions, a metric routes to the
  // first destination position at or clockwise-after its own position.
  // Positions are the first 16 bits of md5 (carbon's big_endian short of
  // the md5 digest) — reproducible in Spark (conv/substr/md5), DuckDB
  // ('0x'||substr(md5)) and driver-side Java MessageDigest alike.
  private val ringNodes: Seq[String] =
    Seq("10.1.0.1:2103", "10.1.0.2:2103", "10.1.0.3:2103", "10.1.0.4:2103")
  private val ringReplicas = 100

  private def md5Pos16(key: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    ((d(0) & 0xff) << 8) | (d(1) & 0xff)
  }

  /** (pos, node, replica) for every planted replica of `nodes` — the
    * oracle embeds these verbatim; the Spark side derives the
    * 65536-entry successor lookup from the same rows.
    */
  private def ringEntriesOf(nodes: Seq[String]): Seq[(Int, String, Int)] =
    for (n <- nodes; i <- 0 until ringReplicas)
      yield (md5Pos16(s"$n:$i"), n, i)

  /** Successor owner for every 16-bit position (collisions resolved to
    * the lexicographically-first node, lowest replica — the identical
    * ORDER BY dist, node, rep rule the oracle applies).
    */
  private def ringLookupOf(entries: Seq[(Int, String, Int)]): Seq[(Long, String)] = {
    val byPos = entries.groupBy(_._1).toSeq
      .map { case (p, g) => (p, g.minBy(r => (r._2, r._3))._2) }
      .sortBy(_._1)
    val positions = byPos.map(_._1).toArray
    val owners = byPos.map(_._2).toArray
    (0 until 65536).map { p =>
      val j = java.util.Arrays.binarySearch(positions, p)
      val idx =
        if (j >= 0) j
        else { val ip = -j - 1; if (ip == positions.length) 0 else ip }
      (p.toLong, owners(idx))
    }
  }

  private val ringEntries: Seq[(Int, String, Int)] = ringEntriesOf(ringNodes)
  private val ringLookup: Seq[(Long, String)] = ringLookupOf(ringEntries)

  /** Carbon-relay consistent-hash routing: every synthetic metric series
    * is assigned the destination a carbon relay ring with 4 destinations
    * × 100 replicas would route it to (semantics of carbon's
    * ConsistentHashRing — 16-bit md5 positions, clockwise successor with
    * wrap-around; the sharding layer under every large graphite fleet,
    * and the natural next hop after the reference's per-token transport
    * fan-out, catalyser/graphite.go:218). Exactness: ring positions are
    * computed ONCE driver-side and embedded in both plans; the metric's
    * own position is md5-derived identically in Spark and DuckDB; ties
    * between colliding replicas break on (node, replica) in both. Scale:
    * series are reduced FIRST (map-side-combinable groupBy), the ring is
    * a broadcast 65536-row equi-join lookup — no inequality join, no
    * per-row ring scan; point volume never meets the ring.
    */
  val graphiteHashRing: Q = Q("graphite_hash_ring", (s, dir) => {
    import s.implicits._
    val lookup = ringLookup.toDF("pos16", "node")
    Tables.events(s, dir)
      .withColumn("name", expr(
        "concat('metrics.', event_type, '.m', CAST(user_id % 10 AS STRING))"))
      .groupBy("name").agg(count(lit(1)).as("n_points"))
      .withColumn("pos16", expr("CAST(conv(substr(md5(name), 1, 4), 16, 10) AS BIGINT)"))
      .join(broadcast(lookup), "pos16")
      .select(col("name"), col("node"), col("n_points"))
      .orderBy("name")
  }, Some {
    val ringValues = ringEntries
      .map { case (p, n, i) => s"($p, '$n', $i)" }.mkString(",\n      ")
    s"""WITH m AS (
      SELECT 'metrics.' || event_type || '.m' || CAST(user_id % 10 AS VARCHAR) AS name,
        count(*)::BIGINT AS n_points
      FROM events GROUP BY 1),
    p AS (SELECT name, n_points,
        CAST('0x' || substr(md5(name), 1, 4) AS BIGINT) AS pos16
      FROM m),
    ring(rpos, node, rep) AS (VALUES
      $ringValues),
    a AS (SELECT p.name, p.n_points, r.node
      FROM p CROSS JOIN ring r
      QUALIFY row_number() OVER (PARTITION BY p.name
        ORDER BY (r.rpos - p.pos16 + 65536) % 65536, r.node, r.rep) = 1)
    SELECT name, node, n_points FROM a ORDER BY name"""
  })

  /** Carbon pickle bulk ingest round-trip — points batched per
    * (metric family, hour), framed as the python-pickle list every
    * carbon relay ships ([[graft.parsers.CarbonPickleParser]]: real
    * protocol-2 opcodes, allowlisted decoder), then decoded back by
    * the same hardened interpreter. The oracle cannot run a pickle VM,
    * so it asserts the two things that pin the wire format: the
    * decoded points are EXACTLY the source rows, and each batch's
    * byte length equals the closed-form frame size (8 framing bytes +
    * 17 + len(metric) per point — BINUNICODE + two 5-byte BININTs +
    * two TUPLE2s) — one wrong opcode anywhere and the length column
    * breaks. Scale: batches are (family, hour)-keyed groups (bounded),
    * encode/decode is per-group CPU, no shuffle beyond the grouping.
    */
  val carbonPickle: Q = Q("carbon_pickle", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      col("event_type"),
      expr("concat('carbon.', event_type, '.e', CAST(event_id AS STRING))").as("metric"),
      expr("ts_us DIV 3600000000").as("batch_h"),
      expr("ts_us DIV 1000000").as("ts_s"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
    e.as[(String, String, Long, Long, Long)]
      .groupByKey(r => (r._1, r._3))
      .flatMapGroups { (key: (String, Long), it: Iterator[(String, String, Long, Long, Long)]) =>
        val bh = key._2
        val pts = it.toSeq.sortBy(_._2).map(r => (r._2, r._4, r._5))
        val bytes = graft.parsers.CarbonPickleParser.encode(pts)
        val decoded = graft.parsers.CarbonPickleParser.decode(bytes)
          .fold(err => throw new IllegalStateException(s"pickle round-trip: $err"),
            identity)
        decoded.map { case (m, ts, v) =>
          (m, bh, ts, v, decoded.size.toLong, bytes.length.toLong)
        }
      }
      .toDF("metric", "batch_h", "ts_s", "v_c", "batch_points", "batch_bytes")
      .orderBy("metric")
  }, Some("""WITH e AS (
      SELECT event_type,
        'carbon.' || event_type || '.e' || CAST(event_id AS VARCHAR) AS metric,
        epoch_us(ts) // 3600000000 AS batch_h,
        epoch_us(ts) // 1000000 AS ts_s,
        CAST(round(value * 100) AS BIGINT) AS v_c
      FROM events),
    b AS (SELECT event_type, batch_h, count(*)::BIGINT AS batch_points,
        CAST(8 + sum(17 + length(metric)) AS BIGINT) AS batch_bytes
      FROM e GROUP BY 1, 2)
    SELECT e.metric, e.batch_h, e.ts_s, e.v_c, b.batch_points, b.batch_bytes
    FROM e JOIN b ON b.event_type = e.event_type AND b.batch_h = e.batch_h
    ORDER BY e.metric"""))

  /** statsd ingest + flush aggregation — the fourth line protocol
    * (after graphite/influx/opentsdb) and the one with per-TYPE flush
    * semantics ([[graft.parsers.StatsdParser]]): counters scale by the
    * client sample rate (Σ v·k for @1/k rates — exact integers, never
    * float division), timers flush (recv count, estimated count, sum,
    * min, max), sets count distinct members, and gauges replay the
    * set-vs-signed-delta stream (`g = last absolute + deltas since`,
    * initial 0) to their end-of-hour value — the quirk that makes
    * gauges ORDER-dependent and hence the windowed fold here. Lines
    * are synthesized from events, parsed by the REAL parser on the
    * executors, and the oracle recomputes the identical flush from the
    * source columns — any parser drift breaks the diff. Scale: per-row
    * parse, one (metric, hour)-keyed aggregate; the gauge fold is a
    * per-metric window, series-count parallelism.
    */
  val statsdFlush: Q = Q("statsd_flush", (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
      expr("ts_us DIV 3600000000").as("h"))
    val lines = e.select(col("event_id"), col("h"), expr("""
      CASE CAST(event_id % 4 AS INT)
        WHEN 0 THEN concat('statsd.', event_type, '.c:', CAST(cents AS STRING), '|c',
          CASE CAST(event_id % 3 AS INT) WHEN 0 THEN '' WHEN 1 THEN '|@0.5' ELSE '|@0.25' END)
        WHEN 1 THEN concat('statsd.', event_type, '.g:',
          CASE WHEN event_id % 5 = 0 THEN
            concat(CASE WHEN event_id % 2 = 0 THEN '+' ELSE '-' END, CAST(cents % 1000 AS STRING))
          ELSE CAST(cents AS STRING) END, '|g')
        WHEN 2 THEN concat('statsd.', event_type, '.ms:', CAST(cents AS STRING), '|ms',
          CASE WHEN event_id % 7 = 0 THEN '|@0.5' ELSE '' END)
        ELSE concat('statsd.', event_type, '.s:', CAST(user_id AS STRING), '|s')
      END""").as("line"))
    val parsed = lines.as[(Long, Long, String)].map { case (eid, h, line) =>
      graft.parsers.StatsdParser.parseLine(line) match {
        case Right(sm) => (eid, h, sm.metric, sm.v, sm.mtype, sm.delta, sm.rateK)
        case Left(err) => (eid, h, "__error__", 0L, "e", false, 1L)
      }
    }.toDF("eid", "h", "metric", "v", "mtype", "delta", "k")
    val cts = parsed.filter(col("mtype") === "c")
      .groupBy("metric", "h", "mtype")
      .agg(count(lit(1)).as("n_recv"), sum(expr("v * k")).as("agg1"),
        sum("k").as("agg2"), lit(0L).as("agg3"))
    val tms = parsed.filter(col("mtype") === "ms")
      .groupBy("metric", "h", "mtype")
      .agg(count(lit(1)).as("n_recv"), sum("v").as("agg1"),
        min("v").as("agg2"), max("v").as("agg3"))
    val sets = parsed.filter(col("mtype") === "s")
      .groupBy("metric", "h", "mtype")
      .agg(count(lit(1)).as("n_recv"), countDistinct("v").as("agg1"),
        lit(0L).as("agg2"), lit(0L).as("agg3"))
    val wOrd = Window.partitionBy("metric").orderBy("h", "eid")
    val g = parsed.filter(col("mtype") === "g")
      .withColumn("grp", sum(when(!col("delta"), 1L).otherwise(0L)).over(wOrd))
      .withColumn("base", max(when(!col("delta"), col("v"))).over(
        Window.partitionBy("metric", "grp")))
      .withColumn("dsum", sum(when(col("delta"), col("v")).otherwise(0L)).over(
        Window.partitionBy("metric", "grp").orderBy("h", "eid")))
      .withColumn("gval", coalesce(col("base"), lit(0L)) + col("dsum"))
    val wLast = Window.partitionBy("metric", "h").orderBy(col("eid").desc)
    val gauges = g.withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .groupBy("metric", "h", "mtype")
      .agg(count(lit(1)).as("n_recv"), max("gval").as("agg1"),
        lit(0L).as("agg2"), lit(0L).as("agg3"))
    // gauge n_recv must count ALL samples in the hour, not the kept row
    val gCounts = parsed.filter(col("mtype") === "g")
      .groupBy("metric", "h").agg(count(lit(1)).as("n_all"))
    val gaugesN = gauges.join(gCounts, Seq("metric", "h"))
      .select(col("metric"), col("h"), col("mtype"), col("n_all").as("n_recv"),
        col("agg1"), col("agg2"), col("agg3"))
    cts.unionByName(tms).unionByName(sets).unionByName(gaugesN)
      .orderBy("metric", "h")
  }, Some("""WITH e AS (
      SELECT event_id AS eid, user_id, event_type,
        CAST(round(value * 100) AS BIGINT) AS cents,
        epoch_us(ts) // 3600000000 AS h
      FROM events),
    c AS (SELECT 'statsd.' || event_type || '.c' AS metric, h, 'c' AS mtype,
        count(*)::BIGINT AS n_recv,
        sum(cents * CASE CAST(eid % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)::BIGINT AS agg1,
        sum(CASE CAST(eid % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)::BIGINT AS agg2,
        CAST(0 AS BIGINT) AS agg3
      FROM e WHERE eid % 4 = 0 GROUP BY 1, 2),
    t AS (SELECT 'statsd.' || event_type || '.ms' AS metric, h, 'ms' AS mtype,
        count(*)::BIGINT AS n_recv, sum(cents)::BIGINT AS agg1,
        min(cents) AS agg2, max(cents) AS agg3
      FROM e WHERE eid % 4 = 2 GROUP BY 1, 2),
    st AS (SELECT 'statsd.' || event_type || '.s' AS metric, h, 's' AS mtype,
        count(*)::BIGINT AS n_recv, count(DISTINCT user_id)::BIGINT AS agg1,
        CAST(0 AS BIGINT) AS agg2, CAST(0 AS BIGINT) AS agg3
      FROM e WHERE eid % 4 = 3 GROUP BY 1, 2),
    graw AS (SELECT 'statsd.' || event_type || '.g' AS metric, h, eid,
        eid % 5 = 0 AS delta,
        CASE WHEN eid % 5 = 0 THEN
          CASE WHEN eid % 2 = 0 THEN cents % 1000 ELSE -(cents % 1000) END
        ELSE cents END AS v
      FROM e WHERE eid % 4 = 1),
    gg AS (SELECT *, sum(CASE WHEN NOT delta THEN 1 ELSE 0 END)
        OVER (PARTITION BY metric ORDER BY h, eid) AS grp
      FROM graw),
    gv AS (SELECT metric, h, eid,
        coalesce(max(CASE WHEN NOT delta THEN v END)
          OVER (PARTITION BY metric, grp), 0)
        + sum(CASE WHEN delta THEN v ELSE 0 END)
          OVER (PARTITION BY metric, grp ORDER BY h, eid) AS gval
      FROM gg),
    glast AS (SELECT metric, h, gval FROM gv
      QUALIFY row_number() OVER (PARTITION BY metric, h ORDER BY eid DESC) = 1),
    gcnt AS (SELECT metric, h, count(*)::BIGINT AS n_recv FROM graw GROUP BY 1, 2),
    g AS (SELECT glast.metric, glast.h, 'g' AS mtype, gcnt.n_recv,
        CAST(glast.gval AS BIGINT) AS agg1,
        CAST(0 AS BIGINT) AS agg2, CAST(0 AS BIGINT) AS agg3
      FROM glast JOIN gcnt ON gcnt.metric = glast.metric AND gcnt.h = glast.h)
    SELECT metric, h, mtype, n_recv, agg1, agg2, agg3 FROM c
    UNION ALL SELECT * FROM t
    UNION ALL SELECT * FROM st
    UNION ALL SELECT * FROM g
    ORDER BY metric, h"""))

  /** DogStatsD dialect ingest — the Datadog datagram extensions over
    * plain statsd (public spec: tag sections, value packing, and the
    * `h`/`d` histogram/distribution types), parsed by the REAL
    * [[graft.parsers.StatsdParser.parseDogLine]] on the executors.
    * The synthesized corpus exercises every extension: sampled
    * counters with a two-tag section (emitted in BOTH tag orders, so
    * the canonical sorted-tags key is what makes the two streams
    * aggregate together), gauges with a host tag, three-value packed
    * histograms at @0.25, and bare-tag distributions. Flush per
    * (metric, type, canonical tags): line/value counts, rate-estimated
    * value count and sum (Σk, Σv·k — exact integers), min/max. The
    * oracle recomputes the identical flush from the source columns —
    * tag canonicalization drift, packing drift, or rate drift all
    * break the diff. Scale: per-row parse, one keyed aggregate.
    */
  val dogstatsdParse: Q = Q("dogstatsd_parse", (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val lines = e.select(col("event_id"), expr("""
      CASE CAST(event_id % 4 AS INT)
        WHEN 0 THEN concat('dog.', event_type, '.c:', CAST(cents AS STRING), '|c|@0.5|#',
          CASE WHEN event_id % 2 = 0
            THEN concat('env:e', CAST(event_id % 3 AS STRING), ',host:h', CAST(user_id % 8 AS STRING))
            ELSE concat('host:h', CAST(user_id % 8 AS STRING), ',env:e', CAST(event_id % 3 AS STRING)) END)
        WHEN 1 THEN concat('dog.', event_type, '.g:', CAST(cents AS STRING),
          '|g|#host:h', CAST(user_id % 8 AS STRING))
        WHEN 2 THEN concat('dog.', event_type, '.h:', CAST(cents AS STRING), ':',
          CAST(cents % 997 AS STRING), ':', CAST(cents % 89 AS STRING),
          '|h|@0.25|#env:e', CAST(event_id % 3 AS STRING))
        ELSE concat('dog.', event_type, '.d:', CAST(cents AS STRING), '|d|#canary')
      END""").as("line"))
    val parsed = lines.as[(Long, String)].flatMap { case (eid, line) =>
      graft.parsers.StatsdParser.parseDogLine(line) match {
        case Right(ds) => ds.values.map(v => (eid, ds.metric, ds.mtype, ds.tags, v, ds.rateK))
        case Left(_) => Seq((eid, "__error__", "e", "", 0L, 1L))
      }
    }.toDF("eid", "metric", "mtype", "tags", "v", "k")
    parsed.groupBy("metric", "mtype", "tags")
      .agg(countDistinct("eid").as("n_lines"), count(lit(1)).as("n_vals"),
        sum("k").as("est_n"), sum(expr("v * k")).as("v_sum_est"),
        min("v").as("v_min"), max("v").as("v_max"))
      .orderBy("metric", "tags")
  }, Some("""WITH e AS (
      SELECT event_id AS eid, user_id, event_type,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    v0 AS (SELECT eid, 'dog.' || event_type || '.c' AS metric, 'c' AS mtype,
        'env:e' || CAST(eid % 3 AS VARCHAR) || ',host:h' || CAST(user_id % 8 AS VARCHAR) AS tags,
        cents AS v, 2::BIGINT AS k
      FROM e WHERE eid % 4 = 0),
    v1 AS (SELECT eid, 'dog.' || event_type || '.g' AS metric, 'g' AS mtype,
        'host:h' || CAST(user_id % 8 AS VARCHAR) AS tags, cents AS v, 1::BIGINT AS k
      FROM e WHERE eid % 4 = 1),
    v2 AS (SELECT eid, 'dog.' || event_type || '.h' AS metric, 'h' AS mtype,
        'env:e' || CAST(eid % 3 AS VARCHAR) AS tags,
        unnest([cents, cents % 997, cents % 89]) AS v, 4::BIGINT AS k
      FROM e WHERE eid % 4 = 2),
    v3 AS (SELECT eid, 'dog.' || event_type || '.d' AS metric, 'd' AS mtype,
        'canary' AS tags, cents AS v, 1::BIGINT AS k
      FROM e WHERE eid % 4 = 3),
    u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
      UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3)
    SELECT metric, mtype, tags, count(DISTINCT eid)::BIGINT AS n_lines,
      count(*)::BIGINT AS n_vals, CAST(sum(k) AS BIGINT) AS est_n,
      CAST(sum(v * k) AS BIGINT) AS v_sum_est, min(v) AS v_min, max(v) AS v_max
    FROM u GROUP BY metric, mtype, tags
    ORDER BY metric, tags"""))

  /** High-availability replica deduplication — the Thanos/Cortex
    * `deduplicate` step every doubled-scrape Prometheus fleet runs
    * (two replicas scrape the same targets; the query layer must elect
    * ONE replica per series per window or every rate doubles; Thanos
    * compact.Deduplicate semantics, public). Replica ingest is
    * synthesized deterministically: replica `a` carries every sample,
    * replica `b` loses each with probability 1/5 (md5 coin — identical
    * both engines), the real-world asymmetric-gap regime. Election:
    * per (series, hour) the replica with MORE samples wins, ties to
    * the lexicographic first — Thanos' penalty rule reduced to its
    * decidable per-window core. Output per series: elected-hour split,
    * raw vs deduped sample counts (the ingestion-cost number HA
    * dedup exists to halve). Scale: one map-side-combinable aggregate
    * over (series, hour, replica) then per-(series, hour) election by
    * one window — no joins at all.
    */
  val promHaDedup: Q = Q("prom_ha_dedup", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val raw = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("ts_us DIV 3600000000").as("h"),
        explode(expr("array('a', 'b')")).as("replica"))
      .filter(expr(
        s"replica = 'a' OR ${graft.ops.Sketch.h60("'ha'", "CAST(event_id AS STRING)")} % 5 > 0"))
    val cnt = raw.groupBy("event_type", "h", "replica")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type", "h")
      .orderBy(col("n").desc, col("replica").asc)
    val elected = cnt.withColumn("rk", row_number().over(w))
    elected.groupBy("event_type")
      .agg(sum(when(col("rk") === 1 && col("replica") === "a", 1L).otherwise(0L)).as("hours_a"),
        sum(when(col("rk") === 1 && col("replica") === "b", 1L).otherwise(0L)).as("hours_b"),
        sum("n").as("raw_samples"),
        sum(when(col("rk") === 1, col("n")).otherwise(0L)).as("dedup_samples"))
      .orderBy("event_type")
  }, Some("""WITH raw AS (
      SELECT event_type, event_id, epoch_us(ts) // 3600000000 AS h, r.replica
      FROM events CROSS JOIN (VALUES ('a'), ('b')) r(replica)
      WHERE r.replica = 'a'
        OR CAST('0x' || substr(md5('ha:' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 5 > 0),
    cnt AS (SELECT event_type, h, replica, count(*)::BIGINT AS n
      FROM raw GROUP BY 1, 2, 3),
    e AS (SELECT *, row_number() OVER (PARTITION BY event_type, h
        ORDER BY n DESC, replica ASC) AS rk
      FROM cnt)
    SELECT event_type,
      sum(CASE WHEN rk = 1 AND replica = 'a' THEN 1 ELSE 0 END)::BIGINT AS hours_a,
      sum(CASE WHEN rk = 1 AND replica = 'b' THEN 1 ELSE 0 END)::BIGINT AS hours_b,
      sum(n)::BIGINT AS raw_samples,
      sum(CASE WHEN rk = 1 THEN n ELSE 0 END)::BIGINT AS dedup_samples
    FROM e GROUP BY event_type ORDER BY event_type"""))

  /** Ring-rebalance audit: what MOVES when a fifth destination joins
    * the consistent-hash ring — the elasticity property the ring
    * construction exists for (only ≈1/(n+1) of series relocate, and
    * every relocation lands ON the new node; a modulo router would
    * reshuffle ~4/5 of the fleet). Both assignments reuse the
    * [[graphiteHashRing]] machinery: two broadcast successor lookups,
    * equi-joined per series, rolled up into the (before → after)
    * movement matrix with series and point volume per cell — the
    * capacity-planning number (bytes to stream to the new node) an
    * operator reads before resizing. Exactness/scale: as the parent
    * query — driver-computed ring constants in both plans, series
    * reduced before any lookup, no inequality joins.
    */
  val graphiteRingRebalance: Q = Q("graphite_ring_rebalance", (s, dir) => {
    import s.implicits._
    val before = ringLookup.toDF("pos16", "node_before")
    val after = ringLookupOf(ringEntriesOf(ringNodes :+ "10.1.0.5:2103"))
      .toDF("pos16", "node_after")
    Tables.events(s, dir)
      .withColumn("name", expr(
        "concat('metrics.', event_type, '.m', CAST(user_id % 10 AS STRING))"))
      .groupBy("name").agg(count(lit(1)).as("n_points"))
      .withColumn("pos16", expr("CAST(conv(substr(md5(name), 1, 4), 16, 10) AS BIGINT)"))
      .join(broadcast(before), "pos16")
      .join(broadcast(after), "pos16")
      .groupBy("node_before", "node_after")
      .agg(count(lit(1)).as("n_series"), sum("n_points").as("n_points"),
        max(col("node_before") =!= col("node_after")).as("moved"))
      .orderBy("node_before", "node_after")
  }, Some {
    def ringValues(entries: Seq[(Int, String, Int)]): String = entries
      .map { case (p, n, i) => s"($p, '$n', $i)" }.mkString(",\n      ")
    val beforeVals = ringValues(ringEntries)
    val afterVals = ringValues(ringEntriesOf(ringNodes :+ "10.1.0.5:2103"))
    s"""WITH m AS (
      SELECT 'metrics.' || event_type || '.m' || CAST(user_id % 10 AS VARCHAR) AS name,
        count(*)::BIGINT AS n_points
      FROM events GROUP BY 1),
    p AS (SELECT name, n_points,
        CAST('0x' || substr(md5(name), 1, 4) AS BIGINT) AS pos16
      FROM m),
    ring_b(rpos, node, rep) AS (VALUES
      $beforeVals),
    ring_a(rpos, node, rep) AS (VALUES
      $afterVals),
    ab AS (SELECT p.name, p.n_points, r.node AS node_before
      FROM p CROSS JOIN ring_b r
      QUALIFY row_number() OVER (PARTITION BY p.name
        ORDER BY (r.rpos - p.pos16 + 65536) % 65536, r.node, r.rep) = 1),
    aa AS (SELECT p.name, r.node AS node_after
      FROM p CROSS JOIN ring_a r
      QUALIFY row_number() OVER (PARTITION BY p.name
        ORDER BY (r.rpos - p.pos16 + 65536) % 65536, r.node, r.rep) = 1)
    SELECT node_before, node_after, count(*)::BIGINT AS n_series,
      sum(ab.n_points)::BIGINT AS n_points,
      max(node_before <> node_after) AS moved
    FROM ab JOIN aa USING (name)
    GROUP BY node_before, node_after ORDER BY node_before, node_after"""
  })
}
