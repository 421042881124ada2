package ingestbench

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

/** Seeded star-schema tables with the layout the query registry reads
  * (`region nation customer supplier part orders lineitem events`, one
  * parquet directory each, plus the fixed-size `documents` and
  * `embeddings`) and value ranges like the reference test data. Row
  * counts follow the scale factor `sf`.
  */
object DataGen {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings")

  /** The total row count of tables a previous run wrote under `dir`. */
  def cached(dir: Path): Option[Long] = {
    val done = dir.resolve("_rows")
    if (Files.exists(done)) Some(new String(Files.readAllBytes(done)).trim.toLong) else None
  }

  /** Writes the tables under `dir` unless a previous run did; returns the
    * total row count.
    */
  def ensure(spark: SparkSession, dir: Path, sf: Double, seed: Long): Long = {
    cached(dir).foreach(n => return n)
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Files.createDirectories(tmp)
    val r = new java.util.SplittableRandom(seed)
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(r.nextInt(days).toLong)
    def pick[T](xs: Array[T]): T = xs(r.nextInt(xs.length))

    val nOrders = n(1.5e6); val nCust = n(1.5e5); val nPart = n(2e5); val nSupp = n(1e4)
    val nUsers = n(1.5e4); val nEvents = n(1e6); val nLines = n(6e6)
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
    var total = 0L

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.resolve(s"$name.parquet").toString)
      total += rows.size
    }
    def st(fs: (String, DataType)*) = StructType(fs.map { case (k, t) => StructField(k, t) })

    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Array("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(-999.99, 9999.99), pick(segments))))
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(-999.99, 9999.99))))
    val adj = Array("small", "large", "red", "blue", "hot", "cold", "old", "new")
    val noun = Array("widget", "bolt", "ring", "rod", "gear", "plate", "anvil", "gizmo")
    val types = Array("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adj)} ${pick(noun)}", s"Brand#${1 + r.nextInt(25)}",
        pick(types), 1 + r.nextInt(50), math.round(9000 + i) / 10.0)))
    val status = Array("O", "F", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick(status),
        money(1000, 500000), day(d1995, 2404), pick(prio))))
    val flags = Array("N", "A", "R"); val lstat = Array("O", "F")
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
      (0 until nLines).map(_ => Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong,
        r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(900, 105000),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(flags), pick(lstat),
        day(d1995.plusDays(1), 2498))))
    val kinds = Array("view", "click", "purchase", "signup", "error")
    val span = 30L * 86400L * 1000000L
    val ts = Array.fill(nEvents)(r.nextLong(span)).sorted
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEvents).map(i => Row(i.toLong, t0.plusNanos(ts(i) * 1000L), r.nextInt(nUsers).toLong,
        pick(kinds), math.round(-math.log(1 - r.nextDouble()) * 50 * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")))

    val words = Array("join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
      "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key", "stream",
      "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")
    val langs = Array("en", "en", "en", "zh", "es", "de", "fr")
    val texts = new Array[String](500)
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until 500).map { i =>
        // one document in twenty is a near-copy of an earlier one
        texts(i) =
          if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Seq.fill(10 + r.nextInt(90))(pick(words)).mkString(" ")
        Row(i.toLong, texts(i), pick(langs), s"src${i % 20}", texts(i).length.toLong)
      })
    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    write("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(j => 0.15 * centers(label)(j) + (r.nextDouble() * 2 - 1))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })

    Files.write(tmp.resolve("_rows"), total.toString.getBytes)
    if (Files.exists(dir)) deleteTree(dir)
    Files.move(tmp, dir)
    total
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x)) finally s.close()
  }
}
