package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Source-format breadth: JSON with PERMISSIVE corrupt-record capture
  * (the source-level twin of `ops.Ingest`'s parse modes), FAILFAST
  * rejection, and CSV with an explicit schema.
  */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  test("ORC source round-trips with predicate pushdown to the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_orc").toString
    (1L to 1000L).map(i => (i, s"t${i % 5}", i * 1.5)).toDF("id", "tag", "v")
      .write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).filter(col("id") > 900L && col("tag") === "t3")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,900"),
      s"ORC scan did not receive the pushed predicate:\n$plan")
    assert(back.count() == 20, "ids 901..1000 with id%5==3")
    // schema fidelity through the format
    assert(spark.read.orc(dir).schema.map(_.dataType.simpleString) ==
      Seq("bigint", "string", "double"))
  }

  test("parquet zstd compression round-trips (the 100 TB storage codec)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zstd").toString
    (1L to 500L).map(i => (i, s"payload_$i")).toDF("id", "p")
      .write.mode("overwrite").option("compression", "zstd").parquet(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.getName.contains("zstd")),
      s"expected zstd parquet parts, got: ${files.map(_.getName).toSeq}")
    assert(spark.read.parquet(dir).count() == 500)
  }

  test("binaryFile source: whole files as binary rows (the multimodal ingestion path)") {
    // image/audio ingestion at scale starts here: one row per object with
    // the raw bytes + metadata, then decode via mapPartitions (the
    // multimodal_meta query's stubbed decoder consumes exactly this shape)
    val dir = Files.createTempDirectory("graft_bin").toFile
    val payloadA = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3) // PNG-magic-ish
    val payloadB = Array[Byte](0x49, 0x44, 0x33, 9, 8)                 // ID3-magic-ish
    Files.write(new java.io.File(dir, "a.png").toPath, payloadA)
    Files.write(new java.io.File(dir, "b.mp3").toPath, payloadB)
    val df = spark.read.format("binaryFile").load(dir.getAbsolutePath)
    assert(df.schema.fieldNames.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val rows = df.select("path", "length", "content").collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("a.png", "b.mp3"))
    assert(rows(0)._2 == 7L && rows(0)._3.toSeq == payloadA.toSeq)
    assert(rows(1)._2 == 5L && rows(1)._3.toSeq == payloadB.toSeq)
    // glob + pathGlobFilter: scan only one modality of a mixed bucket
    val pngOnly = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir.getAbsolutePath)
    assert(pngOnly.count() == 1)
  }

  test("JSON source PERMISSIVE: corrupt records captured, good rows parsed") {
    val dir = Files.createTempDirectory("graft_json").toFile
    Files.write(new java.io.File(dir, "d.json").toPath,
      ("""{"metric":"a","value":1.5}""" + "\n" +
       """{"metric":"b","value":not valid json""" + "\n" +
       """{"metric":"c","value":2.5}""").getBytes("UTF-8"))
    // Spark disallows querying only the corrupt-record column from a raw
    // file scan — cache the parsed result first
    val df = spark.read
      .schema("metric STRING, value DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.getAbsolutePath)
      .cache()
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2 && bad.count() == 1)
    assert(bad.select("_corrupt_record").collect().head.getString(0).contains("not valid"))
  }

  test("JSON source FAILFAST: corrupt record aborts the read") {
    val dir = Files.createTempDirectory("graft_json_ff").toFile
    Files.write(new java.io.File(dir, "d.json").toPath,
      "{\"a\":1}\nnot json\n".getBytes("UTF-8"))
    val thrown = intercept[org.apache.spark.SparkException] {
      spark.read.schema("a BIGINT").option("mode", "FAILFAST")
        .json(dir.getAbsolutePath).count()
    }
    assert(thrown.getMessage.contains("MALFORMED_RECORD") ||
      Option(thrown.getCause).exists(_.getMessage.contains("Malformed")))
  }

  test("CSV source with explicit schema and header") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv").toFile
    Files.write(new java.io.File(dir, "d.csv").toPath,
      "name,ts,value\nsys.cpu,1546420308,0.5\nsys.mem,1546420309,1024\n".getBytes("UTF-8"))
    val df = spark.read
      .schema("name STRING, ts BIGINT, value DOUBLE")
      .option("header", "true")
      .csv(dir.getAbsolutePath)
    assert(df.count() == 2)
    assert(df.filter($"name" === "sys.cpu").select("value").as[Double].collect().head == 0.5)
  }
}
