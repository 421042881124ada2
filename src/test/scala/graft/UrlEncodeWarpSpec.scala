package graft

import graft.core.Sensision
import graft.expressions.UrlEncodeWarp
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd url_encode_warp expression: registered both
  * imperatively and via SparkSessionExtensions, evaluated through
  * whole-stage codegen, equal to the Scala encoder on random strings.
  * One test builds its own session without GraftExtensions, so the suite
  * session is a def: the test after it gets a fresh GraftSession.
  */
class UrlEncodeWarpSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def session(): SparkSession = GraftSession("local[2]", 2)

  override def afterAll(): Unit = SparkSession.getDefaultSession.foreach(_.stop())

  test("every native function resolves by SQL name on a fresh GraftSession") {
    // newSession(): the extensions, but none of the functions that queries
    // registered imperatively on the running session
    val spark = session().newSession()
    val names = Seq("url_encode_warp", "graft_dot", "graft_dot_long", "graft_nfc",
      "graft_h60", "image_header_decode", "jpeg_header_decode", "mp4_header_decode",
      "audio_header_decode", "video_header_decode", "image_ahash", "image_dct_hash",
      "audio_fingerprint")
    val missing = names.filterNot(n => spark.catalog.functionExists(n))
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
  }

  test("extension-injected function matches the Scala encoder (codegen path)") {
    val spark = session()
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val inputs = Seq("a b", "x+y", "ключ", "a,b/c~d_e", "100%", "") ++
      (1 to 50).map(_ => rnd.alphanumeric.take(3).mkString + " +,%~" + rnd.nextInt(100))
    val got = inputs.toDF("s").selectExpr("url_encode_warp(s) AS e").as[String].collect()
    assert(got.toSeq == inputs.map(Sensision.urlEncodeWarp))
  }

  test("imperative registration on an extension-less session") {
    // a session's extensions come from its SparkContext's conf (and
    // newSession() inherits them), so the plain session needs its own context
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession).foreach(_.stop())
    val plain = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import plain.implicits._
      def encode() = Seq("my name+1").toDF("s").selectExpr("url_encode_warp(s) AS e")
        .as[String].collect()
      val ex = intercept[AnalysisException](encode())
      assert(ex.getMessage.contains("url_encode_warp"), ex.getMessage)
      UrlEncodeWarp.register(plain)
      assert(encode().head == "my%20name%2B1")
    } finally plain.stop()
  }

  test("null propagates") {
    val spark = session()
    val got = spark.sql("SELECT url_encode_warp(CAST(NULL AS STRING)) AS e").collect()
    assert(got.head.isNullAt(0))
  }

  test("global-window guard: data-sized unpartitioned window rejected, partitioned and post-agg allowed") {
    val spark = session()
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // file-backed so the leaf is a scan (LocalRelation literals count as
    // provably small and are exempt)
    val dir = java.nio.file.Files.createTempDirectory("graft_guard").toString
    (1 to 100).map(i => (i.toLong, i % 5)).toDF("id", "grp")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    try {
      val ex = intercept[Exception] {
        df.withColumn("rn", row_number().over(Window.orderBy("id"))).collect()
      }
      def chain(t: Throwable) =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(chain(ex).exists(_.contains("global-window guard")), s"unexpected: $ex")
      // partitioned window passes
      val ok = df.withColumn("rn", row_number().over(Window.partitionBy("grp").orderBy("id")))
      assert(ok.count() == 100)
      // global window over an Aggregate (the shard-totals prefix-sum
      // second pass) is the sanctioned pattern and passes
      val totals = df.groupBy("grp").agg(sum("id").as("tot"))
        .withColumn("off", sum("tot").over(Window.orderBy("grp")))
      assert(totals.count() == 5)
      // off = guard disarmed
      spark.conf.unset("spark.graft.guard.globalWindow")
      assert(df.withColumn("rn", row_number().over(Window.orderBy("id"))).count() == 100)
    } finally spark.conf.set("spark.graft.guard.globalWindow", "error")
  }

  test("NfcNormalize composes decomposed sequences exactly like DuckDB nfc_normalize") {
    val spark = session()
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    // "e" + COMBINING ACUTE -> "\u00e9"; "A" + COMBINING DIAERESIS -> "\u00c4";
    // already-NFC text must round-trip untouched (fast path)
    // repartition blocks constant-folding into a LocalTableScan, so the
    // projection actually runs (and runs codegen'd)
    val df = Seq("e\u0301 plain A\u0308", "already nfc", "").toDF("t")
      .repartition(1)
      .select(graft.ops.Text.nfc(col("t")).as("n"))
      .withColumn("len", length(col("n")))
    val got = df.collect().map(r => (r.getString(0), r.getInt(1))).sortBy(-_._2)
    assert(got(0) == ("already nfc", 11))
    assert(got(1) == ("\u00e9 plain \u00c4", 9))
    assert(got(2) == ("", 0))
    // codegen path: the projection must sit in a WholeStageCodegen span
    // (AQE prints those as a "*(n)" prefix on the operator)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }
}
