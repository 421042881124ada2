package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Session-reuse hygiene: a composed long-lived session (notebook, REPL,
  * service) runs queries back to back WITHOUT Verify/Bench's between-query
  * persistent-RDD teardown — so no query may leave CacheManager entries
  * behind after its result is materialized. `graph_squares_copurchase`
  * (the one query that persists two shared intermediates) eagerly
  * materializes its 30-row output and unpersists both; this spec pins
  * that discipline so a future persist() without a matching unpersist
  * fails loudly instead of leaking into every downstream query's memory
  * budget.
  */
class SessionHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("graph_squares_copurchase leaves no CacheManager entries behind") {
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty, "precondition: cache clear")
    val out = SparkEntry.queries("graph_squares_copurchase")(spark, sfDir)
    assert(out.count() > 0)
    // the query's persisted intermediates must already be gone — no
    // clearCache, no teardown: this is the composed-session path
    assert(spark.sharedState.cacheManager.isEmpty,
      "graph_squares_copurchase left cached plans pinned in the CacheManager")
  }

  test("the surviving blocks are only the GC-managed 30-row checkpoint") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SparkEntry.queries("graph_squares_copurchase")(spark, sfDir)
    assert(out.count() <= 30)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // exactly the result's own localCheckpoint may remain (ContextCleaner
    // reclaims it on GC); the eg/ac intermediates must not
    assert(leaked.size <= 1,
      s"expected at most the result checkpoint to survive, got RDDs $leaked")
  }

  // Every session is built by GraftSession, so the tests run the plans
  // Bench and Verify run. Each file allowed its own builder, and why:
  private val ownBuilder = Map(
    "src/main/scala/graft/GraftSession.scala" -> "the factory itself",
    "src/test/scala/graft/QueriesSmokeSpec.scala" ->
      "every query must also resolve on a session built without GraftExtensions",
    "src/test/scala/graft/UrlEncodeWarpSpec.scala" ->
      "checks the imperative register on a session built without GraftExtensions")

  test("sessions come from GraftSession; test log level comes from log4j2.properties") {
    def sources(root: String): Seq[(String, String)] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".scala"))
        .map(f => f -> new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8")).toList
      finally walk.close()
    }
    // split so this file does not match itself
    val builder = "SparkSession.builder" + "()"
    val setLevel = "setLog" + "Level"
    val main = sources("src/main/scala")
    val tests = sources("src/test/scala")
    assert(main.nonEmpty && tests.nonEmpty, "run from the project root")
    val building = (main ++ tests).collect { case (f, src) if src.contains(builder) => f }.toSet
    assert(building -- ownBuilder.keySet == Set.empty,
      "build the session with GraftSession(master, partitions), or allowlist the file with a reason")
    assert(ownBuilder.keySet -- building == Set.empty, "stale allowlist entries")
    val leveled = tests.collect { case (f, src) if src.contains(setLevel) => f }
    assert(leveled.isEmpty,
      s"set test log levels in src/test/resources/log4j2.properties, not in $leveled")
  }

  test("the streaming transports never go back to the JDK's URL connection") {
    val jdkClient = "HttpURL" + "Connection"
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/streaming"))
    val users =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8").contains(jdkClient))
        .map(_.toString).toList
      finally walk.close()
    assert(users.isEmpty,
      s"$users use $jdkClient: before each streamed POST on a cached socket it probes the socket " +
        "with a blocking read under a 1 ms timeout, about 1.1 ms of every Warp push; use HttpWarpTransport")
  }
}
