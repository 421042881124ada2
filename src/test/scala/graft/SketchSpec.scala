package graft

import graft.ops.Sketch
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Invariant proofs for the deterministic sketch family: Count-Min never
  * underestimates, Bloom never false-negatives, HLL/KMV land inside their
  * published error envelopes, and every estimator degrades gracefully to
  * EXACT when the data is smaller than the sketch.
  */
class SketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  private def sf(dir: String) = s"/root/testdata/$dir"

  override def afterAll(): Unit = spark.stop()

  test("count-min never underestimates and is exact when width >> keys") {
    import spark.implicits._
    val exact = (1 to 500).map(i => (s"key$i", (i % 37 + 1).toLong)).toDF("key", "n")
    // tight sketch: collisions certain at w=32
    val est = Sketch.cmsEstimate(exact, "key", "n", depth = 4, width = 32).collect()
    assert(est.length == 500)
    assert(est.forall(r => r.getLong(2) >= r.getLong(1)), "CMS must overestimate")
    // generous sketch: 500 keys into 4x8192 buckets -> min over 4 rows is
    // almost surely collision-free; allow <=1% inflated keys
    val wide = Sketch.cmsEstimate(exact, "key", "n", depth = 4, width = 8192).collect()
    assert(wide.count(r => r.getLong(2) != r.getLong(1)) <= 5)
  }

  test("bloom filter has zero false negatives; fp rate within 4x of theory") {
    import spark.implicits._
    val set = (1 to 2000).map(i => s"m$i").toDF("k")
    val probes = (1 to 2000).map(i => s"m$i") ++ (1 to 8000).map(i => s"x$i")
    val bits = Sketch.bloomBits(set, "k", m = 1 << 16, kh = 3)
    val probed = Sketch.bloomProbe(probes.toDF("k"), "k", bits, m = 1 << 16, kh = 3)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(probed.size == 10000)
    assert((1 to 2000).forall(i => probed(s"m$i")), "no false negatives, ever")
    val fp = (1 to 8000).count(i => probed(s"x$i"))
    // theory: (1 - e^(-3*2000/65536))^3 ~ 6.7e-4 -> ~5.4 expected over 8000
    assert(fp <= 22, s"false positives $fp beyond 4x theoretical expectation")
  }

  test("hll estimate within 3 sigma at every sf; register grid complete") {
    val li = Tables.t(spark, sf("sf0.01"), "lineitem")
    val regs = Sketch.hllRegisters(li, "l_orderkey", 64)
    assert(regs.count() == 64, "full 0..m-1 register grid")
    val row = Sketch.hllEstimate(regs, 64).collect().head
    val est = row.getLong(1)
    val exact = 14743L
    // sigma = 1.04/sqrt(64) ~ 13%; 3 sigma = 39%
    assert(math.abs(est - exact).toDouble / exact < 0.39,
      s"hll est $est vs exact $exact outside 3 sigma")
  }

  test("spacesaving: heavy hitters exact under forced evictions; candidates bounded") {
    import spark.implicits._
    // Zipf-ish adversarial stream: 2 heavy keys drowned in 400 uniques,
    // capacity 10 << 402 distinct keys -> constant eviction pressure.
    // Interleave so the heavies never get a quiet prefix.
    val rows = (0 until 400).flatMap { i =>
      Seq(s"noise$i") ++ (if (i % 4 == 0) Seq("hot") else Nil) ++
        (if (i % 7 == 0) Seq("warm") else Nil)
    }
    val df = rows.toDF("k").repartition(3)
    // 558 rows: hot=100 (17.9% > 1/10), warm=58 (10.39% — clears the
    // 10% threshold by half a row, the tightest guaranteed margin)
    val n = rows.length.toLong
    val cap = 10
    val cands = Sketch.spaceSavingCandidates(df, "k", cap)
    val nc = cands.count()
    assert(nc <= cap * 3L, s"candidates $nc exceed capacity x partitions")
    assert(nc < 402L, "eviction must actually shrink the key domain")

    val got = Sketch.heavyHitters(df, "k", cap).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = rows.groupBy(identity).view.mapValues(_.length.toLong)
      .filter { case (_, c) => c * cap > n }
      .map { case (k, c) => (k, c, n, c * 10000L / n) }.toSet
    assert(exact.map(_._1) == Set("hot", "warm"), "test data sanity")
    assert(got == exact, s"confirmed heavy hitters must equal the exact " +
      s"threshold filter: got=$got exact=$exact")
  }

  test("spacesaving degrades to exact when the key domain fits the capacity") {
    import spark.implicits._
    val df = (1 to 300).map(i => s"k${i % 6}").toDF("k").repartition(2)
    // 6 distinct keys, capacity 8: no eviction anywhere, every key is a
    // candidate, and each of the 6 uniform keys (50/300 = 16.7% > 1/8)
    // clears the threshold
    val got = Sketch.heavyHitters(df, "k", 8).collect()
    assert(got.length == 6)
    assert(got.forall(r => r.getLong(1) == 50L && r.getLong(2) == 300L))
  }

  test("hdr bucket: exact below 64, monotone, within 1/32 above; guard raises") {
    import spark.implicits._
    val vs = ((0L to 200L) ++ Seq(63L, 64L, 65L, 127L, 128L, 129L, 1023L,
      1024L, 1025L, (1L << 20) - 1, 1L << 20, (1L << 21) - 1, 999999L) ++
      (1 to 60).map(i => (i * 37911L) % ((1L << 21) - 1) + 1)).distinct.sorted
    val got = vs.toDF("cents")
      .select(col("cents"), expr(Sketch.hdrBucketSql("DIV", "cents")).as("lb"))
      .orderBy("cents").collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (v, lb) =>
      assert(lb <= v, s"lb must lower-bound: v=$v lb=$lb")
      if (v < 64) assert(lb == v, s"exact region: v=$v lb=$lb")
      else assert(v - lb < math.max(lb / 32, 1L),
        s"1/32 relative error: v=$v lb=$lb")
    }
    assert(got.map(_._2).sliding(2).forall(p => p.head <= p.last),
      "bucket map must be monotone in v")
    val bad = intercept[Exception] {
      Seq(-1L).toDF("cents")
        .select(expr(Sketch.hdrBucketSql("DIV", "cents"))).collect()
    }
    val msgs = Iterator.iterate[Throwable](bad)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("hdr bucket domain"))
  }

  test("hdr quantiles: merged estimate brackets the exact value at sf0.001") {
    val rows = graft.queries.Sketches.hdrQuantiles.fn(spark, sf("sf0.001")).collect()
    assert(rows.length >= 9, "5 event types x 3 phis expected (>=9 even if sparse)")
    rows.foreach { r =>
      val est = r.getAs[Long]("q_est_c")
      val ex = r.getAs[Long]("q_exact_c")
      assert(est <= ex, s"sketch quantile must lower-bound exact: $r")
      assert(ex - est < math.max(est / 32, 1L),
        s"1/32 error contract violated: est=$est exact=$ex")
    }
  }

  test("kmv is exact below k and inside 3 sigma above it") {
    import spark.implicits._
    val small = (1 to 100).map(i => ("g", i % 9)).toDF("grp", "key")
    val sm = Sketch.kmvEstimate(small, "grp", "key", k = 16).collect().head
    assert(sm.getLong(1) == 9 && sm.getLong(2) == 9, "n<k must be exact")

    val big = (1 to 5000).map(i => ("g", i)).toDF("grp", "key")
    val bg = Sketch.kmvEstimate(big, "grp", "key", k = 64).collect().head
    assert(bg.getLong(1) == 5000)
    // sigma ~ 1/sqrt(k-2) ~ 12.7%; 3 sigma = 38%
    assert(math.abs(bg.getLong(2) - 5000).toDouble / 5000 < 0.38,
      s"kmv est ${bg.getLong(2)} outside 3 sigma of 5000")
  }
}
