package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The geohash encoder against the public reference vectors (the
  * Wikipedia/Niemeyer examples) and the spec's structural properties.
  */
class GeoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  private def geohash6(latE6: Long, lonE6: Long): String = {
    val bits = graft.ops.Geo.geohashBitsSql("DIV", latE6.toString, lonE6.toString)
    spark.sql(s"SELECT ${graft.ops.Geo.geohash6FromBitsSql(s"($bits)")} AS gh")
      .collect()(0).getString(0)
  }

  test("public reference vectors: Jutland and Curitiba") {
    // Wikipedia's canonical example: (57.64911, 10.40744) -> u4pruy...
    assert(geohash6(57649110L, 10407440L) == "u4pruy")
    // Curitiba city-center example: (-25.382708, -49.265506) -> 6gkzwg...
    assert(geohash6(-25382708L, -49265506L) == "6gkzwg")
  }

  test("hemisphere corners land in the spec's quadrant leaders") {
    // the first character encodes (lon-half, lat-half): z is the NE
    // extreme, 0 the SW extreme — the lon-leading interleave property
    assert(geohash6(89999999L, 179999999L).startsWith("z"))
    assert(geohash6(-90000000L, -180000000L) == "000000")
    // equator/prime-meridian point sits at the 's' cell corner
    assert(geohash6(0L, 0L).startsWith("s"))
  }

  test("prefix truncation is the cell pyramid: nearby points share prefixes") {
    // two points ~100 m apart share a long prefix; 1 degree apart only a short one
    val a = geohash6(57649110L, 10407440L)
    val b = geohash6(57649810L, 10408140L)
    assert(a.take(5) == b.take(5), s"$a vs $b")
    val far = geohash6(58649110L, 11407440L)
    assert(a.take(1) == far.take(1) && a.take(4) != far.take(4))
  }

  test("alphabet is the canonical base-32 without a/i/l/o") {
    assert(graft.ops.Geo.Alphabet == "0123456789bcdefghjkmnpqrstuvwxyz")
    assert(!"ailo".exists(graft.ops.Geo.Alphabet.contains(_: Char)))
  }

  // --- fixed-point CORDIC: grade against REAL trig, not just parity ---

  /** (cos, sin) at scale 2^29 for a micro-degree angle, through the
    * same staged SQL the queries use.
    */
  /** The angle arrives as a LocalRelation ATTRIBUTE, never a literal: a
    * foldable input makes CollapseProject treat every stage expression
    * as "cheap", inline the whole 36-stage chain, and walk the
    * exponentially substituted tree — the optimizer spins for minutes
    * (observed: 13+ min on one literal input). Query inputs are always
    * scan/range attributes, so only tests can hit this.
    */
  private def cordic(microDeg: Long): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = graft.ops.Geo.applyStages(
        Seq(microDeg).toDF("a"),
        graft.ops.Geo.cordicStages("q", "a"))
      .select(col("qc"), col("qs")).collect()(0)
    (df.getLong(0), df.getLong(1))
  }

  test("CORDIC cos/sin track StrictMath within 1e-6 across the full ±180° range") {
    import org.apache.spark.sql.functions.col
    val S = (1L << graft.ops.Geo.CordicScaleBits).toDouble
    // includes both quadrant-reduction branches and the convergence edge
    val degs = Seq(0.0, 30.0, 45.0, 60.0, 89.9, 90.0, 120.0, 179.9,
      -30.0, -90.0, -120.0, -179.9, 57.64911, -25.382708)
    import spark.implicits._
    val in = degs.map(d => Math.round(d * 1e6)).toDF("a")
    val out = graft.ops.Geo.applyStages(in, graft.ops.Geo.cordicStages("q", "a"))
      .select(col("a"), col("qc"), col("qs")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    degs.foreach { d =>
      val (c, s) = out(Math.round(d * 1e6))
      val rad = StrictMath.toRadians(d)
      assert(Math.abs(c / S - StrictMath.cos(rad)) < 1e-6, s"cos($d): $c")
      assert(Math.abs(s / S - StrictMath.sin(rad)) < 1e-6, s"sin($d): $s")
    }
  }

  test("CORDIC exact anchors: cos(60°)=1/2 and sin(90°)=1 to fixed-point noise") {
    val S = 1L << graft.ops.Geo.CordicScaleBits
    val (c60, _) = cordic(60000000L)
    assert(Math.abs(c60 - S / 2) < 600, s"cos60=$c60 vs ${S / 2}")
    val (_, s90) = cordic(90000000L)
    assert(Math.abs(s90 - S) < 600, s"sin90=$s90 vs $S")
  }

  test("ray casting grades against hand-laid ground truth: square, L-shape, star") {
    import org.apache.spark.sql.functions.{col, expr, sum}
    import spark.implicits._
    // (shape, ring vertices ccw) — closed by wrap-around
    val shapes: Map[String, Seq[(Long, Long)]] = Map(
      "square" -> Seq((0L, 0L), (10L, 0L), (10L, 10L), (0L, 10L)),
      // L-shape: the notch (7,7) is OUTSIDE
      "lshape" -> Seq((0L, 0L), (10L, 0L), (10L, 5L), (5L, 5L), (5L, 10L), (0L, 10L)),
      // the query's star fixture at scale 1 around the origin
      "star" -> Seq((100L, 0L), (35L, 20L), (50L, 87L), (0L, 40L), (-50L, 87L),
        (-35L, 20L), (-100L, 0L), (-35L, -20L), (-50L, -87L), (0L, -40L),
        (50L, -87L), (35L, -20L)))
    val truth = Seq(
      ("square", 5L, 5L, true), ("square", 15L, 5L, false),
      ("square", 5L, -1L, false), ("square", 9L, 9L, true),
      ("lshape", 2L, 2L, true), ("lshape", 2L, 9L, true),
      ("lshape", 7L, 7L, false), ("lshape", 7L, 3L, true),
      ("star", 0L, 0L, true), ("star", 90L, 1L, true),
      ("star", 60L, 60L, false), ("star", 0L, 39L, true),
      ("star", 0L, 60L, false), ("star", -40L, 10L, true),
      ("star", 0L, -39L, true), ("star", 70L, -70L, false))
    val edges = shapes.toSeq.flatMap { case (name, ring) =>
      ring.indices.map { i =>
        val (ax, ay) = ring(i); val (bx, by) = ring((i + 1) % ring.length)
        (name, ax, ay, bx, by)
      }
    }.toDF("shape", "x1", "y1", "x2", "y2")
    val pts = truth.map { case (s, x, y, in) => (s, x, y, in) }
      .toDF("shape", "px", "py", "want")
    val got = pts.join(edges, "shape")
      .groupBy("shape", "px", "py", "want")
      .agg(sum(expr(graft.ops.Geo.rayCrossSql(
        "px", "py", "x1", "y1", "x2", "y2"))).as("nc"))
      .withColumn("inside", expr("nc % 2 = 1"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Boolean]("inside") == r.getAs[Boolean]("want"),
        s"${r.getString(0)} (${r.getLong(1)},${r.getLong(2)}): " +
          s"got ${r.getAs[Boolean]("inside")}")
    }
    assert(got.length == truth.length)
  }

  test("CORDIC vectoring (atan2) tracks StrictMath across all quadrants and axes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // micro-degree-scale magnitudes (the query's input class); covers
    // all four quadrants, both axes, and the origin's defined-zero
    val pairs: Seq[(Long, Long)] = Seq(
      (10000000L, 10000000L), (10000000L, -10000000L),
      (-10000000L, -10000000L), (-10000000L, 10000000L),
      (10000000L, 0L), (-10000000L, 0L), (0L, 10000000L), (0L, -10000000L),
      (3000000L, 40000000L), (-123456789L, 98765432L), (1000000L, -179000000L),
      (0L, 0L))
    val in = pairs.toDF("y", "x")
    val out = graft.ops.Geo.applyStages(in,
        graft.ops.Geo.cordicAtan2Stages("q", "y", "x"))
      .select(col("y"), col("x"), col("qaz")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (y, x) =>
      val want =
        if (x == 0 && y == 0) 0.0
        else StrictMath.toDegrees(StrictMath.atan2(y.toDouble, x.toDouble))
      val got = out((y, x)) / 1e9
      assert(Math.abs(got - want) < 1e-5, s"atan2($y,$x): got $got want $want")
    }
  }

  test("integer great-circle meters track StrictMath haversine on reference pairs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // (lat1, lon1, lat2, lon2) micro-degrees
    val pairs: Seq[(Long, Long, Long, Long)] = Seq(
      // Jutland -> Curitiba (the geohash reference cities): ~10,100 km
      (57649110L, 10407440L, -25382708L, -49265506L),
      // short hop (~111 km meridian), quarter-circle, antipodal-ish
      (0L, 0L, 1000000L, 0L),
      (0L, 0L, 0L, 90000000L),
      (45000000L, 0L, -45000000L, 179000000L),
      // same point: zero
      (10000000L, 20000000L, 10000000L, 20000000L))
    val in = pairs.toDF("lat1", "lon1", "lat2", "lon2")
    val g = graft.ops.Geo
    val uv = g.applyStages(g.applyStages(in,
        g.unitVectorStages("a", "lat1", "lon1")),
        g.unitVectorStages("b", "lat2", "lon2"))
      .selectExpr("lat1", "lon1", "lat2", "lon2",
        "(aux - bux) * (aux - bux) + (auy - buy) * (auy - buy) + " +
          "(auz - buz) * (auz - buz) AS c2")
    val out = g.applyStages(uv, g.greatCircleMetersStages("g", "c2", "DIV"))
      .select(col("lat1"), col("lon1"), col("lat2"), col("lon2"), col("gm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getLong(4))
      .toMap
    def hav(p: (Long, Long, Long, Long)): Double = {
      val (la1, lo1, la2, lo2) =
        (StrictMath.toRadians(p._1 / 1e6), StrictMath.toRadians(p._2 / 1e6),
          StrictMath.toRadians(p._3 / 1e6), StrictMath.toRadians(p._4 / 1e6))
      val s1 = StrictMath.sin((la2 - la1) / 2)
      val s2 = StrictMath.sin((lo2 - lo1) / 2)
      val a = s1 * s1 + StrictMath.cos(la1) * StrictMath.cos(la2) * s2 * s2
      2 * 6371000.0 * StrictMath.asin(StrictMath.sqrt(a))
    }
    pairs.foreach { p =>
      val want = hav(p)
      val got = out(p).toDouble
      assert(Math.abs(got - want) <= Math.max(100.0, want * 0.001),
        s"$p: got $got m want $want m")
    }
  }

  test("unit vectors have unit norm at scale 2^29 (great-circle precondition)") {
    import org.apache.spark.sql.functions.{col, expr}
    val S = (1L << graft.ops.Geo.CordicScaleBits).toDouble
    val pts = spark.range(40).selectExpr("id",
      "CAST(conv(substr(md5(concat('lat', CAST(id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 180000000 - 90000000 AS lat",
      "CAST(conv(substr(md5(concat('lon', CAST(id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 360000000 - 180000000 AS lon")
    val uv = graft.ops.Geo.applyStages(pts,
        graft.ops.Geo.unitVectorStages("p", "lat", "lon"))
      .select(col("pux"), col("puy"), col("puz")).collect()
    uv.foreach { r =>
      val n2 = (r.getLong(0) * r.getLong(0) + r.getLong(1) * r.getLong(1)
        + r.getLong(2) * r.getLong(2)) / (S * S)
      assert(Math.abs(n2 - 1.0) < 1e-5, s"norm²=$n2 for $r")
    }
  }
}
