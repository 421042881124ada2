package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generic `graft.ops` library surface on synthetic inputs (not the
  * testdata tables) — proving the operators are reusable over any
  * relation with the right columns, as a library user would call them.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("Graph.connectedComponents labels chains, rings, and isolates-with-self-loops") {
    import spark.implicits._
    // component {1,2,3,4} as a chain, ring {10,11,12}, self-loop {20}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 20L)).toDF("src", "dst")
    val got = graft.ops.Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("Graph.kcore peels pendants transitively and empties past the degeneracy") {
    import spark.implicits._
    // triangle {1,2,3} with a pendant chain 3-4-5: the 2-core is exactly
    // the triangle (4 dies first, which then kills 5 — transitive peel),
    // and there is no 3-core
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toDF("lo", "hi")
    // smallCutoff = 0 forces the distributed peel loop; the fast path is
    // asserted right after against the same expectations
    val core2 = graft.ops.Graph.kcore(edges, 2, smallCutoff = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core2 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val core2fast = graft.ops.Graph.kcore(edges, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core2fast == core2, "fast path must match the distributed peel")
    assert(graft.ops.Graph.kcore(edges, 3).count() == 0)
    // k=1 on a clean edge list keeps everything
    assert(graft.ops.Graph.kcore(edges, 1).count() == 5)
  }

  test("Graph.trussPeel keeps cohesive cores, peels transitively, reports in-subgraph support") {
    import spark.implicits._
    // K4 {1,2,3,4}: every edge in 2 triangles — a true 4-truss.
    // Lone triangle {5,6,7}: support 1 everywhere — dies at minSupport=2.
    // Diamond {8,9,10}+{9,10,11}: only (9,10) has support 2, but its
    // triangles need the support-1 edges — synchronous round 2 kills it.
    // Pendant (11,12): support 0 — dies even at minSupport=1.
    val edges = (Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)) ++
      Seq((5, 6), (5, 7), (6, 7)) ++
      Seq((8, 9), (8, 10), (9, 10), (9, 11), (10, 11)) ++
      Seq((11, 12))).map { case (a, b) => (a.toLong, b.toLong) }
      .toDF("src", "dst")
    val r2 = graft.ops.Graph.trussPeel(edges, minSupport = 2, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r2 == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)),
      s"two peel rounds must leave exactly the K4: $r2")
    // one round only: (9,10) survives on its pre-peel support but its
    // recomputed IN-SUBGRAPH support is 0 — the left-join zero path
    val r1 = graft.ops.Graph.trussPeel(edges, minSupport = 2, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r1.contains((9L, 10L, 0L)), s"synchronous survivor must report support 0: $r1")
    assert(r1.size == 7)
    // minSupport=1 drops only the triangle-free pendant
    val r1s1 = graft.ops.Graph.trussPeel(edges, minSupport = 1, rounds = 1)
    assert(r1s1.count() == 14 && r1s1.filter(col("src") === 11 && col("dst") === 12).count() == 0)
  }

  test("Graph.connectedComponentsStar agrees with propagation on chains, rings, and self-loops") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 20L)).toDF("src", "dst")
    val got = graft.ops.Graph.connectedComponentsStar(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("Graph.connectedComponentsStar converges in O(log) rounds on a high-diameter chain") {
    import spark.implicits._
    // a 512-long chain has diameter 511: min-label propagation would need
    // ~511 shuffle rounds (its maxIters guard would throw), star
    // contraction must land well inside 12 alternating rounds
    val chain = (0L until 511L).map(i => (i, i + 1)).toDF("src", "dst")
    // smallCutoff = 0: force the distributed loop — the round-count
    // claim is about star contraction, not the union-find fast path
    val got = graft.ops.Graph.connectedComponentsStar(chain, maxIters = 12, smallCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 512 && got.values.forall(_ == 0L), s"bad labels: ${got.take(5)}")
  }

  test("Graph.connectedComponentsStar matches brute-force union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 20
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val want = parent.keys.map(v => v -> find(v)).toMap
      // loop forced (smallCutoff = 0) AND fast path (default): both must
      // match the reference union-find
      val got = graft.ops.Graph.connectedComponentsStar(edges.toDF("src", "dst"),
          smallCutoff = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: $got vs $want")
      val gotFast = graft.ops.Graph.connectedComponentsStar(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotFast == want, s"trial $trial fast path: $gotFast vs $want")
    }
  }

  test("Graph.msfEdges: loop == Kruskal fast path == Prim reference on random weighted graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      // random multigraph incl. self-loops and parallel edges; weights
      // collide on purpose — the (w, lo, hi) tie-break must decide
      val edges = Seq.fill(60 + trial * 20)(
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong, (rnd.nextInt(6) + 1).toLong))
      // reference: Kruskal over the canonical reduced edge set in the
      // identical (w, lo, hi) order, independent union-find code
      val canon = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
        .groupBy(e => (e._1, e._2)).map { case ((lo, hi), es) => (es.map(_._3).min, lo, hi) }
        .toSeq.sorted
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val want = canon.flatMap { case (w, lo, hi) =>
        val (rl, rh) = (find(lo), find(hi))
        if (rl != rh) { parent(rl) = rh; Some((lo, hi, w)) } else None
      }.toSet
      val df = edges.toDF("src", "dst", "w")
      val gotFast = graft.ops.Graph.msfEdges(df)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotFast == want, s"trial $trial fast path: $gotFast vs $want")
      val gotLoop = graft.ops.Graph.msfEdges(df, smallCutoff = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotLoop == want, s"trial $trial distributed loop: $gotLoop vs $want")
      // forest weight sanity: edge count = n - #components
      val verts = canon.flatMap(e => Seq(e._2, e._3)).distinct.size
      val comps = {
        val p2 = scala.collection.mutable.Map[Long, Long]()
        def f2(x: Long): Long = { val p = p2.getOrElseUpdate(x, x)
          if (p == x) x else { val r = f2(p); p2(x) = r; r } }
        canon.foreach { case (_, lo, hi) => val (a, b) = (f2(lo), f2(hi))
          if (a != b) p2(a) = b }
        p2.keys.map(f2).toSet.size
      }
      assert(want.size == verts - comps, "MSF edge count = |V| - #components")
    }
  }

  test("Graph.ssspFrom: loop == fast path == reference Dijkstra, zero weights included") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      // weights include 0 on purpose (identical-item-set edges exist in
      // the similarity binding); disconnected vertices stay absent
      val edges = Seq.fill(50 + trial * 15)(
        (rnd.nextInt(22).toLong, rnd.nextInt(22).toLong, rnd.nextInt(5).toLong))
        .filter(e => e._1 != e._2)
      val seeds = Seq(0L, 1L)
      // reference: plain Dijkstra-free relaxation to fixpoint
      val want = {
        val dist = scala.collection.mutable.Map[Long, Long](seeds.map(_ -> 0L): _*)
        val und = edges.flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
        var changed = true
        while (changed) {
          changed = false
          und.foreach { case (a, b, w) =>
            dist.get(a).foreach { da =>
              if (dist.get(b).forall(_ > da + w)) { dist(b) = da + w; changed = true }
            }
          }
        }
        dist.toMap
      }
      val df = edges.toDF("src", "dst", "w")
      val sdf = seeds.toDF("v")
      val gotFast = graft.ops.Graph.ssspFrom(df, sdf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotFast == want, s"trial $trial fast path: $gotFast vs $want")
      val gotLoop = graft.ops.Graph.ssspFrom(df, sdf, smallCutoff = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotLoop == want, s"trial $trial distributed loop: $gotLoop vs $want")
    }
  }

  test("Graph.msfEdges: empty and disconnected inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(graft.ops.Graph.msfEdges(empty).collect().isEmpty)
    assert(graft.ops.Graph.msfEdges(empty, smallCutoff = 0).collect().isEmpty)
    // two disjoint triangles -> 2 edges each, the two lightest per triangle
    val tri = Seq((0L, 1L, 1L), (1L, 2L, 2L), (0L, 2L, 3L),
      (10L, 11L, 5L), (11L, 12L, 4L), (10L, 12L, 6L)).toDF("src", "dst", "w")
    val want = Set((0L, 1L, 1L), (1L, 2L, 2L), (11L, 12L, 4L), (10L, 11L, 5L))
    assert(graft.ops.Graph.msfEdges(tri).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
    assert(graft.ops.Graph.msfEdges(tri, smallCutoff = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
  }

  test("Sample.ppsSystematic: hits telescope to n; heavy rows carry multiplicity; partitioning-stable") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, if (i == 7) 500L else 5L)).toDF("id", "w")
      .repartition(5)
    val got = graft.ops.Sample.ppsSystematic(df, "id", "w", n = 20)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_hits")).toMap
    assert(got.values.sum == 20L, s"hits must telescope to n: $got")
    // T = 995, grid step 49.75; the w=500 row spans >= 10 thresholds
    assert(got(7L) >= 10L, s"certainty-stratum multiplicity: ${got(7L)}")
    val got2 = graft.ops.Sample.ppsSystematic(df.repartition(13), "id", "w", n = 20)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_hits")).toMap
    assert(got2 == got, "selection must not depend on partitioning")
  }

  test("Sample.stratifiedTopN takes exactly min(n, stratum size) rows, stable across partitionings") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val a = graft.ops.Sample.stratifiedTopN(df, "src", "id", 10)
      .select("src", "rn", "id").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val b = graft.ops.Sample.stratifiedTopN(df.repartition(7), "src", "id", 10)
      .select("src", "rn", "id").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "selection must be a pure function of ids, not partitioning")
    assert(a.groupBy(_._1).forall(_._2.size == 10))
    // a stratum smaller than n yields the whole stratum
    val tiny = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "src")
    val got = graft.ops.Sample.stratifiedTopN(tiny, "src", "id", 5)
    assert(got.count() == 3)
  }

  test("Sample.budgetCap admits in hash order and overshoots by at most one row per stratum") {
    import spark.implicits._
    val df = (0L until 60L).map(i => (i, s"s${i % 2}", 10L + (i % 7))).toDF("id", "src", "w")
    val budget = 100L
    val kept = graft.ops.Sample.budgetCap(df, "src", "id", "w", budget)
      .select("src", "id", "w", "cum_before").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    kept.groupBy(_._1).foreach { case (src, rows) =>
      val total = rows.map(_._3).sum
      val maxW = rows.map(_._3).max
      assert(total < budget + maxW, s"$src overshot by more than one row: $total")
      // every admitted row's exclusive prefix is under budget
      assert(rows.forall(_._4 < budget))
      // the cut is tight: the stratum had more mass than the budget
      assert(total >= math.min(budget, rows.map(_._3).sum), s"$src")
    }
    // determinism across partitionings
    val again = graft.ops.Sample.budgetCap(df.repartition(5), "src", "id", "w", budget)
      .select("src", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == kept.map(r => (r._1, r._2)).toSet)
  }

  test("Ingest facade: one relation shape across graphite/influx/opentsdb/prom-proto") {
    import spark.implicits._
    // graphite: good line + bad line → PERMISSIVE keeps the error row
    val g = graft.ops.Ingest.graphite(
      Seq("cpu.load;dc=east 0.5 1700000000", "garbage").toDS(), parseHierarchy = false, nowMs = 7L)
    assert(g.columns.toSeq ==
      Seq("ts_us", "name", "labels", "vtype", "v_long", "v_double", "v_bool", "v_str", "error"))
    assert(g.count() == 2 && g.filter("error IS NOT NULL").count() == 1)
    assert(g.filter("name = 'cpu.load'").count() == 1)
    // DROPMALFORMED: the bad line vanishes
    assert(graft.ops.Ingest.graphite(Seq("good 1", "garbage").toDS(),
      mode = "DROPMALFORMED").count() == 1)
    // FAILFAST: the bad line throws
    val e = intercept[org.apache.spark.SparkException] {
      graft.ops.Ingest.graphite(Seq("garbage").toDS(), mode = "FAILFAST").count()
    }
    assert(e.getMessage.contains("malformed") || e.getCause != null)
    // influx: two fields fan out to two rows
    val i = graft.ops.Ingest.influx(
      Seq("m,host=a used=1i,free=2.5 1700000000000000000").toDS())
    assert(i.count() == 2 && i.filter("vtype = 'long'").count() == 1)
    // opentsdb: array body
    val o = graft.ops.Ingest.opentsdb(
      Seq("""[{"metric":"m1","timestamp":1700000000,"value":4,"tags":{"h":"a"}}]""").toDS())
    assert(o.count() == 1 && o.head.getAs[String]("name") == "m1")
    // prom proto: encoded counter family through content negotiation
    import graft.parsers.PromProtoParser
    val fam = PromProtoParser.MetricFamily("reqs", PromProtoParser.COUNTER,
      Seq(PromProtoParser.Metric(Map("c" -> "1"), Some(2.0), None, None, Some(1700000000000L))))
    val wire = PromProtoParser.encodeDelimited(Seq(fam))
    val p = graft.ops.Ingest.promExposition(
      Seq((wire, Option(PromProtoParser.ProtoContentType))).toDS())
    assert(p.count() == 1 && p.head.getAs[String]("name") == "reqs")
  }

  test("Ingest rejects an unknown parse mode as the plan is built, before any job runs") {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setJobGroup("graft-mode-check", "unknown parse mode")
    val e = try intercept[IllegalArgumentException] {
      graft.ops.Ingest.graphite(Seq("garbage").toDS(), mode = "FAILFST")
    } finally sc.clearJobGroup()
    assert(e.getMessage.contains("FAILFST") &&
      Seq("PERMISSIVE", "FAILFAST", "DROPMALFORMED").forall(e.getMessage.contains))
    intercept[IllegalArgumentException](
      graft.ops.Ingest.promRemoteWrite(Seq(Array[Byte](1)).toDS(), mode = "drop"))
    assert(sc.statusTracker.getJobIdsForGroup("graft-mode-check").isEmpty)
    // mode names stay case-insensitive
    assert(graft.ops.Ingest.graphite(Seq("garbage").toDS(), mode = "dropmalformed").count() == 0)
  }

  test("Graph.pagerank matches a sequential fixed-point reference, any partitioning") {
    import spark.implicits._
    val edges = Seq( // small weighted digraph incl. a dangling sink (d) and a self-loop
      ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("c", "d", 1L), ("b", "b", 1L))
    val scale = 1000000000L
    // sequential reference with identical integer math
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val base = scale / verts.size
    val wout = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = verts.map(_ -> base).toMap
    for (_ <- 1 to 10) {
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => r(s) * w / wout(s) }.sum
      }
      r = verts.map(v => v -> (1500L * base + 8500L * in.getOrElse(v, 0L)) / 10000L).toMap
    }
    for (parts <- Seq(1, 7)) {
      val got = graft.ops.Graph.pagerank(edges.toDF("src", "dst", "w").repartition(parts))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(got == r, s"parts=$parts: $got vs $r")
    }
    // smallCutoff = 0 forces the distributed loop — both paths must hit
    // the identical fixed point
    val gotLoop = graft.ops.Graph.pagerank(edges.toDF("src", "dst", "w"),
        smallCutoff = 0)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(gotLoop == r, s"distributed loop: $gotLoop vs $r")
    // rank mass sanity: never exceeds the initial mass; the teleport
    // floor (15% of base per vertex per round) survives even though the
    // dangling sink evaporates most link mass
    assert(r.values.sum <= scale && r.values.sum > 1500L * (scale / verts.size) / 10000L * verts.size)
  }

  test("Text.winnowFingerprints: shared-run guarantee, short-doc empty, partition-stable") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta" // 6 words = win+k-1 guarantee length
    val docs = Seq(
      (1L, s"one two three $run four five six"),
      (2L, s"seven eight $run nine ten eleven twelve"),
      (3L, "totally different words with no overlap at all here"),
      (4L, "too short")).toDF("doc_id", "text")
    val fps = graft.ops.Text.winnowFingerprints(
        docs.select(col("doc_id"), graft.ops.Text.words(col("text")).as("w")), "w")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    // two docs sharing a >= win+k-1 word run MUST share a fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 6-word run produced no common fingerprint")
    // unrelated doc shares nothing with either
    assert((fps(3L) & (fps(1L) | fps(2L))).isEmpty)
    // a doc shorter than k+win-1 words has no full window -> empty sketch
    assert(fps(4L).isEmpty)
    // pure function of the text: partitioning cannot change the sketch
    val again = graft.ops.Text.winnowFingerprints(
        docs.repartition(3).select(col("doc_id"), graft.ops.Text.words(col("text")).as("w")), "w")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    assert(again == fps)
  }

  test("Graph.connectedComponents returns an empty relation on an empty edge list") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ops.Graph.connectedComponents(empty).count() == 0)
  }

  test("Lsh.candidatePairs rejects band configs exceeding the signature width") {
    import spark.implicits._
    val sigs = Seq((1L, (1 to 16).map(_.toLong))).toDF("id", "sig")
    val err = intercept[IllegalArgumentException] {
      graft.ops.Lsh.candidatePairs(sigs, "id", bands = 8, rowsPerBand = 4)
    }
    assert(err.getMessage.contains("exceeds"))
  }

  test("Ann.dot self-registers on an extension-less session with no prior registration") {
    // drop any registration left by other tests so this exercises the
    // standalone path a library user hits first
    spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(
        graft.expressions.DotProductDouble.fnName))
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    val got = df.select(graft.ops.Ann.dot(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(got == 11.0)
  }

  test("Graph.connectedComponents matches brute-force union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 20
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      // reference: union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val want = parent.keys.map(v => v -> find(v)).toMap
      // min-root canonicalization: find() compresses to the min id
      // because unions always point the larger root at the smaller
      val got = graft.ops.Graph.connectedComponents(edges.toDF("src", "dst"),
          smallCutoff = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: $got vs $want")
      val gotFast = graft.ops.Graph.connectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotFast == want, s"trial $trial fast path: $gotFast vs $want")
    }
  }

  test("Pack.assignBins matches the sequential reference across shard/bin configs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for ((shardSize, binTokens) <- Seq((7L, 64L), (100L, 512L), (1L, 10L))) {
      val rows = (0L until 150L).map(i => (i * 2 + 1, 1L + rnd.nextInt(40).toLong))
      val got = graft.ops.Pack.assignBins(rows.toDF("id", "toks").repartition(4),
          "id", "toks", binTokens, shardSize)
        .select("id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var cum = 0L
      val want = rows.sortBy(_._1).map { case (id, t) =>
        val bin = cum / binTokens; cum += t; id -> bin }.toMap
      assert(got == want, s"config ($shardSize, $binTokens)")
    }
  }

  test("Pack.assignBins is bit-identical to a single global cumulative sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // ids straddle several shards at shardSize=16
    val rows = (0L until 200L).map(i => (i * 3, 1L + rnd.nextInt(97).toLong))
    val df = rows.toDF("id", "toks").repartition(4)
    val got = graft.ops.Pack.assignBins(df, "id", "toks", binTokens = 100L, shardSize = 16L)
      .select("id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: sequential scan on the driver
    var cum = 0L
    val want = rows.sortBy(_._1).map { case (id, t) =>
      val bin = cum / 100L; cum += t; id -> bin
    }.toMap
    assert(got == want)
  }

  test("Lsh pipeline pairs near-duplicates and skips unrelated docs on synthetic text") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),                                   // near-dup of 1
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))).toDF("id", "text")
    val sigs = graft.ops.Lsh.signatures(
      graft.ops.Lsh.shingles(docs, "id", "text"), "id")
    assert(sigs.count() == 3)
    val pairs = graft.ops.Lsh.candidatePairs(sigs, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: $pairs")
  }

  test("Text primitives: tokens, fingerprint, quality, hash bucket on synthetic docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "the  quick brown dog"),
      (3L, "quick brown THE dog")).toDF("id", "text")
    val feat = graft.ops.Text.qualityBp(docs, "text")
      .withColumn("ws", graft.ops.Text.wsTokens(col("text")))
      .withColumn("bpe", graft.ops.Text.bpeTokens(col("text")))
      .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
      .withColumn("h", graft.ops.Text.hashBucket(col("id"), "s"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(feat(1L).getAs[Long]("ws") == 9 && feat(1L).getAs[Long]("bpe") == 9)
    // fingerprint is word-set canonical: docs 2 and 3 collide, 1 differs
    assert(feat(2L).getAs[String]("fp") == feat(3L).getAs[String]("fp"))
    assert(feat(1L).getAs[String]("fp") != feat(2L).getAs[String]("fp"))
    // hash bucket in range and deterministic
    val h = feat(1L).getAs[Long]("h")
    assert(h >= 0 && h < 100)
    assert(feat.values.forall(r => r.getAs[Long]("quality_bp") > 0))
  }

  test("Ann.cosineTopK ranks an obvious nearest neighbor first") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.0)),   // nearest to 1
      (3L, Seq(0.0, 1.0, 0.0)),
      (4L, Seq(-1.0, 0.0, 0.0))).toDF("id", "vec")
    val got = graft.ops.Ann.cosineTopK(corpus, corpus.filter(col("id") === 1), k = 2)
      .orderBy("rnk").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(got.head.getDouble(3) > 0.99)
  }

  test("Sketch.kmvSetOps: under-k sketches make every set estimate exact") {
    import spark.implicits._
    // |A| = 30, |B| = 25, |A∩B| = 15 (keys 15..29), |A∪B| = 40 — all < k
    val a = (0 until 30).map(i => s"key$i").toDF("k0")
    val b = (15 until 40).map(i => s"key$i").toDF("k0")
    val r = graft.ops.Sketch.kmvSetOps(a, b, "k0", k = 64).collect().head
    assert(r.getAs[Long]("est_a") == 30L && r.getAs[Long]("est_b") == 25L)
    assert(r.getAs[Long]("est_union") == 40L, s"union: $r")
    assert(r.getAs[Long]("k_used") == 40L && r.getAs[Long]("matches") == 15L)
    assert(r.getAs[Long]("est_inter") == 15L, s"inter: $r")
    assert(r.getAs[Long]("jacc_bp") == 15L * 10000 / 40, s"jacc: $r")
  }

  test("Graph.bfsHops: min hops on a lollipop graph, frontier stops at maxDepth") {
    import spark.implicits._
    // triangle {0,1,2} with a tail 2-3-4-5; seed at 0; 9 disconnected
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L),
      (9L, 9L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("v")
    val got = graft.ops.Graph.bfsHops(edges, seeds, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hop(5) = 4 > maxDepth → absent; 9 unreachable → absent
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // the distributed frontier loop (smallCutoff = 0) must agree with
    // the fast path above
    val gotLoop = graft.ops.Graph.bfsHops(edges, seeds, maxDepth = 3, smallCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLoop == got, s"loop vs fast path: $gotLoop vs $got")
    // a seed that is also reachable at distance > 0 stays hop 0
    val two = graft.ops.Graph.bfsHops(edges, Seq(0L, 4L).toDF("v"), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(0L -> 0L, 4L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  test("Graph.labelPropagation: two cliques with a bridge settle to two communities") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // cliques {1..4} and {10..13} joined by one weak bridge 4-10
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L))).toDF("src", "dst")
    val got = graft.ops.Graph.labelPropagation(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotLoop = graft.ops.Graph.labelPropagation(edges, iters = 4, smallCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLoop == got, s"loop vs fast path: $gotLoop vs $got")
    val left = Seq(1L, 2L, 3L, 4L).map(got)
    val right = Seq(10L, 11L, 12L, 13L).map(got)
    assert(left.distinct.size == 1, s"left clique split: $got")
    assert(right.distinct.size == 1, s"right clique split: $got")
    assert(left.head != right.head, s"bridge merged the cliques: $got")
  }

  test("Graph.hits: star hub out-scores its leaves; authorities mirror on reversal") {
    import spark.implicits._
    // hub 0 points at leaves 1..4; one leaf also points back at 0
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 0L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.hits(edges, iters = 6)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val gotLoop = graft.ops.Graph.hits(edges, iters = 6, smallCutoff = 0)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == gotLoop, s"fast path vs distributed loop: $got vs $gotLoop")
    val scale = 1000000L
    // 0 is the max hub (normalized to scale); leaves 2..4 have hub 0
    assert(got(0L)._2 == scale, s"hub: $got")
    assert(Seq(2L, 3L, 4L).forall(got(_)._2 == 0L), s"leaf hubs: $got")
    // authorities: the leaves are pointed at by the max hub; 0's authority
    // comes only from leaf 1's hub score, which quarters every round
    // (norm by h(0) = 4·scale): 10⁶ → 250000 → … → 976 entering round 6
    assert(got(1L)._1 == scale, s"auth: $got")
    assert(got(0L)._1 == 976L, s"back-edge auth: $got")
    assert(got(1L)._2 == 244L, s"leaf-1 hub: $got")
  }

  test("Graph fast paths: mixed Int/Long key widths match the distributed loops") {
    import spark.implicits._
    // src typed INT, dst typed LONG: the distributed joins coerce, but a
    // driver HashMap on boxed values would never match Integer vs Long —
    // the fast-path gate must fall through to the distributed loop and
    // produce identical results (the r4-ADVICE silent-wrong-result bug)
    val mixed = Seq((0, 1L), (1, 2L), (2, 0L), (2, 3L)).toDF("src", "dst")
      .withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val prFast = graft.ops.Graph.pagerank(mixed, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prLoop = graft.ops.Graph.pagerank(mixed, iters = 4, smallCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prFast == prLoop && prFast.nonEmpty, s"pagerank mixed: $prFast vs $prLoop")
    val hFast = graft.ops.Graph.hits(mixed, iters = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val hLoop = graft.ops.Graph.hits(mixed, iters = 4, smallCutoff = 0)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(hFast == hLoop && hFast.nonEmpty, s"hits mixed: $hFast vs $hLoop")
    // Int seeds against Long edges: an Any-keyed frontier would freeze at
    // hop 0 (seeds only); the gate must route to the distributed loop
    val ledges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val iseeds = Seq(0).toDF("v")
    val bFast = graft.ops.Graph.bfsHops(ledges, iseeds, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bLoop = graft.ops.Graph.bfsHops(ledges, iseeds, maxDepth = 3, smallCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bFast == bLoop, s"bfs mixed-seed: $bFast vs $bLoop")
    assert(bFast == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L), s"bfs: $bFast")
  }

  test("chunk + temperatureAlloc invariants hold on seeded-random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(404)
    // --- chunk: 150 random docs per (chunk, stride) config, ONE pass each
    for ((ck, st) <- Seq((10, 8), (16, 16), (7, 3))) {
      val docs = (1 to 150).map { id =>
        (id.toLong, (0 until rnd.nextInt(60)).map(j => s"w$j"))
      }
      val lens = docs.map { case (id, w) => id -> w.length.toLong }.toMap
      val got = graft.ops.Text.chunk(docs.toDF("id", "w"), "id", "w", ck, st)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      docs.foreach { case (id, _) =>
        val n = lens(id)
        val cs = got(id).sortBy(_._2)
        val wantChunks = 1 + (if (n > ck) (n - ck + st - 1) / st else 0L)
        assert(cs.length == wantChunks, s"cfg($ck,$st) id=$id n=$n: ${cs.length}")
        cs.foreach { case (_, cid, start, nt) =>
          assert(start == cid * st, s"start arithmetic: $cs")
          assert(nt == math.min(ck.toLong, math.max(0L, n - start)),
            s"cfg($ck,$st) id=$id n=$n chunk $cid: nt=$nt")
        }
      }
    }
    // --- temperatureAlloc: random strata sets; alloc sums exactly to B
    // and every alloc is within 1 of its real-valued quota B*w/T
    for (_ <- 1 to 3) {
      val strata = (1 to (5 + rnd.nextInt(20))).map(i =>
        s"s$i" -> (1L + rnd.nextInt(5000)))
      val rows = strata.flatMap { case (s, n) => (1L to n).map(j => (s, j)) }
      val budget = rnd.nextInt(10000).toLong
      val a = graft.ops.Sample.temperatureAlloc(rows.toDF("src", "i"), "src", budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(a.map(_._4).sum == budget, s"sum != $budget: ${a.toSeq}")
      val tw = a.map(_._3).sum
      a.foreach { case (s, n, w, alloc) =>
        assert(w * w <= n && (w + 1) * (w + 1) > n, s"isqrt($n) = $w")
        // |alloc*T - B*w| < T  <=>  |alloc - B*w/T| < 1
        assert(math.abs(alloc * tw - budget * w) < tw,
          s"$s: alloc=$alloc quota=${budget * w}/$tw")
      }
    }
  }

  test("Sample.temperatureAlloc: exact isqrt weights, allocation sums exactly to budget") {
    import spark.implicits._
    // strata sized around perfect-square boundaries: 1, 4, 8, 9, 10000
    val rows = Seq("a" -> 1, "b" -> 4, "c" -> 8, "d" -> 9, "e" -> 10000)
      .flatMap { case (s, n) => (1 to n).map(i => (s, i)) }.toDF("src", "i")
    for (budget <- Seq(0L, 1L, 7L, 100L, 1000L)) {
      val a = graft.ops.Sample.temperatureAlloc(rows, "src", budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(a.map(_._4).sum == budget, s"alloc must sum to $budget: ${a.toSeq}")
      assert(a.forall(_._4 >= 0), s"negative alloc: ${a.toSeq}")
    }
    val w = graft.ops.Sample.temperatureAlloc(rows, "src", 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(w == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 3L, "e" -> 100L),
      s"isqrt weights: $w")
    // temperature flattens: the 10000-row stratum gets ~93% of the mass
    // proportionally but only 100/108 ~ 92 of the sqrt-weighted budget;
    // the 1-row stratum gets ~0 proportionally but >= 1/108 here — just
    // assert the relative lift direction
    val alloc = graft.ops.Sample.temperatureAlloc(rows, "src", 108L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(alloc("e") == 100L && alloc("a") == 1L, s"sqrt mixing: $alloc")
  }

  test("Text.chunk: exact-coverage boundaries, short tails, singleton docs") {
    import spark.implicits._
    def toks(n: Int) = (1 to n).map(i => s"t$i")
    val docs = Seq(
      (1L, toks(10)),  // n == chunk: exactly 1 chunk, no dangling tail
      (2L, toks(11)),  // one past: 2 chunks, tail has 3 tokens (starts 0, 8)
      (3L, toks(26)),  // 1 + ceil(16/8) = 3 chunks
      (4L, toks(1))    // singleton: 1 chunk of 1
    ).toDF("id", "w")
    val got = graft.ops.Text.chunk(docs, "id", "w", chunkTokens = 10, stride = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._3, c._4)).toSeq).toMap
    assert(got(1L) == Seq((0L, 10L)), s"exact coverage: ${got(1L)}")
    assert(got(2L) == Seq((0L, 10L), (8L, 3L)), s"short tail: ${got(2L)}")
    assert(got(3L) == Seq((0L, 10L), (8L, 10L), (16L, 10L)), s"3 chunks: ${got(3L)}")
    assert(got(4L) == Seq((0L, 1L)), s"singleton: ${got(4L)}")
    // every token of every doc is covered by at least one chunk
    val covered = graft.ops.Text.chunk(docs, "id", "w", 10, 8)
      .select(col("id"), explode(expr(
        "sequence(start_tok, start_tok + n_tokens - 1)")).as("p"))
      .distinct().groupBy("id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(covered == Map(1L -> 10L, 2L -> 11L, 3L -> 26L, 4L -> 1L), s"coverage: $covered")
    intercept[IllegalArgumentException] {
      graft.ops.Text.chunk(docs, "id", "w", chunkTokens = 10, stride = 11)
    }
  }

  test("Text.chunkSentences: boundary grammar, greedy packing, over-budget sentences") {
    import spark.implicits._
    val docs = Seq(
      // 3 sentences of 3/4/2 tokens; budget 6 packs [3], [4+2]
      (1L, "a b c. d e f g! h i?"),
      // CJK terminators split; budget 6 packs [2+4], [3]
      (2L, "一 二。 三 四 五 六！ 七 八 九？"),
      // a 9-token sentence blows the budget alone: own over-budget chunk
      (3L, "s t. t1 t2 t3 t4 t5 t6 t7 t8 t9. u v."),
      // no terminators at all: one sentence, one chunk
      (4L, "w x y z"),
      // terminator at end of text (no trailing space) does not split
      (5L, "p q."),
      (6L, "   ")  // whitespace-only: no sentences, no rows
    ).toDF("id", "txt")
    val got = graft.ops.Text.chunkSentences(docs, "id", "txt", maxTokens = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._3, c._4)).toSeq).toMap
    // (n_sentences, n_tokens) per chunk
    assert(got(1L) == Seq((1L, 3L), (2L, 6L)), s"greedy close: ${got(1L)}")
    assert(got(2L) == Seq((2L, 6L), (1L, 3L)), s"CJK grammar: ${got(2L)}")
    assert(got(3L) == Seq((1L, 2L), (1L, 9L), (1L, 2L)), s"over-budget: ${got(3L)}")
    assert(got(4L) == Seq((1L, 4L)), s"no terminators: ${got(4L)}")
    assert(got(5L) == Seq((1L, 2L)), s"trailing dot: ${got(5L)}")
    assert(!got.contains(6L), s"whitespace doc dropped: $got")
    // chunk text integrity: md5 of chunk 2 of doc 1 is the joined sentences
    val m = graft.ops.Text.chunkSentences(docs, "id", "txt", maxTokens = 6)
      .filter(col("id") === 1L && col("chunk_idx") === 2L)
      .select("chunk_md5").collect().head.getString(0)
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest("d e f g! h i?".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(m == want, s"chunk text fidelity: $m")
    intercept[IllegalArgumentException] {
      graft.ops.Text.chunkSentences(docs, "id", "txt", maxTokens = 0)
    }
  }

  test("Graph.linkScores: distance-2 pairs only, exact RA arithmetic, adjacents excluded") {
    import spark.implicits._
    // path 1-2-3-4 plus edge 1-3: candidate non-edges are (1,4) via m=3
    // and (2,4) via m=3; (1,3) is an EDGE so the m=2 wedge must not
    // resurface it; (2,3) adjacent too. deg: 1→2, 2→2, 3→3, 4→1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val got = graft.ops.Graph.linkScores(edges, scale = 1000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    // (1,4): m=3 → cn=1, ra=1000/3=333; (2,4): m=3 → 333
    assert(got == Map((1L, 4L) -> ((1L, 333L)), (2L, 4L) -> ((1L, 333L))),
      s"linkScores: $got")
    // triangle 5-6-7 (complete): no candidates from that component
    val tri = Seq((5L, 6L), (6L, 7L), (5L, 7L)).toDF("src", "dst")
    assert(graft.ops.Graph.linkScores(tri).count() == 0,
      "complete graph has no distance-2 pairs")
    // reversed/duplicate edges normalize: same result
    val rev = Seq((2L, 1L), (3L, 2L), (4L, 3L), (3L, 1L), (1L, 2L)).toDF("src", "dst")
    val got2 = graft.ops.Graph.linkScores(rev, scale = 1000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got2 == got, s"orientation/dup normalization: $got2")
  }

  test("Sample.shardedRank == row_number per stratum, any shard size") {
    import spark.implicits._
    // sparse non-contiguous ids, uneven strata, shard boundaries mid-stratum
    val rows = Seq((1L, "a"), (3L, "b"), (4L, "a"), (7L, "a"), (9L, "b"),
      (12L, "c"), (15L, "a"), (16L, "b")).toDF("id", "k")
    val want = rows
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")) - 1)
      .collect().map(r => (r.getLong(0), r.getInt(2).toLong)).toMap
    for (shard <- Seq(1L, 2L, 4L, 4096L)) {
      val got = graft.ops.Sample.shardedRank(rows, "k", "id", shardSize = shard)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == want, s"shardedRank(shardSize=$shard): $got vs $want")
    }
    intercept[IllegalArgumentException] {
      graft.ops.Sample.shardedRank(rows, "k", "id", shardSize = 0)
    }
  }

  test("Graph.linkScoresWeighted: Murata-Moriyasu wRA, parallel-edge collapse") {
    import spark.implicits._
    // path 1-2-3-4 weighted: w(1,2)=3, w(2,3)=2, w(3,4)=5.
    // strength: 1→3, 2→5, 3→7, 4→5.
    // (1,3) via m=2: cn=1, wcn=w(1,2)+w(2,3)=5, wra=1000*5/5=1000
    // (2,4) via m=3: cn=1, wcn=w(2,3)+w(3,4)=7, wra=1000*7/7=1000
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 2L), (3L, 4L, 5L)).toDF("src", "dst", "w")
    val got = graft.ops.Graph.linkScoresWeighted(edges, scale = 1000L)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map((1L, 3L) -> ((1L, 5L, 1000L)), (2L, 4L) -> ((1L, 7L, 1000L))),
      s"linkScoresWeighted: $got")
    // parallel + reversed edges collapse by SUMMING w: (2,1,1)+(1,2,2) ≡ w=3
    val dup = Seq((2L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 2L), (4L, 3L, 5L))
      .toDF("src", "dst", "w")
    val got2 = graft.ops.Graph.linkScoresWeighted(dup, scale = 1000L)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got2 == got, s"parallel-edge collapse: $got2")
    // adjacent pairs excluded even when they also share a middle
    val sq = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    assert(graft.ops.Graph.linkScoresWeighted(sq).count() == 0,
      "triangle: no non-adjacent distance-2 pairs")
  }

  test("Graph.personalizedPagerank: fast path == distributed loop; seed semantics") {
    import spark.implicits._
    // chain 0->1->2->3 plus a back-edge; restart on seed {0}
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 0L, 2L))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("v")
    val fast = graft.ops.Graph.personalizedPagerank(edges, seeds, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = graft.ops.Graph.personalizedPagerank(edges, seeds, iters = 8,
        smallCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop && fast.size == 4, s"fast vs loop: $fast vs $loop")
    // proximity: the seed outranks everything; rank decays along the chain
    assert(fast(0L) > fast(1L) && fast(1L) > fast(2L) && fast(2L) > fast(3L),
      s"seed-proximity ordering violated: $fast")
    // seeds outside the graph are ignored; NO surviving seed -> all zero
    val ghost = graft.ops.Graph.personalizedPagerank(edges, Seq(99L).toDF("v"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ghost.values.forall(_ == 0L), s"ghost seeds must yield zero mass: $ghost")
    // mixed Int seed vs Long edges: gate must fall through to the loop
    val mixedSeed = Seq(0).toDF("v")
    val mFast = graft.ops.Graph.personalizedPagerank(edges, mixedSeed, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mFast == fast, s"mixed-width seed diverged: $mFast vs $fast")
  }

  test("Graph.pagerank: empty edge list and IntegerType weights on the fast path") {
    import spark.implicits._
    // empty graph: both paths return an empty frame (the fast path used
    // to divide scale by |V| = 0)
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(graft.ops.Graph.pagerank(none, iters = 3).count() == 0L)
    assert(graft.ops.Graph.pagerank(none, iters = 3, smallCutoff = 0).count() == 0L)
    // IntegerType weight column under the documented integral contract:
    // the op casts to long before the fast-path collect — no
    // ClassCastException, identical to the distributed result
    val wi = Seq((0L, 1L, 2), (1L, 0L, 1), (0L, 2L, 1)).toDF("src", "dst", "w")
    val fast = graft.ops.Graph.pagerank(wi, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = graft.ops.Graph.pagerank(wi, iters = 4, smallCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop && fast.nonEmpty, s"int-weight: $fast vs $loop")
  }

  test("Ann.lazyGreedyCoreset == naive greedy in identical Long arithmetic, fewer full passes") {
    import spark.implicits._
    // deterministic mixed-sign vectors; candidates = every 7th id
    val vecs: Seq[(Long, Array[Long])] = (1L to 40L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 17) % 23) - 11))
    }
    val v = vecs.map { case (id, q) => (id, q.toSeq) }.toDF("vec_id", "q")
    val cands = vecs.filter(_._1 % 7 == 0)
    val k = 3
    val (picks, evals) = graft.ops.Ann.lazyGreedyCoreset(v, cands, k)
    // naive greedy, driver-side, same Long arithmetic
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => Math.multiplyExact(x, y) }
        .foldLeft(0L)(Math.addExact)
    var best = vecs.map(x => x._1 -> 0L).toMap
    var chosen = Set.empty[Long]
    var naive = Seq.empty[(Long, Long, Long)]
    for (r <- 1 to k) {
      val (cid, obj) = cands.filterNot(c => chosen(c._1)).map { case (cid, cq) =>
        (cid, vecs.map { case (id, q) => Math.max(best(id), dot(q, cq)) }.sum)
      }.minBy { case (id, o) => (-o, id) }
      chosen += cid
      naive = naive :+ ((r.toLong, cid, obj))
      val cq = cands.find(_._1 == cid).get._2
      best = vecs.map { case (id, q) => id -> Math.max(best(id), dot(q, cq)) }.toMap
    }
    assert(picks == naive, s"lazy $picks vs naive $naive")
    // lazy never exceeds naive's evaluation count (and the remaining-pool
    // bound means it is structurally below k * |cands|)
    assert(evals >= cands.size && evals < k * cands.size, s"evals=$evals")
  }

  test("Graph.betweennessSeeds matches hand-computed Brandes on path and diamond (both paths)") {
    import spark.implicits._
    // cutoff > 0 = counted-small driver fast path; 0 = distributed loop —
    // both must reproduce the hand-computed values exactly
    for (cutoff <- Seq(200000L, 0L)) {
      def run(edges: Seq[(Long, Long)], seed: Long): Map[Long, (Long, Long, Long)] =
        graft.ops.Graph.betweennessSeeds(
            edges.toDF("src", "dst"), Seq(seed).toDF("v"), maxDepth = 4,
            smallCutoff = cutoff)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
      // path 1-2-3-4 from 1: σ=1 everywhere, δ(2)=2, δ(3)=1, δ(4)=0
      val path = run(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 1L)
      assert(path == Map(
        2L -> ((1L, 1L, 2000000L)),
        3L -> ((2L, 1L, 1000000L)),
        4L -> ((3L, 1L, 0L))), s"path (cutoff=$cutoff): $path")
      // diamond 1-2,1-3,2-4,3-4 from 1: σ(4)=2, δ splits 1/2 per branch
      val dia = run(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)), 1L)
      assert(dia == Map(
        2L -> ((1L, 1L, 500000L)),
        3L -> ((1L, 1L, 500000L)),
        4L -> ((2L, 2L, 0L))), s"diamond (cutoff=$cutoff): $dia")
      // truncation: path 1-2-3-4-5-6 at maxDepth 4 stops δ at the horizon
      val trunc = graft.ops.Graph.betweennessSeeds(
          Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst"),
          Seq(1L).toDF("v"), maxDepth = 4, smallCutoff = cutoff)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(trunc == Map(2L -> 3000000L, 3L -> 2000000L, 4L -> 1000000L, 5L -> 0L),
        s"truncated path (cutoff=$cutoff): $trunc")
    }
    // mixed key widths must fall through to the distributed loop (the
    // boxed-equality silent-wrong-result gate)
    val mixed = graft.ops.Graph.betweennessSeeds(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        Seq(1).toDF("v"), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(mixed == Map(2L -> 1L, 3L -> 1L), s"mixed-width seeds: $mixed")
  }

  test("lubyMis: fast path == distributed loop, invariants hold, trace is geometric") {
    import spark.implicits._
    // a path graph (the slow case for local-minima MIS) plus a clique
    // and an isolated edge — exercises multi-round convergence
    val path = (1L to 12L).sliding(2).map(p => (p(0), p(1))).toSeq
    val clique = Seq((21L, 22L), (21L, 23L), (22L, 23L))
    val edges = (path ++ clique :+ ((31L, 32L))).toDF("src", "dst")
    val (tFast, iFast, mFast) = graft.ops.Graph.lubyMis(edges)
    val (tDist, iDist, mDist) = graft.ops.Graph.lubyMis(edges, smallCutoff = 0)
    assert(tFast == tDist, s"trace diverged: $tFast vs $tDist")
    assert(iFast && mFast && iDist && mDist)
    // geometric decay: active_after strictly decreases to zero
    val actives = tFast.map(_._4)
    assert(actives.last == 0L && actives == actives.sorted.reverse)
    // the MIS size: path of 12 yields >= 4, clique exactly 1, edge 1
    assert(tFast.last._3 >= 6L, s"MIS too small: ${tFast.last._3}")
  }

  test("greedyMatching: fast path == distributed loop, disjoint and maximal") {
    import spark.implicits._
    // a path (multi-round), a star (exactly one match possible), a
    // triangle (one match), an isolated edge
    val path = (1L to 10L).sliding(2).map(p => (p(0), p(1))).toSeq
    val star = Seq((20L, 21L), (20L, 22L), (20L, 23L))
    val tri = Seq((31L, 32L), (32L, 33L), (31L, 33L))
    val edges = (path ++ star ++ tri :+ ((41L, 42L))).toDF("src", "dst")
    val (tFast, dFast, mFast) = graft.ops.Graph.greedyMatching(edges)
    val (tDist, dDist, mDist) = graft.ops.Graph.greedyMatching(edges, smallCutoff = 0)
    assert(tFast == tDist, s"trace diverged: $tFast vs $tDist")
    assert(dFast && mFast && dDist && mDist)
    // active edges drain to zero, strictly decreasing
    val act = tFast.map(_._4)
    assert(act.last == 0L && act == act.sorted.reverse)
    // size bounds: path-10 matches >= 3, star exactly 1, triangle 1, edge 1
    assert(tFast.last._3 >= 6L && tFast.last._3 <= 8L,
      s"matching size out of bounds: ${tFast.last._3}")
  }

  test("greedyColoring: fast path == distributed loop; 2 colors finish a path, triangle needs 3") {
    import spark.implicits._
    val path = (1L to 9L).sliding(2).map(p => (p(0), p(1))).toSeq
    val tri = Seq((21L, 22L), (22L, 23L), (21L, 23L))
    val edges = (path ++ tri).toDF("src", "dst")
    val (tFast, iFast) = graft.ops.Graph.greedyColoring(edges, colors = 3)
    val (tDist, iDist) = graft.ops.Graph.greedyColoring(edges, colors = 3, smallCutoff = 0)
    assert(tFast == tDist, s"trace diverged: $tFast vs $tDist")
    assert(iFast && iDist)
    // under these FIXED md5 priorities the path finishes in 2 waves
    // (iterated MIS can need 3 on a path under adversarial orders — this
    // pins the deterministic outcome, not a general theorem) and the
    // triangle forces a third class: exactly 1 vertex remains after 2
    assert(tFast(1)._3 == 1L, s"after 2 colors: $tFast")
    assert(tFast(2)._3 == 0L, s"after 3 colors: $tFast")
    // classes are disjoint and cover: sizes sum to the vertex count
    assert(tFast.map(_._2).sum == 12L, s"coverage: $tFast")
  }

  test("Fit.ridgeSolveLong recovers a planted linear model within quantization error") {
    // y = 40000 + 250·x1 − 30·x2 + deterministic md5 noise in [−500, 500)
    def h(i: Int): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"ridge$i".getBytes("UTF-8")).take(7).map("%02x".format(_)).mkString, 16)
    val pts = (0 until 4000).map { i =>
      val x1 = h(i) % 50 + 1
      val x2 = (h(i + 100000) % 11) * 100
      val y = 40000L + 250L * x1 - 30L * x2 + (h(i + 200000) % 1000 - 500)
      (x1, x2, y)
    }
    val n = pts.size.toLong
    val (b1, b2, b0, det) = graft.ops.Fit.ridgeSolveLong(
      n, pts.map(_._1).sum, pts.map(_._2).sum, pts.map(_._3).sum,
      pts.map(p => p._1 * p._1).sum, pts.map(p => p._1 * p._2).sum,
      pts.map(p => p._2 * p._2).sum, pts.map(p => p._1 * p._3).sum,
      pts.map(p => p._2 * p._3).sum)
    assert(det > 0, s"degenerate design: det=$det")
    // slopes in milli-units: 250 -> 250000, -30 -> -30000; noise sd ~290
    // over 4000 points keeps the OLS slope within ~1% of truth, and the
    // ridge/quantization bias is far below that
    assert(math.abs(b1 - 250000L) < 5000L, s"b1_milli=$b1")
    assert(math.abs(b2 - (-30000L)) < 1500L, s"b2_milli=$b2")
    assert(math.abs(b0 - 40000000L) < 2000000L, s"b0_milli=$b0")
  }

  test("Layout.hilbertStages: known base case, bijective on the grid, curve is continuous") {
    import spark.implicits._
    import graft.ops.{Geo, Layout}
    // bits=1 canonical quadrant order: (0,0)->0 (0,1)->1 (1,1)->2 (1,0)->3
    val b1 = Geo.applyStages(
      Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L)).toDF("x", "y"),
      Layout.hilbertStages("h_", "x", "y", 1))
      .select("x", "y", "h_d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(b1 == Map((0L, 0L) -> 0L, (0L, 1L) -> 1L, (1L, 1L) -> 2L, (1L, 0L) -> 3L), s"$b1")
    // bits=4: bijective over the full 16x16 grid AND continuous —
    // consecutive d are manhattan-adjacent cells (the property Morton
    // lacks, and the reason equal d-ranges tile compact blobs)
    val grid = (for { x <- 0 until 16; y <- 0 until 16 } yield (x.toLong, y.toLong)).toDF("x", "y")
    val cells = Geo.applyStages(grid, Layout.hilbertStages("h_", "x", "y", 4))
      .select("x", "y", "h_d").collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(cells.map(_._1).toSeq == (0L until 256L).toSeq, "not a bijection onto [0,256)")
    cells.sliding(2).foreach { case Array((_, x0, y0), (d, x1, y1)) =>
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1L,
        s"discontinuity at d=$d: ($x0,$y0)->($x1,$y1)")
    }
  }

  test("Lsh.wideSlotSql: 61-bit range, slot-distinct transforms, SQL == Long mirror") {
    import spark.implicits._
    def longMirror(i: Int, h: Long): Long = {
      val a = ((1103515245L * (i + 1) + 12345L) % (1L << 30)) | 1L
      val b = ((69069L * (i + 7) + 1013904223L) % (1L << 30)) | 1L
      val c = (2654435761L * (i + 1)) % (1L << 30)
      (a * (h % 1073741824L) + b * (h / 1073741824L) + c) % 2305843009213693951L
    }
    val hs = Seq(0L, 1L, 1073741823L, 1073741824L, (1L << 60) - 1,
      987654321012345L, 59604644783353249L)
    val df = hs.toDF("h")
    (0 until 16).foreach { i =>
      val got = df.selectExpr(s"h", graft.ops.Lsh.wideSlotSql(i, "h", "DIV") + " AS w")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      hs.foreach { h =>
        val w = got(h)
        assert(w >= 0L && w < 2305843009213693951L, s"slot $i h=$h out of range: $w")
        assert(w == longMirror(i, h), s"slot $i h=$h: SQL $w != mirror ${longMirror(i, h)}")
      }
    }
    // distinct slots give distinct values for a generic input (the
    // banding needs 16 different hash functions, not 16 copies)
    val vals = (0 until 16).map(i => longMirror(i, 987654321012345L))
    assert(vals.distinct.size == 16, s"slot transforms collide: $vals")
  }

  test("Fit.ldaSolveLong separates planted classes; SQL stages match the Long mirror") {
    import spark.implicits._
    def h(i: Int): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"lda$i".getBytes("UTF-8")).take(7).map("%02x".format(_)).mkString, 16)
    // class 0 centered at (20, 300), class 1 at (35, 700): separable
    // along both axes with noise sd ~ 6 / ~110
    val pts = (0 until 3000).map { i =>
      val y = (h(i) % 2).toInt
      val x1 = (if (y == 0) 20 else 35) + (h(i + 50000) % 13 - 6)
      val x2 = (if (y == 0) 300 else 700) + (h(i + 90000) % 221 - 110)
      (y, x1, x2)
    }
    def mom(cls: Int) = {
      val c = pts.filter(_._1 == cls)
      (c.size.toLong, c.map(_._2).sum, c.map(_._3).sum,
        c.map(p => p._2 * p._2).sum, c.map(p => p._2 * p._3).sum,
        c.map(p => p._3 * p._3).sum)
    }
    val (m0, m1) = (mom(0), mom(1))
    val (w1, w2, thr, flip, det) = graft.ops.Fit.ldaSolveLong(
      m0._1, m0._2, m0._3, m0._4, m0._5, m0._6,
      m1._1, m1._2, m1._3, m1._4, m1._5, m1._6)
    assert(det > 0, s"degenerate pooled scatter: $det")
    // the discriminant must classify the planted data near-perfectly
    val correct = pts.count { case (y, x1, x2) =>
      val s = w1 * x1 + w2 * x2
      val p = if (flip) s < thr else s > thr
      p == (y == 1)
    }
    assert(correct >= 2900, s"planted separation broke: $correct/3000 (w=$w1,$w2 thr=$thr)")
    // SQL stage fold == the Long mirror, field for field
    val df = Seq((m0._1, m0._2, m0._3, m0._4, m0._5, m0._6,
      m1._1, m1._2, m1._3, m1._4, m1._5, m1._6))
      .toDF("n0", "s1_0", "s2_0", "s11_0", "s12_0", "s22_0",
        "n1", "s1_1", "s2_1", "s11_1", "s12_1", "s22_1")
    val r = graft.ops.Fit.ldaSolve(df)
      .selectExpr("w1_milli", "w2_milli", "thr", "flip", "det_q").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)) ==
      (w1, w2, thr, flip, det), s"SQL vs Long mirror: $r vs ($w1,$w2,$thr,$flip,$det)")
  }

  test("Fit.ridgeSolve (SQL stages) == ridgeSolveLong on the same moments") {
    import spark.implicits._
    // realistic moments: derive them from the same planted generator
    def h(i: Int): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"ridge$i".getBytes("UTF-8")).take(7).map("%02x".format(_)).mkString, 16)
    val pts = (0 until 1000).map { i =>
      val x1 = h(i) % 50 + 1
      val x2 = (h(i + 100000) % 11) * 100
      (x1, x2, 40000L + 250L * x1 - 30L * x2 + (h(i + 200000) % 1000 - 500))
    }
    val ms = (pts.size.toLong, pts.map(_._1).sum, pts.map(_._2).sum,
      pts.map(_._3).sum, pts.map(p => p._1 * p._1).sum,
      pts.map(p => p._1 * p._2).sum, pts.map(p => p._2 * p._2).sum,
      pts.map(p => p._1 * p._3).sum, pts.map(p => p._2 * p._3).sum)
    val moments = Seq(("g", ms._1, ms._2, ms._3, ms._4, ms._5, ms._6, ms._7, ms._8, ms._9))
      .toDF("k", "n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y")
    val row = graft.ops.Fit.ridgeSolve(moments)
      .selectExpr("b1_milli", "b2_milli", "b0_milli", "det_q").collect()(0)
    val (b1, b2, b0, det) = (graft.ops.Fit.ridgeSolveLong _).tupled(ms)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      (b1, b2, b0, det), s"SQL stages vs Long mirror diverged: $row vs ($b1,$b2,$b0,$det)")
  }

  test("capCensus: exact pair-mass accounting on planted bucket sizes, incl. the empty relation") {
    import spark.implicits._
    // buckets: key 1 -> 3 rows, key 2 -> 1 row, key 3 -> 5 rows (over cap 4)
    val df = (Seq.fill(3)(1) ++ Seq(2) ++ Seq.fill(5)(3)).zipWithIndex
      .map { case (k, i) => (k.toLong, i.toLong) }.toDF("k", "id")
    val r = graft.ops.Scale.capCensus(df, Seq("k"), 4L, "planted").collect()(0)
    assert(r.getString(0) == "planted" && r.getLong(1) == 4L)
    assert(r.getLong(2) == 3L, "buckets_total")
    assert(r.getLong(3) == 1L, "buckets_dropped: only the 5-row bucket exceeds cap 4")
    assert(r.getLong(4) == 3L + 0L + 10L, "pair_mass_total = C(3,2)+C(1,2)+C(5,2)")
    assert(r.getLong(5) == 3L, "pair_mass_admitted = the within-cap buckets only")
    // composite key: same rows keyed (k, id % 2) — all buckets within cap
    val c = graft.ops.Scale.capCensus(
      df.withColumn("b", col("id") % 2), Seq("k", "b"), 4L, "composite").collect()(0)
    assert(c.getLong(3) == 0L && c.getLong(4) == c.getLong(5),
      s"composite-key split must bring every bucket under the cap: $c")
    // empty relation: one all-zero row, never an empty result
    val e = graft.ops.Scale.capCensus(
      df.filter(col("k") < 0), Seq("k"), 4L, "empty").collect()(0)
    assert(e.getLong(2) == 0L && e.getLong(4) == 0L && e.getLong(5) == 0L)
  }

  test("Sample.feistelPosSql: bijective, epoch-keyed, SQL == Long mirror") {
    import spark.implicits._
    val H = graft.ops.Sample.FeistelHalf
    // driver twin in IDENTICAL Long arithmetic (DIV ≡ Java / on the
    // all-positive intermediates; ^ is XOR in both)
    def mirror(id: Long, epoch: Long): Long = {
      def f(r: Long, k: Long) = ((r * 2654435761L + epoch * 7919L + k) / 64) % H
      val (l0, r0) = (id / H, id % H)
      val r1 = l0 ^ f(r0, 40503L); val l1 = r0
      val r2 = l1 ^ f(r1, 52501L); val l2 = r1
      val r3 = l2 ^ f(r2, 63809L); val l3 = r2
      l3 * H + r3
    }
    val n = 4096
    // ids straddling both halves of the domain (some above 2^20)
    val ids = (0L until n.toLong).map(i => i * 257L + (i % 7) * H)
    val df = ids.toDF("doc_id")
      .select(col("doc_id"), explode(expr("array(0L, 1L)")).as("epoch"))
      .withColumn("pos",
        expr(graft.ops.Sample.feistelPosSql("doc_id", "epoch", duck = false)))
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    ids.foreach { id =>
      assert(got((id, 0L)) == mirror(id, 0L), s"mirror diverged at id=$id e=0")
      assert(got((id, 1L)) == mirror(id, 1L), s"mirror diverged at id=$id e=1")
    }
    // injective per epoch on distinct ids, range-bounded, epochs differ
    Seq(0L, 1L).foreach { ep =>
      val ps = ids.map(i => got((i, ep)))
      assert(ps.distinct.size == n, s"epoch $ep not injective")
      assert(ps.forall(p => p >= 0 && p < H * H), s"epoch $ep out of range")
    }
    assert(ids.exists(i => got((i, 0L)) != got((i, 1L))),
      "epochs 0 and 1 must permute differently")
    // full bijectivity on a contiguous 2^12 block through the network's
    // own inverse-free certificate: n distinct inputs -> n distinct
    // outputs is injectivity; the permutation property on the full
    // domain follows from the Feistel construction (each round is
    // invertible), pinned here at test scale
    val dense = (0L until 4096L)
    val denseP = dense.map(i => mirror(i, 3L))
    assert(denseP.distinct.size == dense.size)
  }
}
