package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline — generic over any
  * edge list, not bound to the testdata tables (the library surface a
  * user points at their own near-dup pair output).
  */
object Graph {

  /** Driver-side union-find for a COUNTED-small edge set — the adaptive
    * fast path of both components variants (the same class of move as
    * AQE demoting a shuffle join to broadcast): an iterative distributed
    * loop over a tiny graph is pure scheduler overhead — at LSH-candidate
    * scale (near-dup pairs are sketch-bounded by design) the rounds cost
    * seconds to label a few dozen edges. Path-compressed union-find with
    * the min member id as the component label — the identical output
    * contract, deterministic. Only taken when the caller has COUNTED the
    * edge/vertex sets under the cutoff; the distributed loops remain the
    * path for real graphs.
    */
  private def unionFindComponents(
      s: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)],
      singletons: Array[Long]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def add(v: Long): Unit = if (!parent.contains(v)) parent.update(v, v)
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) { parent.update(x, parent(parent(x))); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.update(ra, rb)
    }
    singletons.foreach(add)
    val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keysIterator.foreach { v =>
      val r = find(v)
      minOf.update(r, math.min(minOf.getOrElse(r, v), v))
    }
    import s.implicits._
    parent.keysIterator.map(v => (v, minOf(find(v)))).toSeq.sorted
      .toDF("v", "component")
  }

  /** Connected components by min-label propagation, iterated to the
    * fixpoint. Input: an edge list (two long-typed columns); edges are
    * treated as UNDIRECTED. Output: (`v`, `component`) where component =
    * the minimum vertex id reachable from `v` — the canonical "keep"
    * representative in a dedup clustering.
    *
    * Scale mechanics (the shape a 100 TB clustering job needs):
    *  - labels only ever decrease, so the exact decimal label sum is a
    *    strictly-decreasing fixpoint detector — one aggregate per round
    *    instead of a join-and-compare;
    *  - lineage is broken every round: RELIABLE checkpoints when
    *    `spark.graft.checkpointDir` is set (survives executor loss),
    *    executor-local otherwise;
    *  - `maxIters` is a runaway guard far above any real diameter;
    *    hitting it THROWS rather than returning unconverged labels.
    */
  def connectedComponents(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIters: Int = 64,
      smallCutoff: Long = 200000L): DataFrame = {
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val fwd = edgeList.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst"), col("src"))).persist()
    // adaptive fast path: one count over the just-persisted edges; tiny
    // graphs are labeled on the driver (union-find), big ones fall
    // through to the distributed loop. smallCutoff = 0 disables (tests
    // use that to exercise the loop).
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val intTypes: Set[org.apache.spark.sql.types.DataType] =
      Set(LongType, IntegerType, ShortType, ByteType)
    val vt = edgeList.schema(srcCol).dataType
    val integral = intTypes.contains(vt) &&
      intTypes.contains(edgeList.schema(dstCol).dataType)
    if (smallCutoff > 0 && integral && edges.count() <= 2 * smallCutoff) {
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      return unionFindComponents(s, es, Array.empty)
        .select(col("v").cast(vt).as("v"), col("component").cast(vt).as("component"))
    }
    var labels = break(edges.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v")))
    // coalesce: an EMPTY edge list (no duplicates found) sums to null,
    // which would NPE the convergence compare — normalize to 0 so the
    // loop exits immediately and the empty labels relation returns
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var changed = true
    var iter = 0
    while (changed && iter < maxIters) {
      val prop = edges.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("lbl"))
      val next = break(labels.union(prop).groupBy("v").agg(min("lbl").as("lbl")))
      val nextSum = labelSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — graph diameter exceeds guard")
    edges.unpersist()
    labels.select(col("v"), col("lbl").as("component"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm). Same output contract as
    * [[connectedComponents]]: (`v`, `component` = min reachable id).
    *
    * Why a second algorithm: min-label propagation needs DIAMETER rounds
    * — a 1M-long chain (time-adjacent event edges, linked-list-shaped
    * web graphs) needs 1M shuffles. Star contraction converges in
    * O(log²) rounds on ANY topology by rewiring edges toward the
    * neighborhood minimum each round, so the graph's diameter collapses
    * geometrically. Use THIS one when the edge graph can be deep; the
    * propagation variant when it is known shallow (near-dup clusters).
    *
    *  - large-star: per node u, connect every strictly-larger neighbor
    *    to m = min(N(u) ∪ u);
    *  - small-star: per node u, connect every not-larger neighbor and u
    *    itself to m;
    *  - fixpoint when the edge multiset stops changing (checked via an
    *    order-insensitive exact hash-sum, one tiny aggregate per round);
    *  - per-round lineage break, reliable checkpoint when
    *    `spark.graft.checkpointDir` is set (same policy as above).
    */
  def connectedComponentsStar(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIters: Int = 48,
      smallCutoff: Long = 200000L): DataFrame = {
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    // vertex universe BEFORE dropping self-loops — a (v,v) edge still
    // declares v a vertex (same contract as connectedComponents)
    val all = edgeList.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    val vertices = break(
      all.select(col("a").as("v")).union(all.select(col("b").as("v"))).distinct())
    // canonical undirected edge set, self-loops dropped, (small, large) order
    val raw = all.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .distinct()

    // order-insensitive fingerprint of the edge set (sum of a per-edge
    // 64-bit hash in unbounded decimal) + the edge count, in ONE one-row
    // aggregate over the just-materialized edges — the per-round
    // convergence screen costs a single cheap job instead of separate
    // sum and count() jobs. Equal (sum, count) pairs are then CONFIRMED
    // with an exact set compare, so a sum collision can never cause a
    // premature exit, it only costs one extra except() that round.
    def edgeStats(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(coalesce(
        sum((xxhash64(col("lo"), col("hi")).cast("decimal(38,0)"))),
        lit(0).cast("decimal(38,0)")), count(lit(1))).head
      (r.getDecimal(0), r.getLong(1))
    }

    // one star round: group neighborhoods of u, link selected neighbors
    // to the neighborhood min. `largePhase` toggles the selection rule.
    def star(edges: DataFrame, largePhase: Boolean): DataFrame = {
      val nbrs = edges.select(col("lo").as("u"), col("hi").as("n"))
        .union(edges.select(col("hi").as("u"), col("lo").as("n")))
      val m = nbrs.groupBy("u").agg(least(min(col("n")), col("u")).as("m"))
      val linked = nbrs.join(m, "u")
        .filter(if (largePhase) col("n") > col("u") else col("n") <= col("u"))
        .select(col("n").as("a"), col("m").as("b"))
      val withSelf = if (largePhase) linked
        else linked.union(m.select(col("u").as("a"), col("m").as("b")))
      withSelf.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
        .distinct()
    }

    var edges = break(raw)
    // adaptive fast path (see unionFindComponents): counts run over the
    // already-materialized checkpoint, so the probe is two cheap jobs
    if (smallCutoff > 0 && edges.count() <= smallCutoff &&
        vertices.count() <= smallCutoff) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val sing = vertices.collect().map(_.getLong(0))
      return unionFindComponents(s, es, sing)
    }
    var (prevSum, prevCnt) = edgeStats(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // materialize after EACH star: a star references its input twice
      // (the undirected union), so any unmaterialized chaining doubles
      // the plan per round — two chained rounds measured 5.7 s at sf0.1,
      // four chained measured 27 s (exponential subtree duplication)
      val next = break(star(break(star(edges, largePhase = true)), largePhase = false))
      val (sum, cnt) = edgeStats(next)
      converged = sum.compareTo(prevSum) == 0 && cnt == prevCnt &&
        next.except(edges).isEmpty
      prevSum = sum; prevCnt = cnt
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds")
    // fixpoint edges form stars rooted at each component's min: (hi → lo)
    // plus the roots themselves, plus any isolated-after-contraction
    // vertices (single-vertex stars) mapped to themselves
    val assigned = edges.select(col("hi").as("v"), col("lo").as("component"))
    val roots = vertices.join(assigned, Seq("v"), "left_anti")
      .select(col("v"), col("v").as("component"))
    assigned.union(roots)
  }

  /** Weighted PageRank in FIXED-POINT integer arithmetic — ranks are
    * `scale`-scaled bigints, every step is integer multiply/floor-divide,
    * so the result is bit-identical on any engine and any execution
    * order (float PageRank is order-dependent in the per-vertex sum; the
    * usual cross-engine poison). Mass lost to flooring and to dangling
    * vertices is NOT redistributed — deterministic, and identical on the
    * oracle side by construction.
    *
    * Per iteration: one join of ranks onto edges (shuffle on `src`), one
    * aggregation of contributions (shuffle on `dst`) — the classic
    * scale shape, linear in |E| per round, `iters` rounds. Lineage is
    * broken per round (same checkpoint policy as the components ops).
    *
    * Input: directed weighted edges (src, dst, w ≥ 1, integral). Output:
    * (`v`, `rank` in scale units). `dampingBp` is the damping factor in
    * basis points (8500 = 0.85).
    */
  def pagerank(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "w",
      iters: Int = 10,
      dampingBp: Long = 8500L,
      scale: Long = 1000000000L,
      smallCutoff: Long = 200000L): DataFrame = {
    require(iters >= 0 && dampingBp >= 0 && dampingBp <= 10000)
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    // vertex keys keep their own type (string names, long ids — anything
    // joinable); only the weight must be integral
    val e = edgeList.select(col(srcCol).as("src"),
      col(dstCol).as("dst"), col(weightCol).cast("long").as("w"))
    val verts = break(
      e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct())
    // 1-row metadata (N) stays distributed: broadcast cross join, no collect
    val n = verts.agg(count(lit(1)).as("nv"))
    val out = e.groupBy("src").agg(sum("w").as("wout")).persist()
    val ew = e.join(out, "src").persist()
    // adaptive fast path (see unionFindComponents): the rank recurrence
    // is pure Long arithmetic (DIV ≡ Java /, integer sums are order-free),
    // so a counted-small graph iterates on the driver bit-identically
    // instead of 2 scheduled jobs per round. Vertex keys stay generic
    // BUT the gate requires IDENTICAL src/dst column types: the driver
    // HashMap compares BOXED values, and a mixed Int/Long edge list —
    // which the distributed joins silently coerce — would never match
    // boxed equality and return wrong ranks. Mixed-width graphs fall
    // through to the distributed loop (correct, just not fast-pathed).
    val prKeysIdentical =
      edgeList.schema(srcCol).dataType == edgeList.schema(dstCol).dataType
    if (smallCutoff > 0 && prKeysIdentical && verts.count() <= smallCutoff &&
        ew.count() <= smallCutoff) {
      val vs = verts.collect().map(_.get(0))
      val ewRows = ew.collect()
        .map(r => (r.get(0), r.get(1), r.getLong(2), r.getLong(3)))
      out.unpersist(); ew.unpersist()
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val kt = edgeList.schema(srcCol).dataType
      val schema = StructType(Seq(StructField("v", kt), StructField("rank", LongType)))
      // empty graph: the distributed path returns an empty frame — mirror
      // it here instead of dividing scale by zero
      if (vs.isEmpty)
        return s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      val baseL = scale / vs.length
      var rank = scala.collection.mutable.HashMap[Any, Long](
        vs.map(_ -> baseL).toSeq: _*)
      for (_ <- 0 until iters) {
        val m = scala.collection.mutable.HashMap.empty[Any, Long]
        ewRows.foreach { case (src, dst, w, wout) =>
          m.update(dst, m.getOrElse(dst, 0L) + rank(src) * w / wout)
        }
        val next = scala.collection.mutable.HashMap.empty[Any, Long]
        vs.foreach { v =>
          next.update(v,
            ((10000 - dampingBp) * baseL + dampingBp * m.getOrElse(v, 0L)) / 10000)
        }
        rank = next
      }
      return s.createDataFrame(
        java.util.Arrays.asList(vs.map(v => Row(v, rank(v))): _*), schema)
    }
    val base = verts.crossJoin(broadcast(n))
      .select(col("v"), expr(s"$scale DIV nv").as("base"))
    var ranks = break(base.select(col("v"), col("base").as("rank")))
    var it = 0
    while (it < iters) {
      val contrib = ew.join(ranks, col("src") === col("v"))
        .select(col("dst"), expr("rank * w DIV wout").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      val next = base
        .join(contrib, col("v") === col("dst"), "left_outer")
        .select(col("v"), expr(
          s"((10000 - $dampingBp) * base + $dampingBp * coalesce(m, 0)) DIV 10000")
          .as("rank"))
      it += 1
      ranks = break(next)
    }
    out.unpersist(); ew.unpersist()
    ranks.select(col("v"), col("rank"))
  }

  /** PERSONALIZED PageRank — the seed-restart variant (Haveliwala,
    * "Topic-Sensitive PageRank", WWW'02 — public): teleport mass returns
    * to the SEED set instead of the uniform vector, scoring every vertex
    * by proximity to the seeds — the related-entity / local-
    * recommendation primitive. Same FIXED-POINT integer contract as
    * [[pagerank]] (scale-scaled bigint ranks, truncating division,
    * bit-identical on any engine/order), same per-round shape (one join
    * shuffled on `src`, one aggregation shuffled on `dst`, lineage
    * broken per round), same counted-small driver fast path.
    *
    * Seeds are restricted to graph vertices (semi-join); restart mass
    * is `scale DIV |seeds ∩ V|` on each surviving seed and zero
    * elsewhere; r₀ = the restart vector. No surviving seeds → all-zero
    * ranks (deterministic, mirrored by the SQL NULL-division guard).
    */
  def personalizedPagerank(
      edgeList: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "w",
      seedCol: String = "v",
      iters: Int = 10,
      dampingBp: Long = 8500L,
      scale: Long = 1000000000L,
      smallCutoff: Long = 200000L): DataFrame = {
    require(iters >= 0 && dampingBp >= 0 && dampingBp <= 10000)
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val e = edgeList.select(col(srcCol).as("src"),
      col(dstCol).as("dst"), col(weightCol).cast("long").as("w"))
    val verts = break(
      e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct())
    val sd = seeds.select(col(seedCol).as("v")).distinct()
      .join(verts, Seq("v"), "left_semi").persist()
    val out = e.groupBy("src").agg(sum("w").as("wout")).persist()
    val ew = e.join(out, "src").persist()
    // counted-small fast path — gated on IDENTICAL src/dst/seed types
    // (boxed-equality hazard, see pagerank/bfsHops)
    val keysIdentical = {
      val st = edgeList.schema(srcCol).dataType
      st == edgeList.schema(dstCol).dataType && st == seeds.schema(seedCol).dataType
    }
    if (smallCutoff > 0 && keysIdentical && verts.count() <= smallCutoff &&
        ew.count() <= smallCutoff) {
      val vs = verts.collect().map(_.get(0))
      val seedSet = sd.collect().map(_.get(0)).toSet
      val ewRows = ew.collect()
        .map(r => (r.get(0), r.get(1), r.getLong(2), r.getLong(3)))
      out.unpersist(); ew.unpersist(); sd.unpersist()
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val kt = edgeList.schema(srcCol).dataType
      val schema = StructType(Seq(StructField("v", kt), StructField("rank", LongType)))
      if (vs.isEmpty)
        return s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      val ns = seedSet.size
      val baseOf: Any => Long =
        v => if (ns > 0 && seedSet.contains(v)) scale / ns else 0L
      var rank = scala.collection.mutable.HashMap[Any, Long](
        vs.map(v => v -> baseOf(v)).toSeq: _*)
      for (_ <- 0 until iters) {
        val m = scala.collection.mutable.HashMap.empty[Any, Long]
        ewRows.foreach { case (src, dst, w, wout) =>
          m.update(dst, m.getOrElse(dst, 0L) + rank(src) * w / wout)
        }
        val next = scala.collection.mutable.HashMap.empty[Any, Long]
        vs.foreach { v =>
          next.update(v,
            ((10000 - dampingBp) * baseOf(v) + dampingBp * m.getOrElse(v, 0L)) / 10000)
        }
        rank = next
      }
      return s.createDataFrame(
        java.util.Arrays.asList(vs.map(v => Row(v, rank(v))): _*), schema)
    }
    val nsRow = sd.agg(count(lit(1)).as("ns"))
    val base = verts.join(sd.select(col("v"), lit(1).as("is_seed")), Seq("v"), "left_outer")
      .crossJoin(broadcast(nsRow))
      .select(col("v"), expr(
        s"coalesce(CASE WHEN is_seed IS NOT NULL THEN $scale DIV nullif(ns, 0) END, 0L)")
        .as("base"))
    var ranks = break(base.select(col("v"), col("base").as("rank")))
    var it = 0
    while (it < iters) {
      val contrib = ew.join(ranks, col("src") === col("v"))
        .select(col("dst"), expr("rank * w DIV wout").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      val next = base
        .join(contrib, col("v") === col("dst"), "left_outer")
        .select(col("v"), expr(
          s"((10000 - $dampingBp) * base + $dampingBp * coalesce(m, 0)) DIV 10000")
          .as("rank"))
      it += 1
      ranks = break(next)
    }
    out.unpersist(); ew.unpersist(); sd.unpersist()
    ranks.select(col("v"), col("rank"))
  }

  /** Per-vertex triangle counts by DEGREE-ORIENTED wedge closure
    * (Schank/Wagner '05; the standard MapReduce formulation is Suri &
    * Vassilvitskii, WWW'11 — both public): orient every undirected edge
    * from its lower-(degree, id) endpoint to the higher one, generate
    * wedges only from each vertex's ORIENTED out-neighborhood, and close
    * them with a semi-join against the oriented edge set.
    *
    * Why orientation is the whole trick at scale: out-degree under this
    * order is O(√m), so wedge count is Σ out-deg² = O(m^1.5) instead of
    * Σ deg² — which a single hub vertex would otherwise blow up
    * quadratically. Every triangle {a,b,c} is generated EXACTLY once
    * (from its orientation-minimal vertex), so no dedup and no /3.
    *
    * Shape: two joins + one semi-join + one explode/groupBy, all
    * equi-keyed shuffles, no iteration. Output: (v, n_tri) for vertices
    * in ≥1 triangle.
    */
  def triangles(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      blocks: Int = 1): DataFrame =
    if (blocks <= 1)
      triangleTriples(canonicalUndirected(edgeList, srcCol, dstCol))
        .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("n_tri"))
    else trianglesBlocked(canonicalUndirected(edgeList, srcCol, dstCol), blocks)

  /** DISK-BOUNDED per-vertex triangle counts: the wedge→closure
    * exchange is the one data-sized shuffle of [[triangles]] (wedge
    * volume = Σ C(d_out, 2) — measured exactly linear through ×128 in
    * DevGraphVol, but 5.26 B wedges × 16 B ≈ 84 GB at ×128, more than
    * one box's scratch). Splitting the CLOSING-EDGE key space into
    * `blocks` slices — wedges AND the closure build side both filtered
    * to pmod(b + c, blocks) = k BEFORE the exchange — caps the live
    * shuffle footprint at ~1/blocks of the wedge set; each block's
    * per-vertex partial counts (vertex-sized) merge into a running
    * checkpointed accumulator, and the forced GC between blocks
    * releases the finished block's shuffle files (cleanup is GC-driven
    * — the DevScale ×128 lesson). The trade: wedge GENERATION (the
    * cheap compute-only u-join, no exchange) re-runs per block. Every
    * triangle lands in exactly one block (its closing edge has one
    * (b, c)), so the summed counts are bit-identical to the one-pass
    * plan for ANY block count — pinned in SeriesOpsSpec.
    */
  private def trianglesBlocked(und: DataFrame, blocks: Int): DataFrame = {
    val (oriented, _, packable) = orientedWithBounds(und)
    val x = oriented.select(col("u"), col("w").as("b"), col("dw").as("db"))
    val y = oriented.select(col("u"), col("w").as("c"), col("dw").as("dc"))
    var acc: DataFrame = null
    for (k <- 0 until blocks) {
      val wedgesK = x.join(y.hint("shuffle_hash"), "u")
        .filter(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
        .filter(pmod(col("b") + col("c"), lit(blocks.toLong)) === k)
        .select(col("u").as("a"), col("b"), col("c"))
      val edgesK = oriented
        .filter(pmod(col("u") + col("w"), lit(blocks.toLong)) === k)
      // broadcast gate on the MEASURED block size, not m/blocks by
      // expectation — a skewed pmod(u + w) distribution could otherwise
      // broadcast a block several times the cap. One count per block
      // over the persisted oriented set: trivial beside the block join.
      val mK = edgesK.count()
      val closure: DataFrame => DataFrame =
        if (mK <= 20000000L) d => broadcast(d)
        else d => d.hint("shuffle_hash")
      val triK =
        (if (packable)
          wedgesK.withColumn("bc", expr("b * 4294967296L + c"))
            .join(closure(edgesK.select(expr("u * 4294967296L + w").as("bc"))),
              Seq("bc"), "left_semi")
        else
          wedgesK.join(closure(edgesK.select(col("u").as("b"), col("w").as("c"))),
            Seq("b", "c"), "left_semi"))
          .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
          .groupBy("v").agg(count(lit(1)).as("n_tri"))
      val merged =
        if (acc == null) triK
        else acc.unionByName(triK).groupBy("v").agg(sum("n_tri").as("n_tri"))
      acc = merged.localCheckpoint(eager = true)
      System.gc() // release the finished block's shuffle files
    }
    acc
  }

  /** Canonical undirected edge set (lo, hi), self-loops dropped,
    * PERSISTED: every consumer walks it several times (degree
    * aggregation, orientation join, closure build) — without the cache
    * the upstream edge construction would re-run per walk.
    */
  private def canonicalUndirected(
      edgeList: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edgeList
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .distinct().persist()

  /** Triangle triples (a, b, c) — one row per triangle, exactly once —
    * over a persisted canonical (lo, hi) edge set. The degree-oriented
    * wedge machinery shared by [[triangles]] (per-vertex counts) and
    * [[trussPeel]] (per-edge support): `a` is the wedge apex, b/c its
    * oriented out-neighbors with (b, c) in orientation order.
    */
  /** Degree-oriented persisted edge set + the setup-probe results the
    * closure join's plan choices read: (oriented(u, w, dw), edge count,
    * ids-fit-unsigned-32 packability). Shared by [[triangleTriples]]
    * and [[trianglesBlocked]].
    */
  private def orientedWithBounds(und: DataFrame): (DataFrame, Long, Boolean) = {
    val deg = und.select(col("lo").as("v")).union(und.select(col("hi").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("v").as("lo"), col("d").as("dlo")), "lo")
      .join(deg.select(col("v").as("hi"), col("d").as("dhi")), "hi")
      // degree-1 endpoints can't close a triangle: cut their edges here
      // (free — degrees are already joined). Long-tail graphs are
      // leaf-heavy, so this trims the wedge-join input AND the closure
      // build side; every triangle edge survives (all three endpoints
      // have degree ≥ 2), and orientation below still uses the ORIGINAL
      // degrees — any fixed total order stays correct.
      .filter(col("dlo") >= 2 && col("dhi") >= 2)
    // (degree, id) is a total order, so each undirected edge gets exactly
    // one direction; carry the HEAD's degree for the wedge ordering below
    val oriented = withDeg.select(
      when(col("dlo") < col("dhi") ||
        (col("dlo") === col("dhi") && col("lo") < col("hi")),
        struct(col("lo").as("u"), col("hi").as("w"), col("dhi").as("dw")))
        .otherwise(struct(col("hi").as("u"), col("lo").as("w"), col("dlo").as("dw")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.dw").as("dw"))
      .persist()
    // one setup job over the persisted edge set yields the edge count
    // (broadcast decision) AND the id bounds (pack decision)
    val bounds = und.agg(count(lit(1)).as("m"),
      min(least(col("lo"), col("hi"))).as("mn"),
      max(greatest(col("lo"), col("hi"))).as("mx")).collect()(0)
    val packable = !bounds.isNullAt(1) &&
      bounds.getLong(1) >= 0L && bounds.getLong(2) < 4294967296L
    (oriented, bounds.getLong(0), packable)
  }

  private def triangleTriples(und: DataFrame): DataFrame = {
    val (oriented, m, packable) = orientedWithBounds(und)
    // wedges (u; b, c) with b before c in orientation order — the closing
    // edge, if present, is then oriented exactly b -> c
    val x = oriented.select(col("u"), col("w").as("b"), col("dw").as("db"))
    val y = oriented.select(col("u"), col("w").as("c"), col("dw").as("dc"))
    val wedges = x.join(y.hint("shuffle_hash"), "u")
      .filter(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
      .select(col("u").as("a"), col("b"), col("c"))
    // shuffle-HASH, not sort-merge: the streamed side is the wedge set
    // (out-deg² rows — orders of magnitude bigger than the edge set) and
    // SMJ would sort it; hashing builds on the small edge side instead.
    // The (b,c) pair is packed into ONE long key when every vertex id
    // fits unsigned 32 bits — halves the shuffle key width and hashing
    // work of the biggest exchange. Wider id domains (found by the
    // DevScale ×32 salted tiling: ids near 3×10¹⁰ ANSI-overflowed the
    // multiply before the old assert_true guard could even evaluate)
    // fall back to the two-column (b, c) key — same join, 16-byte key.
    // closure: BROADCAST the packed edge set when it plausibly fits
    // (longs are 8B + hash-set overhead; 20M edges ≈ low hundreds of MB
    // on the build side) — the wedge set (out-deg² rows, here 34× the
    // edge count) then never crosses an exchange at all. Past the
    // threshold fall back to shuffle-hash (NOT sort-merge: SMJ would
    // sort the huge wedge side; hashing builds on the small edge side).
    def closed(keyed: DataFrame, keys: Seq[String], w: DataFrame): DataFrame = {
      val closure = if (m <= 20000000L) broadcast(keyed) else keyed.hint("shuffle_hash")
      w.join(closure, keys, "left_semi").select(col("a"), col("b"), col("c"))
    }
    if (packable)
      closed(oriented.select(expr("u * 4294967296L + w").as("bc")), Seq("bc"),
        wedges.withColumn("bc", expr("b * 4294967296L + c")))
    else
      closed(oriented.select(col("u").as("b"), col("w").as("c")), Seq("b", "c"),
        wedges)
  }

  /** Per-edge triangle support over a persisted canonical (lo, hi) edge
    * set: each triangle from [[triangleTriples]] credits its three
    * edges. Only edges in ≥1 triangle appear.
    */
  private def edgeSupport(und: DataFrame): DataFrame =
    triangleTriples(und).select(explode(array(
        struct(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi")),
        struct(least(col("a"), col("c")).as("lo"), greatest(col("a"), col("c")).as("hi")),
        struct(least(col("b"), col("c")).as("lo"), greatest(col("b"), col("c")).as("hi"))))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
      .groupBy("lo", "hi").agg(count(lit(1)).as("sup"))

  /** Fixed-round k-truss peel (Cohen, "Trusses: cohesive subgraphs for
    * social network analysis", NSA tech report 2008 — public): each
    * round computes per-edge triangle support and drops edges with
    * support &lt; `minSupport` (minSupport = k-2 peels toward the
    * k-truss). Fixed `rounds` synchronous iterations — deterministic
    * and unrollable to a cross-engine oracle chain, same design as
    * [[labelPropagation]]; a converged subgraph makes extra rounds
    * no-ops, so a fixed unroll ≥ the fixpoint depth equals full k-truss.
    *
    * Returns the surviving edges as (src, dst, support) with `support`
    * recomputed IN the peeled subgraph (0 if a survivor lost all its
    * triangles to the final round's cuts — possible because peeling is
    * synchronous).
    *
    * Scale shape: every round is the O(m^1.5)-bounded oriented wedge
    * closure plus one filter — all equi-keyed shuffles on the shrinking
    * edge set. The per-round survivor set is EAGERLY localCheckpointed:
    * the wedge machinery walks its input ~5 ways, so a chained lineage
    * fans out ~5^rounds plan copies and pays the per-level codegen
    * compile tax (53 s on a 33-edge graph, measured) — truncating the
    * tiny intermediate is the NSW truncation rule applied here (6.5 s after,
    * same graph, cold).
    */
  def trussPeel(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      minSupport: Int = 2,
      rounds: Int = 2): DataFrame = {
    require(minSupport >= 1, "minSupport >= 1 (0 would peel nothing)")
    require(rounds >= 1, "rounds >= 1")
    var cur = canonicalUndirected(edgeList, srcCol, dstCol).localCheckpoint()
    for (_ <- 1 to rounds)
      cur = edgeSupport(cur).filter(col("sup") >= minSupport)
        .select("lo", "hi").localCheckpoint()
    cur.join(edgeSupport(cur), Seq("lo", "hi"), "left")
      .na.fill(0L, Seq("sup"))
      .select(col("lo").as("src"), col("hi").as("dst"), col("sup").as("support"))
  }

  /** Bounded-depth multi-source BFS: minimum hop distance from any seed
    * vertex, over the UNDIRECTED view of the edge list, for vertices
    * within `maxDepth` hops (the k-hop-neighborhood primitive behind
    * "blast radius" / contagion / related-item queries). Returns
    * (`v`, `hop`), hop ∈ [0, maxDepth]; unreachable vertices are absent.
    *
    * Scale mechanics: each round joins the CURRENT FRONTIER only (the
    * hop = d−1 slice) against the edge list — settled vertices never
    * re-propagate, so total work is O(|E reachable|·1), not
    * O(|E|·depth); one join + one min-combine per round, lineage broken
    * per round (reliable checkpoint when `spark.graft.checkpointDir`
    * is set, executor-local otherwise). Depth is a CONSTANT of the
    * query (k-hop semantics), so no convergence aggregate is needed.
    */
  def bfsHops(
      edgeList: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "v",
      maxDepth: Int = 8,
      smallCutoff: Long = 200000L): DataFrame = {
    require(maxDepth >= 0)
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val fwd = edgeList.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst"), col("src"))).persist()
    val seedSet = seeds.select(col(seedCol).as("v")).distinct()
    // adaptive fast path (see unionFindComponents): frontier BFS over a
    // counted-small graph is a driver loop; only vertex EQUALITY is
    // needed, so keys stay generic — but the gate requires IDENTICAL
    // src/dst/seed column types: boxed equality in the driver HashMap
    // never matches across widths the distributed joins would coerce
    // (an Int seed vs Long edges would freeze BFS at hop 0). Mixed
    // types fall through to the distributed loop.
    val bfsKeysIdentical = {
      val st = edgeList.schema(srcCol).dataType
      st == edgeList.schema(dstCol).dataType &&
        st == seeds.schema(seedCol).dataType
    }
    if (smallCutoff > 0 && bfsKeysIdentical && edges.count() <= 2 * smallCutoff &&
        seedSet.count() <= smallCutoff) {
      val es = edges.collect().map(r => (r.get(0), r.get(1)))
      val hop = scala.collection.mutable.HashMap.empty[Any, Long]
      seedSet.collect().foreach(r => hop.update(r.get(0), 0L))
      edges.unpersist()
      for (d <- 1 to maxDepth) {
        val newly = scala.collection.mutable.ArrayBuffer.empty[Any]
        es.foreach { case (a, b) =>
          if (hop.get(a).contains(d - 1L) && !hop.contains(b)) newly += b
        }
        newly.foreach(v => hop.update(v, d.toLong))
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val kt = edgeList.schema(srcCol).dataType
      return s.createDataFrame(
        java.util.Arrays.asList(hop.iterator.map { case (v, h) => Row(v, h) }.toSeq: _*),
        StructType(Seq(StructField("v", kt), StructField("hop", LongType))))
    }
    var labels = break(seedSet.withColumn("hop", lit(0L)))
    var d = 1
    while (d <= maxDepth) {
      val prop = edges.join(labels.filter(col("hop") === (d - 1)), col("src") === col("v"))
        .select(col("dst").as("v"), lit(d.toLong).as("hop"))
      labels = break(labels.union(prop).groupBy("v").agg(min("hop").as("hop")))
      d += 1
    }
    edges.unpersist()
    labels
  }

  /** Weighted single-source shortest-path DISTANCES from a seed set by
    * Bellman-Ford relaxation rounds (undirected edges, integral
    * weights ≥ 1). Distances are VALUES, not paths — unique by
    * definition, no tie-break discipline needed — so any correct
    * algorithm agrees: the distributed loop relaxes to the fixpoint,
    * the counted-small fast path runs driver Bellman-Ford in identical
    * Long arithmetic, and the DuckDB oracle can verify via min-plus
    * DOUBLING (log₂-unrolled CTEs) instead of mirroring rounds.
    *
    * Fixpoint screen: reached-count only grows and, at fixed count,
    * the exact distance sum only shrinks — so an unchanged
    * (count, sum) pair certifies convergence in one cheap aggregate
    * per round (the connectedComponents label-sum discipline).
    * `maxIters` is the runaway guard; hitting it THROWS.
    *
    * Output: (v, dist) for every vertex reachable from any seed —
    * dist 0 for the seeds themselves.
    */
  def ssspFrom(
      edgeList: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      seedCol: String = "v",
      maxIters: Int = 64,
      smallCutoff: Long = 200000L): DataFrame = {
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val fwd = edgeList.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w"))
    val edges = fwd.union(fwd.select(col("dst"), col("src"), col("w"))).persist()
    val seedSet = seeds.select(col(seedCol).as("v")).distinct()
    // same type-identity gate as bfsHops: driver HashMaps key on boxed
    // vertex values, and boxed equality never matches across widths
    val keysIdentical = {
      val st = edgeList.schema(srcCol).dataType
      st == edgeList.schema(dstCol).dataType &&
        st == seeds.schema(seedCol).dataType
    }
    if (smallCutoff > 0 && keysIdentical && edges.count() <= 2 * smallCutoff &&
        seedSet.count() <= smallCutoff) {
      val es = edges.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
      val dist = scala.collection.mutable.HashMap.empty[Any, Long]
      seedSet.collect().foreach(r => dist.update(r.get(0), 0L))
      edges.unpersist()
      var changed = true
      var iter = 0
      while (changed && iter < maxIters) {
        changed = false
        es.foreach { case (a, b, w) =>
          dist.get(a).foreach { da =>
            if (dist.get(b).forall(_ > da + w)) { dist.update(b, da + w); changed = true }
          }
        }
        iter += 1
      }
      if (changed)
        throw new IllegalStateException(s"ssspFrom fast path unconverged in $maxIters")
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val kt = edgeList.schema(srcCol).dataType
      return s.createDataFrame(
        java.util.Arrays.asList(dist.iterator.map { case (v, d) => Row(v, d) }.toSeq: _*),
        StructType(Seq(StructField("v", kt), StructField("dist", LongType))))
    }
    var labels = break(seedSet.withColumn("dist", lit(0L)))
    def stats(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)), coalesce(
        sum(col("dist").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head
      (r.getLong(0), r.getDecimal(1))
    }
    var (prevN, prevSum) = stats(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prop = edges.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), (col("dist") + col("w")).as("dist"))
      labels = break(labels.union(prop).groupBy("v").agg(min("dist").as("dist")))
      val (n, sm) = stats(labels)
      converged = n == prevN && sm.compareTo(prevSum) == 0
      prevN = n; prevSum = sm
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ssspFrom did not converge in $maxIters rounds")
    edges.unpersist()
    labels
  }

  /** SYNCHRONOUS label propagation (Raghavan et al., "Near linear time
    * algorithm to detect community structures in large-scale networks",
    * Phys. Rev. E 76, 2007 — public): every vertex starts with its own
    * label; each round, every vertex simultaneously adopts the most
    * frequent label among its neighbors (ties → smallest label). The
    * vertex universe is the edge endpoints — self-loops are dropped, so
    * a vertex appears iff it has a real neighbor. A FIXED iteration
    * count with
    * synchronous updates makes the result a pure function of the edge
    * set — no sweep order, no randomness — which is what a cross-engine
    * oracle needs (classic async LPA is notoriously order-dependent).
    *
    * Per round: one edge⋈labels join (shuffle on vertex id), one
    * (vertex, label) count partial-agg, one per-vertex top-1 window —
    * linear in |E| per round, lineage broken per round.
    */
  def labelPropagation(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 4,
      smallCutoff: Long = 200000L): DataFrame = {
    require(iters >= 0)
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    import org.apache.spark.sql.expressions.Window

    val fwd = edgeList.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = fwd.union(fwd.select(col("dst"), col("src"))).distinct().persist()
    // adaptive fast path (see unionFindComponents). The (count desc,
    // label asc) vote tie-break needs a total order on labels, so the
    // fast path is gated to integral vertex types like the components'.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val lpIntTypes: Set[org.apache.spark.sql.types.DataType] =
      Set(LongType, IntegerType, ShortType, ByteType)
    val vt = edgeList.schema(srcCol).dataType
    if (smallCutoff > 0 && lpIntTypes.contains(vt) &&
        lpIntTypes.contains(edgeList.schema(dstCol).dataType) &&
        edges.count() <= 2 * smallCutoff) {
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      var lbl = scala.collection.mutable.HashMap[Long, Long](
        es.map(e => e._1 -> e._1).toSeq: _*)
      for (_ <- 0 until iters) {
        val votes = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        es.foreach { case (src, dst) =>
          val k = (dst, lbl(src))
          votes.update(k, votes.getOrElse(k, 0L) + 1L)
        }
        val next = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
        votes.foreach { case ((u, l), c) =>
          next.get(u) match {
            case Some((bc, bl)) if bc > c || (bc == c && bl < l) => ()
            case _ => next.update(u, (c, l))
          }
        }
        lbl = scala.collection.mutable.HashMap(
          next.iterator.map { case (u, (_, l)) => u -> l }.toSeq: _*)
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructField, StructType}
      return s.createDataFrame(
        java.util.Arrays.asList(
          lbl.keysIterator.toSeq.sorted.map(v => Row(v, lbl(v))): _*),
        StructType(Seq(StructField("v", LongType), StructField("community", LongType))))
        .select(col("v").cast(vt).as("v"), col("community").cast(vt).as("community"))
    }
    val verts = break(edges.select(col("src").as("v")).distinct())
    var labels = verts.withColumn("lbl", col("v"))
    var it = 0
    while (it < iters) {
      val votes = edges.join(labels, col("src") === col("v"))
        .groupBy(col("dst").as("u"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val top = votes.withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(col("c").desc, col("lbl").asc)))
        .filter(col("rn") === 1)
        .select(col("u").as("v"), col("lbl"))
      labels = break(top)
      it += 1
    }
    edges.unpersist()
    labels.select(col("v"), col("lbl").as("community"))
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999 — public) in FIXED-POINT
    * integer arithmetic: scores are `scale`-scaled bigints normalized
    * each half-round by the MAXIMUM score (integer multiply /
    * truncating divide — deterministic on any engine and execution
    * order, where the float L2-normalized original is not). Per
    * iteration: two edge⋈score joins + two partial-agg shuffles + two
    * 1-row max aggregates broadcast back — linear in |E| per round.
    *
    * Input: DIRECTED distinct edges. Output: (`v`, `auth`, `hub`) in
    * scale units, every vertex present. Dangling vertices (no in- or
    * out-edges on a side) score 0 on that side; max-normalization keeps
    * every intermediate ≤ |V|·scale, so bigint overflow needs
    * |V|·scale·max-degree > 2⁶³ — unreachable at scale = 10⁶.
    */
  def hits(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 8,
      scale: Long = 1000000L,
      smallCutoff: Long = 200000L): DataFrame = {
    require(iters >= 1 && scale >= 1)
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val e = edgeList.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().persist()
    val verts = break(
      e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct())
    // adaptive fast path (see unionFindComponents): each half-round is
    // integer sums + one max + truncating division — bit-identical on
    // the driver for a counted-small graph, vs 4 scheduled jobs/round.
    // Gated to IDENTICAL src/dst types (boxed-equality hazard — see
    // pagerank); mixed-width graphs use the distributed loop.
    val hitsKeysIdentical =
      edgeList.schema(srcCol).dataType == edgeList.schema(dstCol).dataType
    if (smallCutoff > 0 && hitsKeysIdentical && verts.count() <= smallCutoff &&
        e.count() <= smallCutoff) {
      val vs = verts.collect().map(_.get(0))
      val es = e.collect().map(r => (r.get(0), r.get(1)))
      e.unpersist()
      var hubM = scala.collection.mutable.HashMap[Any, Long](
        vs.map(_ -> scale).toSeq: _*)
      var authM = scala.collection.mutable.HashMap.empty[Any, Long]
      def normalize(raw: scala.collection.mutable.HashMap[Any, Long])
          : scala.collection.mutable.HashMap[Any, Long] = {
        val top = if (raw.isEmpty) 0L else raw.valuesIterator.max
        val outM = scala.collection.mutable.HashMap.empty[Any, Long]
        vs.foreach { v =>
          outM.update(v,
            if (top == 0L) 0L else raw.getOrElse(v, 0L) * scale / top)
        }
        outM
      }
      for (_ <- 0 until iters) {
        val aRaw = scala.collection.mutable.HashMap.empty[Any, Long]
        es.foreach { case (src, dst) =>
          aRaw.update(dst, aRaw.getOrElse(dst, 0L) + hubM(src))
        }
        authM = normalize(aRaw)
        val hRaw = scala.collection.mutable.HashMap.empty[Any, Long]
        es.foreach { case (src, dst) =>
          hRaw.update(src, hRaw.getOrElse(src, 0L) + authM(dst))
        }
        hubM = normalize(hRaw)
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val kt = edgeList.schema(srcCol).dataType
      return s.createDataFrame(
        java.util.Arrays.asList(vs.map(v => Row(v, authM(v), hubM(v))): _*),
        StructType(Seq(StructField("v", kt), StructField("auth", LongType),
          StructField("hub", LongType))))
    }
    var hub = verts.withColumn("h", lit(scale))
    var auth: DataFrame = null
    var it = 0
    while (it < iters) {
      // authority = normalized in-sum of hubs; each half-round is broken
      // eagerly (A/B-measured against a lazier one-break-per-round
      // variant: the deeper per-job DAG re-evaluates the raw-sum subtree
      // for the broadcast build AND the join, and costs more than the
      // extra checkpoint job it saves)
      val aRaw = e.join(hub, col("src") === col("v"))
        .groupBy(col("dst")).agg(sum("h").as("ar"))
      val aTop = aRaw.agg(coalesce(max("ar"), lit(0L)).as("am"))
      auth = break(verts.join(aRaw, col("v") === col("dst"), "left_outer")
        .crossJoin(broadcast(aTop))
        .select(col("v"),
          expr("coalesce(coalesce(ar, 0) * CAST(" + scale + " AS BIGINT) DIV nullif(am, 0), 0)")
            .as("a")))
      // hub = normalized out-sum of authorities
      val hRaw = e.join(auth, col("dst") === col("v"))
        .groupBy(col("src")).agg(sum("a").as("hr"))
      val hTop = hRaw.agg(coalesce(max("hr"), lit(0L)).as("hm"))
      hub = break(verts.join(hRaw, col("v") === col("src"), "left_outer")
        .crossJoin(broadcast(hTop))
        .select(col("v"),
          expr("coalesce(coalesce(hr, 0) * CAST(" + scale + " AS BIGINT) DIV nullif(hm, 0), 0)")
            .as("h")))
      it += 1
    }
    val out = auth.join(hub, "v")
      .select(col("v"), col("a").as("auth"), col("h").as("hub"))
    e.unpersist()
    out
  }

  /** The k-core subgraph: iteratively peel vertices of degree &lt; k
    * until the remaining subgraph is stable (every survivor has ≥ k
    * neighbors INSIDE the core). Input: undirected distinct edge list
    * (`lo`, `hi` long columns, lo &lt; hi); output: the surviving edges
    * with the same schema — the density-skeleton primitive (community
    * nuclei, spam-farm detection, graph sparsification).
    *
    * Scale mechanics: each round is one degree aggregation plus two
    * semi-joins — all hash-partitioned on vertex id, no all-pairs
    * anything; the edge count is MONOTONE DECREASING, so one cheap
    * count() per round is the exact fixpoint detector; lineage is
    * broken per round (reliable checkpoint when
    * `spark.graft.checkpointDir` is set, executor-local otherwise);
    * `maxIters` is a runaway guard — hitting it THROWS rather than
    * returning a non-core subgraph.
    */
  def kcore(edgeList: DataFrame, k: Int, maxIters: Int = 64,
      smallCutoff: Long = 200000L): DataFrame = {
    require(k >= 1, "k >= 1")
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    var e = break(edgeList.select(col("lo"), col("hi")))
    var prev = e.count()
    // adaptive fast path (see unionFindComponents): the k-core is UNIQUE
    // (peel order doesn't matter), so a counted-small edge set peels on
    // the driver in microseconds instead of 2 scheduled jobs per round.
    // The gate reuses the round-start count — zero extra jobs either way.
    if (smallCutoff > 0 && prev <= smallCutoff) {
      val vt = e.schema("lo").dataType
      var es = e.select(col("lo").cast("long"), col("hi").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      var shrunk = true
      while (shrunk) {
        val deg = scala.collection.mutable.HashMap.empty[Long, Int]
        es.foreach { case (a, b) =>
          deg.update(a, deg.getOrElse(a, 0) + 1)
          deg.update(b, deg.getOrElse(b, 0) + 1)
        }
        val next = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        shrunk = next.length != es.length
        es = next
      }
      import s.implicits._
      return es.toSeq.sorted.toDF("lo", "hi")
        .select(col("lo").cast(vt).as("lo"), col("hi").cast(vt).as("hi"))
    }
    var changed = prev > 0
    var iter = 0
    while (changed && iter < maxIters) {
      val keep = e.select(col("lo").as("v")).union(e.select(col("hi").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("v")
      val next = break(e
        .join(keep.select(col("v").as("lo")), Seq("lo"), "left_semi")
        .join(keep.select(col("v").as("hi")), Seq("hi"), "left_semi")
        .select(col("lo"), col("hi")))
      val n = next.count()
      changed = n != prev
      prev = n
      e = next
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"kcore did not converge in $maxIters rounds — raise maxIters")
    e
  }

  /** LINK-PREDICTION scores for non-adjacent vertex pairs: common
    * neighbors + the Resource-Allocation index (Zhou, Lü, Zhang,
    * "Predicting missing links via local information", Eur. Phys. J. B
    * 71, 2009 — public; RA = Σ over shared neighbors m of 1 ⁄ deg(m)).
    * RA is preferred over Adamic-Adar here because 1 ⁄ deg is RATIONAL:
    * `scale DIV deg` is exact integer math in both engines, while AA's
    * 1 ⁄ log deg would hang cross-engine parity on transcendental ULPs.
    * Output: (`src`, `dst`, `cn`, `ra`) for every pair at distance 2
    * (≥ 1 shared neighbor, no existing edge), `ra` scaled by `scale`.
    *
    * Shape: one wedge self-join keyed on the MIDDLE vertex (volume
    * Σ deg(m)² — the triangle-counting cost class; cap hot middles with
    * [[Scale.capGroups]] on degenerate graphs), one broadcast-sized
    * degree join, one anti-join against the edge list. All keyed
    * shuffles, never vertex×vertex.
    */
  def linkScores(edges: DataFrame, scale: Long = 1000000000L): DataFrame = {
    require(scale >= 1, "scale >= 1")
    // e and und are each referenced three times; persisting them here
    // was A/B'd WORSE at sf0.1 (1.17 -> 2.05 s: the cache barriers
    // serialize subtrees that otherwise run in parallel — the r7
    // prefix-filter lesson). The expensive part is the CALLER's edge
    // construction, so callers truncate it once (see linkPredict) and
    // the post-checkpoint duplication here stays cheap and parallel.
    val e = edges.select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
    val und = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val wedge = und.select(col("u").as("m"), col("v").as("x"))
      .join(und.select(col("u").as("m"), col("v").as("y")), "m")
      .filter(col("x") < col("y"))
    val cand = wedge.join(deg.select(col("u").as("m"), col("deg")), "m")
      .groupBy("x", "y").agg(count(lit(1)).as("cn"),
        sum(expr(s"$scale DIV deg")).as("ra"))
    cand.join(e, cand("x") === e("lo") && cand("y") === e("hi"), "left_anti")
      .select(col("x").as("src"), col("y").as("dst"), col("cn"), col("ra"))
  }

  /** Weighted link prediction (Murata & Moriyasu, WI'07 weighted
    * Resource Allocation — public): for every non-adjacent pair (x, y)
    * at distance 2,
    *   wcn  = Σ_{m ∈ CN} (w(x,m) + w(y,m))            (weighted CN)
    *   wra  = Σ_{m ∈ CN} scale·(w(x,m)+w(y,m)) DIV strength(m)
    * where strength(m) = Σ_n w(m,n). Weights must be INTEGRAL (counts)
    * so both the sums and the scaled division are exact cross-engine.
    *
    * Input `edges`: (src, dst, w). Parallel edges are collapsed by
    * summing w. Same shuffle shape as [[linkScores]]: one wedge
    * self-join keyed on the middle vertex, one keyed strength join, one
    * anti-join against the edge list — no vertex×vertex product.
    */
  def linkScoresWeighted(edges: DataFrame, scale: Long = 1000000000L): DataFrame = {
    require(scale >= 1, "scale >= 1")
    // same three-reference shape as linkScores — and the same A/B
    // verdict: persists here serialize; callers truncate their edge
    // construction instead (see linkPredictWeighted)
    val e = edges.select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"), col("w").cast("long").as("w"))
      .filter(col("lo") =!= col("hi"))
      .groupBy("lo", "hi").agg(sum("w").as("w"))
    val und = e.select(col("lo").as("u"), col("hi").as("v"), col("w"))
      .union(e.select(col("hi").as("u"), col("lo").as("v"), col("w")))
    val str = und.groupBy("u").agg(sum("w").as("strength"))
    val wedge = und.select(col("u").as("m"), col("v").as("x"), col("w").as("wx"))
      .join(und.select(col("u").as("m"), col("v").as("y"), col("w").as("wy")), "m")
      .filter(col("x") < col("y"))
    val cand = wedge.join(str.select(col("u").as("m"), col("strength")), "m")
      .groupBy("x", "y").agg(
        count(lit(1)).as("cn"),
        sum(col("wx") + col("wy")).as("wcn"),
        sum(expr(s"($scale * (wx + wy)) DIV strength")).as("wra"))
    cand.join(e, cand("x") === e("lo") && cand("y") === e("hi"), "left_anti")
      .select(col("x").as("src"), col("y").as("dst"),
        col("cn"), col("wcn"), col("wra"))
  }

  /** Minimum spanning FOREST by Borůvka rounds (Borůvka 1926; the
    * canonical MapReduce-MSF shape — O(log n) rounds, each one
    * shuffle-bounded). Edges are UNDIRECTED with an integral weight;
    * ties break by (w, lo, hi) — a STRICT total order, under which the
    * MSF is UNIQUE, so any correct algorithm yields the identical edge
    * set. That uniqueness is the cross-engine bridge: the DuckDB oracle
    * verifies via the minimax-path characterization (e = (u,v) ∈ MSF ⟺
    * no u–v path avoids e using only strictly smaller edges ⟺ the
    * minimax path key between u and v EQUALS e's key), not by
    * re-running Borůvka.
    *
    * Per round: label edges with their endpoints' components (two
    * shuffles), keep each component's MINIMUM outgoing edge (one
    * aggregation — the cut property makes every such edge safe), then
    * contract the selected component graph via
    * [[connectedComponentsStar]] (O(log²) on any topology — selected
    * pointer chains can be long). Components at least halve per round
    * → ≤ log₂ n rounds; the per-round selected set is ≤ #components
    * rows and eagerly localCheckpointed (tiny-state rule).
    *
    * Counted-small fast path (same gate discipline as
    * [[connectedComponents]]): when the canonical edge set is under
    * `smallCutoff`, collect and run Kruskal with path-compressed
    * union-find on the driver in the IDENTICAL (w, lo, hi) Long order.
    * Tests pin smallCutoff = 0 to keep the distributed loop covered.
    *
    * Input: (src, dst, w) with integral types (exact math contract).
    * Output: the MSF edge list (lo, hi, w) — Σ (|C|−1) rows over
    * components C; self-loops dropped, parallel edges pre-reduced to
    * their minimum weight.
    */
  def msfEdges(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      maxIters: Int = 48,
      smallCutoff: Long = 200000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val intTypes: Set[org.apache.spark.sql.types.DataType] =
      Set(LongType, IntegerType, ShortType, ByteType)
    require(Seq(srcCol, dstCol, wCol).forall(c =>
      intTypes.contains(edgeList.schema(c).dataType)),
      "msfEdges needs integral src/dst/w (exact-math contract)")
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val und = break(edgeList
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"),
        col(wCol).cast("long").as("w"))
      .groupBy("lo", "hi").agg(min("w").as("w")))

    if (smallCutoff > 0 && und.count() <= smallCutoff) {
      val es = und.collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1))).sorted
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def add(v: Long): Unit = if (!parent.contains(v)) parent.update(v, v)
      def find(x0: Long): Long = {
        var x = x0
        while (parent(x) != x) { parent.update(x, parent(parent(x))); x = parent(x) }
        x
      }
      val kept = es.flatMap { case (w, lo, hi) =>
        add(lo); add(hi)
        val rl = find(lo); val rh = find(hi)
        if (rl != rh) { parent.update(rl, rh); Some((lo, hi, w)) } else None
      }
      import s.implicits._
      return kept.toSeq.toDF("lo", "hi", "w")
    }

    var comp = break(und.select(col("lo").as("v"))
      .union(und.select(col("hi").as("v"))).distinct()
      .select(col("v"), col("v").as("c")))
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var active = true
    var iter = 0
    while (active && iter < maxIters) {
      val lab = und
        .join(comp.select(col("v").as("lo"), col("c").as("cl")), "lo")
        .join(comp.select(col("v").as("hi"), col("c").as("ch")), "hi")
        .filter(col("cl") =!= col("ch"))
      val cand = lab.select(col("cl").as("c"),
          struct(col("w"), col("lo"), col("hi"), col("ch").as("o")).as("e"))
        .union(lab.select(col("ch").as("c"),
          struct(col("w"), col("lo"), col("hi"), col("cl").as("o")).as("e")))
      // (w, lo, hi) is unique per edge, so the struct-min never reaches o
      val sel = break(cand.groupBy("c").agg(min("e").as("e"))
        .select(col("e.w").as("w"), col("e.lo").as("lo"), col("e.hi").as("hi"),
          col("c"), col("e.o").as("o")))
      if (sel.isEmpty) active = false
      else {
        // an edge may be the min of BOTH its components — dedup in-round;
        // across rounds its endpoints share a component, so never again
        acc += sel.select("lo", "hi", "w").distinct()
        val merged = connectedComponentsStar(
          sel.select(col("c").as("src"), col("o").as("dst")),
          smallCutoff = smallCutoff)
          .select(col("v").as("c"), col("component").as("c2"))
        comp = break(comp.join(merged, Seq("c"), "left")
          .select(col("v"), coalesce(col("c2"), col("c")).as("c")))
        iter += 1
      }
    }
    if (active)
      throw new IllegalStateException(
        s"msfEdges did not converge in $maxIters rounds")
    acc.reduceOption(_ union _).getOrElse(und.select("lo", "hi", "w").limit(0))
  }

  /** Bounded-radius Brandes betweenness from seed sources (Brandes
    * 2001, "A faster algorithm for betweenness centrality" — public;
    * seed/pivot sampling per Brandes &amp; Pich 2007): level-synchronous
    * BFS accumulates exact INTEGER shortest-path counts σ, then the
    * dependency sweep runs the levels backwards with
    * δ(v) = Σ_{(v,w), hop(w)=hop(v)+1} ⌊σ_v · (10⁶ + δ_w) / σ_w⌋ —
    * each edge term floor-divided INDEPENDENTLY and summed, so the
    * accumulation is order-free and bit-reproducible in any engine
    * with truncating integer division (the reason this, unlike float
    * Brandes, can be oracle-checked). Paths are truncated at
    * `maxDepth` (δ at the horizon is 0) — the bounded-radius
    * approximation all large-graph betweenness estimators make.
    *
    * Input edges are symmetrized (each undirected pair listed once is
    * enough). Returns one row per (reached vertex, hop ≥ 1):
    * (v, hop, sigma, delta_e6). Run seeds on a product graph
    * (seed-offset vertex ids) to share every round across seeds, as
    * the closeness/landmark queries do. Scale: each BFS level is one
    * hash join + map-side-combinable aggregate on the frontier; the
    * backward sweep the same shape per level; tiny frontiers are
    * plan-truncated with eager localCheckpoint (the NSW truncation rule —
    * per-level codegen compile would dominate otherwise). ANSI mode
    * turns any σ/δ overflow on a pathological graph into a loud error,
    * never silent wrap.
    */
  def betweennessSeeds(
      edgeList: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "v",
      maxDepth: Int = 4,
      smallCutoff: Long = 200000L): DataFrame = {
    require(maxDepth >= 1)
    def break(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val fwd = edgeList.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst"), col("src"))).persist()

    // counted-small fast path (the unionFindComponents discipline): the
    // level-synchronous loop pays ~13 sequential scheduled jobs over a
    // tiny frontier; on a counted-small graph the IDENTICAL Long
    // arithmetic (multiplyExact/addExact = ANSI parity, / ≡ DIV on the
    // non-negative σ/δ terms) runs driver-side in one pass. Gated on
    // IDENTICAL src/dst/seed column types — boxed equality never
    // matches across widths the distributed joins would coerce.
    val keysIdentical = {
      val st = edgeList.schema(srcCol).dataType
      st == edgeList.schema(dstCol).dataType &&
        st == seeds.schema(seedCol).dataType
    }
    val seedSetSmall = seeds.select(col(seedCol).as("v")).distinct()
    if (smallCutoff > 0 && keysIdentical && edges.count() <= 2 * smallCutoff &&
        seedSetSmall.count() <= smallCutoff) {
      import scala.collection.mutable
      val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
      edges.collect().foreach { r =>
        adj.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty[Any]) += r.get(1)
      }
      edges.unpersist()
      val hop = mutable.HashMap.empty[Any, Int]
      val sigma = mutable.HashMap.empty[Any, Long]
      val levels = mutable.ArrayBuffer.empty[Array[Any]]
      val l0v = seedSetSmall.collect().map(_.get(0)).distinct
      l0v.foreach { v => hop.update(v, 0); sigma.update(v, 1L) }
      levels += l0v.toArray[Any]
      for (d <- 1 to maxDepth) {
        val next = mutable.LinkedHashMap.empty[Any, Long]
        levels(d - 1).foreach { v =>
          val sv = sigma(v)
          adj.getOrElse(v, mutable.ArrayBuffer.empty).foreach { w =>
            if (!hop.contains(w))
              next.update(w, Math.addExact(next.getOrElse(w, 0L), sv))
          }
        }
        next.foreach { case (w, sw) => hop.update(w, d); sigma.update(w, sw) }
        levels += next.keysIterator.toArray[Any]
      }
      val delta = mutable.HashMap.empty[Any, Long]
      levels(maxDepth).foreach(v => delta.update(v, 0L))
      for (d <- (maxDepth - 1) to 0 by -1) {
        levels(d).foreach { v =>
          var dsum = 0L
          adj.getOrElse(v, mutable.ArrayBuffer.empty).foreach { w =>
            if (hop.get(w).contains(d + 1))
              dsum = Math.addExact(dsum,
                Math.multiplyExact(sigma(v), Math.addExact(1000000L, delta(w))) / sigma(w))
          }
          delta.update(v, dsum)
        }
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val kt = edgeList.schema(srcCol).dataType
      val spark = edgeList.sparkSession
      val rows = hop.iterator.collect { case (v, h) if h >= 1 =>
        Row(v, h.toLong, sigma(v), delta(v))
      }.toSeq
      return spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("v", kt), StructField("hop", LongType),
          StructField("sigma", LongType), StructField("delta_e6", LongType))))
    }

    // forward: levels(0) = seeds, sigma 1; level d = unseen neighbors
    // of level d-1 with sigma = Σ predecessor sigmas
    val l0 = break(seeds.select(col(seedCol).as("v")).distinct()
      .select(col("v"), lit(0L).as("hop"), lit(1L).as("sigma")))
    var levels = List(l0) // head = deepest
    var visited = l0.select("v")
    for (d <- 1 to maxDepth) {
      val prev = levels.head
      val next = edges
        .join(prev.select(col("v").as("src"), col("sigma")), "src")
        .join(visited, col("dst") === visited("v"), "left_anti")
        .groupBy(col("dst").as("v"))
        .agg(sum("sigma").as("sigma"))
        .select(col("v"), lit(d.toLong).as("hop"), col("sigma"))
      val b = break(next)
      levels = b :: levels
      visited = break(visited.union(b.select("v")))
    }

    // backward: deepest level's delta is 0; each shallower level sums
    // its floor-divided edge terms toward the level below
    var lower = break(levels.head.withColumn("delta", lit(0L)))
    var out = lower
    levels.tail.foreach { lvl =>
      val contrib = edges
        .join(lower.select(col("v").as("dst"), col("sigma").as("sw"),
          col("delta").as("dw")), "dst")
        .select(col("src").as("v"), col("sw"), col("dw"))
        .join(lvl.select(col("v"), col("sigma")), "v")
        .withColumn("term", expr("sigma * (1000000 + dw) DIV sw"))
        .groupBy("v").agg(sum("term").as("dsum"))
      val withDelta = lvl.join(contrib, Seq("v"), "left")
        .select(col("v"), col("hop"), col("sigma"),
          coalesce(col("dsum"), lit(0L)).as("delta"))
      lower = break(withDelta)
      out = out.unionByName(lower)
    }
    edges.unpersist()
    out.filter(col("hop") >= 1)
      .select(col("v"), col("hop"), col("sigma"), col("delta").as("delta_e6"))
  }
  /** Luby-style MAXIMAL INDEPENDENT SET (Luby, "A simple parallel
    * algorithm for the maximal independent set problem", SIAM J.
    * Comput. 15(4), 1986 — public), local-minima variant with
    * md5-derived priorities: each parallel round, every ACTIVE vertex
    * whose priority is strictly below all active neighbors' joins the
    * MIS and deactivates itself plus its neighborhood. Deterministic
    * given the priorities (60-bit md5 of the vertex id — ties are
    * md5-collision improbable; on a tie NEITHER side wins, identically
    * in every implementation). The global minimum always wins, so every
    * round shrinks the active set and a bounded-round unrolled oracle
    * twin is exact.
    *
    * Returns the driver-side convergence trace
    * `(round, n_winners, cum_mis, active_after)` plus the invariant
    * pair (independence verified against the edge set; maximality ≡
    * final active set empty). Throws LOUDLY if `maxRounds` rounds do
    * not converge (the cointegration domain-gate discipline).
    *
    * Adaptive execution (the [[connectedComponents]] contract): a
    * COUNTED-small integral-typed graph collects once and loops on the
    * driver — per-round scheduled jobs on tiny state are pure overhead —
    * with the SAME strict-priority rule in plain Long arithmetic; larger
    * graphs run the distributed per-round loop at TWO scheduled jobs per
    * round (each round's relation is lazily persisted and materialized
    * by the count the trace needs anyway — r8 verdict #3 cut this from
    * four; `smallCutoff = 0` pins the distributed path in tests; the
    * job-count measurement is in OPTIMIZATION_r14.md).
    */
  def lubyMis(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxRounds: Int = 24,
      smallCutoff: Long = 200000L): (Seq[(Int, Long, Long, Long)], Boolean, Boolean) = {
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val und = edgeList
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().persist()
    val adj0 = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
    val prDf = adj0.select(col("v")).distinct()
      .withColumn("pr", expr(
        "CAST(conv(substr(md5(concat('mis', CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)"))

    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val intTypes: Set[org.apache.spark.sql.types.DataType] =
      Set(LongType, IntegerType, ShortType, ByteType)
    val vt = edgeList.schema(srcCol).dataType
    val integral = intTypes.contains(vt) &&
      vt == edgeList.schema(dstCol).dataType

    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var cum = 0L

    if (smallCutoff > 0 && integral && und.count() <= smallCutoff) {
      // counted-small: collect once, loop in IDENTICAL Long arithmetic
      val edges = und.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val pr = prDf.select(col("v").cast("long"), col("pr"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      und.unpersist()
      val nbrs = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      edges.foreach { case (a, b) =>
        nbrs.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        nbrs.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
      }
      val active = scala.collection.mutable.HashSet[Long](pr.keySet.toSeq: _*)
      val mis = scala.collection.mutable.HashSet.empty[Long]
      var r = 1
      while (r <= maxRounds && active.nonEmpty) {
        val winners = active.toArray.filter { v =>
          val actNbr = nbrs(v).iterator.filter(active.contains)
          // strict: a priority tie blocks BOTH sides (matches the SQL)
          actNbr.isEmpty || {
            val mn = nbrs(v).iterator.filter(active.contains).map(pr).min
            pr(v) < mn
          }
        }
        winners.foreach { v =>
          mis += v; active -= v
          nbrs(v).foreach(active -= _)
        }
        cum += winners.length
        trace += ((r, winners.length.toLong, cum, active.size.toLong))
        r += 1
      }
      if (active.nonEmpty) throw new IllegalStateException(
        s"lubyMis: ${active.size} vertices still active after $maxRounds rounds " +
          "- raise maxRounds (see scaladoc convergence note)")
      val independent = !edges.exists { case (a, b) => mis(a) && mis(b) }
      (trace.toSeq, independent, true)
    } else {
      // Two scheduled jobs per round, down from four (r8 verdict #3):
      // each round materializes exactly two checkpointed relations — the
      // win-labeled active set and the survivor set — and the counts the
      // trace needs ride those SAME actions as `observe` metrics
      // (CollectMetrics fires during the checkpoint job; proven for both
      // localCheckpoint and reliable checkpoint), so the standalone
      // count jobs are gone. Checkpoint (not persist) is load-bearing:
      // the survivor plan references the label plan TWICE (directly and
      // through the winners' neighborhoods), so an untruncated lineage
      // doubles per round — an exponential plan DAG that OOMs anything
      // walking it as a tree (explain string, canonicalization).
      //
      // The adjacency is checkpointed PRE-PARTITIONED on each join key
      // it serves (u for the neighbor-min pass, v for the kill pass) —
      // LogicalRDD preserves the hash partitioning, so across ALL
      // rounds only the shrinking active set moves; the data-sized edge
      // relation never re-exchanges. That is the per-round shuffle
      // story that survives a graph 100× this size (where the active
      // side stops being broadcastable and both sides of an unprepared
      // join would re-shuffle every round).
      val adjByU = break(adj0.repartition(col("u")))
      val adjByV = break(adj0.repartition(col("v")))
      und.unpersist()
      var active = break(prDf)
      var misParts = List.empty[DataFrame]
      var r = 1
      var remaining = active.count()
      while (r <= maxRounds && remaining > 0) {
        val nbrMin = adjByU
          .join(active.select(col("v").as("u"), col("pr").as("pru")), "u")
          .groupBy("v").agg(min("pru").as("mn"))
        val obsW = org.apache.spark.sql.Observation()
        val lab = break(active.join(nbrMin, Seq("v"), "left_outer")
          .withColumn("win", col("mn").isNull || col("pr") < col("mn"))
          .select("v", "pr", "win")
          .observe(obsW, count(when(col("win"), 1)).as("nw")))
        val nW = obsW.get("nw").asInstanceOf[Long]
        misParts = lab.filter(col("win")).select("v") :: misParts
        val w = lab.filter(col("win")).select("v")
        val killed = adjByV.join(w, "v").select(col("u").as("v")) // dup keys are free under anti-join semantics: no distinct shuffle
        val obsA = org.apache.spark.sql.Observation()
        active = break(lab.filter(!col("win"))
          .join(killed, Seq("v"), "left_anti")
          .select("v", "pr")
          .observe(obsA, count(lit(1)).as("n")))
        remaining = obsA.get("n").asInstanceOf[Long]
        cum += nW
        trace += ((r, nW, cum, remaining))
        r += 1
      }
      if (remaining > 0) throw new IllegalStateException(
        s"lubyMis: $remaining vertices still active after $maxRounds rounds " +
          "- raise maxRounds (see scaladoc convergence note)")
      val mis = misParts.reduce(_ unionAll _)
      val bad = adjByV.join(mis, "v")
        .join(mis.select(col("v").as("u")), "u").count()
      (trace.toSeq, bad == 0L, true)
    }
  }
  /** Greedy MAXIMAL MATCHING by parallel mutual-minimum rounds (the
    * "local max" matching of Israeli-Itai, Inf. Process. Lett. 22,
    * 1986 — public): each round, an active edge is matched iff its
    * md5-derived priority is the minimum over the incident active
    * edges of BOTH endpoints; matched endpoints deactivate. The global
    * minimum edge always wins, so rounds drain the active edge set and
    * a bounded unrolled oracle is exact. The pipeline use is MERGE
    * SCHEDULING: over a near-dup pair graph, a maximal matching is the
    * largest conflict-free batch of pairwise merges one pass can apply.
    *
    * Returns the trace `(round, n_matched, cum_matched,
    * active_edges_after)` plus (disjoint_ok, maximal_ok). Adaptive
    * execution and the loud round-budget throw follow [[lubyMis]].
    */
  def greedyMatching(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxRounds: Int = 24,
      smallCutoff: Long = 200000L): (Seq[(Int, Long, Long, Long)], Boolean, Boolean) = {
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val und = edgeList
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .withColumn("pr", expr(
        "CAST(conv(substr(md5(concat('match:', CAST(a AS STRING), ':', " +
          "CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
      .persist()

    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val intTypes: Set[org.apache.spark.sql.types.DataType] =
      Set(LongType, IntegerType, ShortType, ByteType)
    val vt = edgeList.schema(srcCol).dataType
    val integral = intTypes.contains(vt) &&
      vt == edgeList.schema(dstCol).dataType

    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var cum = 0L

    if (smallCutoff > 0 && integral && und.count() <= smallCutoff) {
      val edges = und.select(col("a").cast("long"), col("b").cast("long"), col("pr"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      und.unpersist()
      val activeV = scala.collection.mutable.HashSet.empty[Long]
      edges.foreach { e => activeV += e._1; activeV += e._2 }
      val matchedV = scala.collection.mutable.HashSet.empty[Long]
      var matchedCount = 0L
      var actE = edges
      var r = 1
      while (r <= maxRounds && actE.nonEmpty) {
        val mn = scala.collection.mutable.HashMap.empty[Long, Long]
        actE.foreach { case (a, b, pr) =>
          mn(a) = math.min(mn.getOrElse(a, Long.MaxValue), pr)
          mn(b) = math.min(mn.getOrElse(b, Long.MaxValue), pr)
        }
        val winners = actE.filter { case (a, b, pr) => pr == mn(a) && pr == mn(b) }
        winners.foreach { case (a, b, _) =>
          if (matchedV(a) || matchedV(b)) throw new IllegalStateException(
            "greedyMatching: priority tie produced overlapping matches")
          matchedV += a; matchedV += b; activeV -= a; activeV -= b
        }
        cum += winners.length
        actE = actE.filter(e => activeV(e._1) && activeV(e._2))
        trace += ((r, winners.length.toLong, cum, actE.length.toLong))
        r += 1
      }
      if (actE.nonEmpty) throw new IllegalStateException(
        s"greedyMatching: ${actE.length} edges still active after $maxRounds rounds")
      (trace.toSeq, true, true)
    } else {
      // Two scheduled jobs per round, down from five (the lubyMis r9
      // checkpoint+observe discipline): each round checkpoints the
      // win-labeled edge relation and the survivor relation, with the
      // trace counts riding the same actions as observe metrics. The
      // explicit active-VERTEX relation is gone: an edge survives iff it
      // survived every prior round and touches no newly matched
      // endpoint, so the next round's active edges are a slice of this
      // round's labeled relation (identical set to the old
      // ed ⋈ activeV ⋈ activeV form). Checkpoint truncation is
      // load-bearing — see lubyMis (exponential plan DAG otherwise).
      var ae = break(und.select("a", "b", "pr"))
      und.unpersist()
      var matchedParts = List.empty[DataFrame]
      var r = 1
      var actEdges = ae.count()
      while (r <= maxRounds && actEdges > 0) {
        val mn = ae.select(col("a").as("v"), col("pr"))
          .unionAll(ae.select(col("b").as("v"), col("pr")))
          .groupBy("v").agg(min("pr").as("mn"))
        val obsW = org.apache.spark.sql.Observation()
        val lab = break(ae
          .join(mn.select(col("v").as("a"), col("mn").as("mna")), "a")
          .join(mn.select(col("v").as("b"), col("mn").as("mnb")), "b")
          .withColumn("win", col("pr") === col("mna") && col("pr") === col("mnb"))
          .select("a", "b", "pr", "win")
          .observe(obsW, count(when(col("win"), 1)).as("nw")))
        val nW = obsW.get("nw").asInstanceOf[Long]
        matchedParts = lab.filter(col("win")).select("a", "b") :: matchedParts
        val w = lab.filter(col("win"))
        val mv = w.select(col("a").as("v")).unionAll(w.select(col("b").as("v")))
        val obsA = org.apache.spark.sql.Observation()
        ae = break(lab.filter(!col("win"))
          .join(mv.select(col("v").as("a")), Seq("a"), "left_anti")
          .join(mv.select(col("v").as("b")), Seq("b"), "left_anti")
          .select("a", "b", "pr")
          .observe(obsA, count(lit(1)).as("n")))
        actEdges = obsA.get("n").asInstanceOf[Long]
        cum += nW
        trace += ((r, nW, cum, actEdges))
        r += 1
      }
      if (actEdges > 0) throw new IllegalStateException(
        s"greedyMatching: $actEdges edges still active after $maxRounds rounds")
      val matched = matchedParts.reduce(_ unionAll _)
      val mvAll = matched.select(col("a").as("v"))
        .unionAll(matched.select(col("b").as("v")))
      val disjoint = mvAll.groupBy("v").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).count() == 0L
      (trace.toSeq, disjoint, true)
    }
  }
  /** Iterated-MIS GREEDY COLORING (the classic parallel scheduling
    * construction: repeatedly run [[lubyMis]]'s local-minima rule and
    * peel the class off — every class is independent by construction,
    * so each color is a batch of mutually non-conflicting work). Runs
    * `colors` iterations and reports, per color, the class size and
    * the remaining-vertex count — the remainder after k colors is the
    * vertices a k-wave schedule cannot place (the graph's cliques can
    * exceed k). Isolated remaining vertices all join the next class
    * (no active neighbor → winner), so remaining strictly shrinks.
    *
    * Returns (per-color trace (color, n_colored, n_remaining),
    * independent_ok re-verified against the edge set). Adaptive
    * counted-small / distributed execution and the loud per-color
    * round-budget throw follow [[lubyMis]].
    */
  def greedyColoring(
      edgeList: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      colors: Int = 3,
      maxRounds: Int = 12,
      smallCutoff: Long = 200000L): (Seq[(Int, Long, Long)], Boolean) = {
    val s = edgeList.sparkSession
    val ckDir = s.conf.getOption("spark.graft.checkpointDir")
    ckDir.foreach(s.sparkContext.setCheckpointDir)
    def break(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    val und = edgeList
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().persist()
    val adj0 = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
    val prDf = adj0.select(col("v")).distinct()
      .withColumn("pr", expr(
        "CAST(conv(substr(md5(concat('mis', CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)"))

    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val intTypes: Set[org.apache.spark.sql.types.DataType] =
      Set(LongType, IntegerType, ShortType, ByteType)
    val vt = edgeList.schema(srcCol).dataType
    val integral = intTypes.contains(vt) &&
      vt == edgeList.schema(dstCol).dataType

    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]

    if (smallCutoff > 0 && integral && und.count() <= smallCutoff) {
      val edges = und.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val pr = prDf.select(col("v").cast("long"), col("pr"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      und.unpersist()
      val nbrs = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      edges.foreach { case (a, b) =>
        nbrs.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        nbrs.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
      }
      val remaining = scala.collection.mutable.HashSet[Long](pr.keySet.toSeq: _*)
      val classes = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      (1 to colors).foreach { c =>
        val active = scala.collection.mutable.HashSet[Long](remaining.toSeq: _*)
        val mis = scala.collection.mutable.HashSet.empty[Long]
        var r = 1
        while (r <= maxRounds && active.nonEmpty) {
          val winners = active.toArray.filter { v =>
            val act = nbrs(v).iterator.filter(active.contains)
            act.isEmpty || pr(v) < nbrs(v).iterator.filter(active.contains).map(pr).min
          }
          winners.foreach { v =>
            mis += v; active -= v
            nbrs(v).foreach(active -= _)
          }
          r += 1
        }
        if (active.nonEmpty) throw new IllegalStateException(
          s"greedyColoring: color $c not drained after $maxRounds rounds")
        remaining --= mis
        classes += mis.toSet
        trace += ((c, mis.size.toLong, remaining.size.toLong))
      }
      val independent = classes.forall { cls =>
        !edges.exists { case (a, b) => cls(a) && cls(b) }
      }
      (trace.toSeq, independent)
    } else {
      // Inner Luby loop at two scheduled jobs per round (the lubyMis r9
      // checkpoint+observe discipline): the win-labeled relation and the
      // survivor relation are the only materializations; the survivor
      // count rides its checkpoint as an observe metric. The adjacency
      // is checkpointed pre-partitioned per join key (see lubyMis) so it
      // never re-exchanges across rounds OR colors.
      val adjByU = break(adj0.repartition(col("u")))
      val adjByV = break(adj0.repartition(col("v")))
      und.unpersist()
      var remaining = break(prDf)
      var classParts = List.empty[DataFrame]
      (1 to colors).foreach { c =>
        var active = remaining
        var misParts = List.empty[DataFrame]
        var r = 1
        var nActive = active.count()
        while (r <= maxRounds && nActive > 0) {
          val nbrMin = adjByU
            .join(active.select(col("v").as("u"), col("pr").as("pru")), "u")
            .groupBy("v").agg(min("pru").as("mn"))
          val lab = break(active.join(nbrMin, Seq("v"), "left_outer")
            .withColumn("win", col("mn").isNull || col("pr") < col("mn"))
            .select("v", "pr", "win"))
          misParts = lab.filter(col("win")).select("v") :: misParts
          val w = lab.filter(col("win")).select("v")
          val killed = adjByV.join(w, "v").select(col("u").as("v")) // dup keys are free under anti-join semantics: no distinct shuffle
          val obsA = org.apache.spark.sql.Observation()
          active = break(lab.filter(!col("win"))
            .join(killed, Seq("v"), "left_anti")
            .select("v", "pr")
            .observe(obsA, count(lit(1)).as("n")))
          nActive = obsA.get("n").asInstanceOf[Long]
          r += 1
        }
        if (nActive > 0) throw new IllegalStateException(
          s"greedyColoring: color $c not drained after $maxRounds rounds")
        val mis = break(misParts.reduce(_ unionAll _))
        classParts = mis.withColumn("color", lit(c)) :: classParts
        remaining = break(remaining.join(mis, Seq("v"), "left_anti"))
        trace += ((c, mis.count(), remaining.count()))
      }
      val allClasses = classParts.reduce(_ unionByName _)
      val bad = adjByV
        .join(allClasses, "v")
        .join(allClasses.select(col("v").as("u"), col("color").as("color2")), "u")
        .filter(col("color") === col("color2")).count()
      (trace.toSeq, bad == 0L)
    }
  }
}



