package graft

import graft.ops.Scale
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Proof tests for the scale levers: salted aggregation equals direct
  * aggregation; bucketed tables join WITHOUT a shuffle.
  */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = GraftSession("local[4]", 4)
    // no broadcast joins: the pins below read the shuffles of sort-merge
    // joins, and AQE's 64m SMJ->SHJ rewrite keeps their keys and exchanges
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("saltedAgg == direct groupBy agg under a hot key") {
    import spark.implicits._
    // 90% of rows share one hot key
    val df = (1 to 10000).map(i => (if (i % 10 == 0) s"k${i % 7}" else "HOT", i.toDouble))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    val salted = Scale.saltedAgg(df, col("k"), salts = 16,
        (col("v"), "sum", "sum_v"), (col("v"), "count", "n"))
      .withColumnRenamed("_key", "k").orderBy("k").collect()
    assert(direct.map(_.toSeq).toSeq == salted.map(_.toSeq).toSeq)
  }

  test("saltedJoin == direct join under a hot key; shuffle keys widened by the salt") {
    import spark.implicits._
    // 90% of big-side rows land on one hot key
    val big = (1 to 20000).map(i => (if (i % 10 == 0) i % 7 else 3, i.toLong))
      .toDF("k", "v")
    val dim = (0 to 6).map(k => (k, s"d$k")).toDF("dk", "tag")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("tag").agg(sum("v").as("s"), count(lit(1)).as("n"))
        .orderBy("tag").collect().map(_.toSeq).toSeq
    assert(agg(Scale.saltedJoin(big, dim, "k", "dk", 8)) ==
      agg(big.join(dim, big("k") === dim("dk"))))
    // anti join: a key matches in its own salt bucket iff it matches at all
    assert(Scale.saltedJoin(big, dim.filter(col("dk") =!= 3), "k", "dk", 8,
      "left_anti").count() ==
      big.join(dim.filter(col("dk") =!= 3), big("k") === dim("dk"), "left_anti").count())
    // plan: the big side's exchange must partition on (key, salt) — the
    // widened key space IS the operator
    val df = Scale.saltedJoin(big, dim, "k", "dk", 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("hashpartitioning\\([^)]*_salt".r.findFirstIn(plan).nonEmpty,
      s"salt missing from the exchange keys:\n$plan")
    // replication-unsound join types are rejected loudly
    val ex = intercept[IllegalArgumentException] {
      Scale.saltedJoin(big, dim, "k", "dk", 8, "full_outer")
    }
    assert(ex.getMessage.contains("replicated"))
  }

  test("layout_zorder: interleaved bucket spans are bounded on BOTH keys (zone-map prunability)") {
    // 64 z-buckets fix the top 3 bits of EACH 10-bit dimension, so the
    // within-bucket span of either quantized key is at most 2^7 - 1 —
    // the invariant that makes min/max zone maps prune 2-predicate
    // scans. A single-key sort bounds one span and leaves the other
    // at ~full range (1023).
    val rows = graft.queries.Analytics.qZorderLayout
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= 127, s"p_span ${r.getLong(2)} exceeds the interleave bound")
      assert(r.getLong(3) <= 127, s"s_span ${r.getLong(3)} exceeds the interleave bound")
    }
  }

  test("quality_repetition plans shuffle-free per-doc stats (no hash exchange)") {
    // the run-length-fold rewrite must keep per-doc repetition stats a
    // pure map-side computation: the ONLY exchange allowed is the final
    // presentation ORDER BY (range partitioning) — a hash exchange means
    // an aggregation shuffle crept back in
    val plan = graft.queries.TextOps.qualityRepetition
      .fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"per-doc stats must not shuffle on a hash key:\n$plan")
  }

  test("text_bm25 top-20 plans as TakeOrderedAndProject, not a global sort") {
    val plan = graft.queries.TextOps.textBm25
      .fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k + merge:\n$plan")
  }

  test("stratified sample / budget cap plan per-stratum windows (no empty-frame global window)") {
    val p1 = graft.queries.TextOps.stratifiedSample
      .fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    val p2 = graft.queries.TextOps.packTokenBudget
      .fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    for ((p, n) <- Seq((p1, "stratified_sample"), (p2, "pack_token_budget")))
      assert(!p.contains("Window Partition Specification: Empty") &&
        !p.toLowerCase.contains("no partition defined for window"),
        s"$n has a single-task global window:\n$p")
  }

  test("runtime bloom filter from a filtered dim prunes the fact scan side") {
    import spark.implicits._
    // at 100 TB the win: a selective dim filter becomes a bloom filter
    // APPLIED ON THE FACT SIDE before the shuffle — rows that can't join
    // never leave the scan stage
    val dir = Files.createTempDirectory("graft_bloom").toString
    (1L to 200000L).map(i => (i % 5000, s"payload$i")).toDF("k", "p")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 5000L).map(i => (i, i % 97)).toDF("k", "cat")
      .write.mode("overwrite").parquet(s"$dir/dim")
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("cat") === 13)
      val j = fact.join(dim, "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$plan")
      assert(j.count() == 52L * 40L, "52 dim keys x 40 fact rows per key")
    }
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned writes prune at the source (PartitionFilters)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_part").toString
    (1 to 1000).map(i => (s"type${i % 5}", i.toLong, i * 1.5))
      .toDF("event_type", "id", "v")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val filtered = spark.read.parquet(dir).filter(col("event_type") === "type3")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter missing:\n$plan")
    assert(filtered.count() == 200)
  }

  test("bucketed co-located join is shuffle-free (SortMergeJoin, no Exchange)") {
    import spark.implicits._
    val facts = (1L to 5000L).map(i => (i % 100, s"f$i")).toDF("k", "payload")
    val dims = (0L until 100L).map(i => (i, s"d$i")).toDF("k", "attr")
    val dir = Files.createTempDirectory("graft_bucketed").toString
    facts.write.mode("overwrite").option("path", s"$dir/facts").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_facts_b")
    dims.write.mode("overwrite").option("path", s"$dir/dims").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_dims_b")
    val joined = spark.table("graft_facts_b").join(spark.table("graft_dims_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
    assert(!plan.contains("Exchange"), s"expected NO shuffle, got:\n$plan")
    assert(joined.count() == 5000)
  }

  test("sorted parquet layout skips row groups/files on a range predicate (zone maps)") {
    import spark.implicits._
    // same 20k rows, two physical layouts split into 20 files each:
    // sorted by `v` (tight per-file min/max) vs round-robin (every file
    // spans the whole domain). Parquet's pushed range filter prunes by
    // footer stats, so the scan's output-row metric — rows SURVIVING
    // row-group/file pruning — collapses only for the sorted layout.
    val rnd = new scala.util.Random(5)
    val df = (1 to 20000).map(_ => rnd.nextInt(1000000)).toDF("v")
    val dir = Files.createTempDirectory("graft_zonemap").toString
    df.orderBy("v").coalesce(1)
      .write.option("maxRecordsPerFile", 1000).parquet(s"$dir/sorted")
    df.repartition(20).write.parquet(s"$dir/shuffled")
    def scannedRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("v") < 50000)
      q.collect()
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val sorted = scannedRows(s"$dir/sorted")
    val shuffled = scannedRows(s"$dir/shuffled")
    val kept = df.filter(col("v") < 50000).count()
    assert(sorted < shuffled / 4,
      s"sorted layout scanned $sorted rows vs $shuffled — no zone-map pruning happened")
    assert(sorted >= kept, "scan cannot output fewer rows than the true matches")
  }

  test("bucketized interval join plans as a hash/merge join, not a nested loop") {
    val plan = graft.queries.Analytics.qIntervalBucketJoin
      .fn(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on the bucket key:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    // one hot key owns ~200k rows; thresholds lowered so local-scale data
    // trips the same detector a 100 TB job relies on
    val conf = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pad = "x" * 100
      val left = (1 to 100000).map(i => (if (i % 20 == 0) i.toLong % 1000 else 999999L, pad))
        .toDF("k", "payload")
      val right = ((0L until 1000L) :+ 999999L).map(i => (i, s"attr_$i")).toDF("k", "attr")
      val joined = left.join(right, "k")
      // execute THIS plan (count() would build a separate QueryExecution
      // whose adaptive stages we couldn't inspect afterwards)
      assert(joined.collect().length == 100000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE skew split missing from final plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("round-3 operators plan scale-shaped: top-k heaps, equi-joins only, one profiler scan") {
    val sf = "/root/testdata/sf0.001"
    // sample_priority: global top-k must be per-partition heaps + merge,
    // never a full sort
    val pr = graft.queries.TextOps.samplePriority
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(pr.contains("TakeOrderedAndProject"), s"priority sample sorts globally:\n$pr")
    // graph_triangles: wedge closure is equi-keyed joins end to end — a
    // cartesian/broadcast-NLJ means the orientation trick fell out
    val tri = graft.queries.Analytics.qTriangles
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!tri.contains("CartesianProduct") && !tri.contains("BroadcastNestedLoopJoin"),
      s"triangle counting must stay equi-keyed:\n$tri")
    // data_profile: ONE scan of lineitem (multi-distinct goes through
    // expand, not repeated scans)
    // (string-count the scans: AQE hides unmaterialized stages from a
    // typed collect)
    val prof = graft.queries.Quality.dataProfile.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(prof).size
    assert(scans == 1, s"profiler must read the table once, saw $scans scans:\n$prof")
    // ts_ewma: the fold is one hash aggregation — no window, no join
    val ew = graft.queries.Series.tsEwma.fn(spark, sf).queryExecution.executedPlan.toString
    assert(!ew.contains("Window") && !ew.contains("Join"),
      s"ewma fold must be a pure aggregate:\n$ew")
  }

  test("round-5 operators plan scale-shaped: partitioned windows, broadcast models, equi-joins") {
    val sf = "/root/testdata/sf0.001"
    // q_asof_nearest: ONE partitioned window scan, no join, and no
    // single-partition global window
    val near = graft.queries.Analytics.qAsofNearest
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!near.contains("Join"), s"nearest as-of must be join-free:\n$near")
    assert(!near.contains("windowspecdefinition()"),
      s"nearest as-of window must be user-partitioned:\n$near")
    // text_lm_bigram: the bigram model joins back BROADCAST (vocabulary-
    // sized build side), never a shuffled join of the corpus
    val lm = graft.queries.TextOps.textLmBigram
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(lm.contains("BroadcastHashJoin"), s"LM model join must broadcast:\n$lm")
    // graph_jaccard_nbrs: wedge join stays equi-keyed — a cartesian means
    // the shared-item keying fell out
    val jac = graft.queries.Graphs.jaccardNbrs
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!jac.contains("CartesianProduct") && !jac.contains("BroadcastNestedLoopJoin"),
      s"neighborhood jaccard must stay equi-keyed:\n$jac")
    // ts_holt_forecast: like the EWMA fold — one aggregate, no window/join
    val ho = graft.queries.Series.tsHoltForecast
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!ho.contains("Window") && !ho.contains("Join"),
      s"holt fold must be a pure aggregate:\n$ho")
    // sketch_kmv_setops: per-side sketches are top-k heaps, never a
    // global sort of the key sets
    // (the cross joins in this plan are 1-row × 1-row scalar estimates —
    // cartesian by construction and size-bounded, so only the heap-select
    // shape is asserted)
    val kv = graft.queries.Sketches.kmvSetOps
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(kv.contains("TakeOrderedAndProject"), s"KMV sketch must heap-select:\n$kv")
  }

  test("round-4 operators plan scale-shaped: equi-joins, heap top-k, bounded windows") {
    val sf = "/root/testdata/sf0.001"
    // dedup_max_span: the gram-index self-join must stay equi-keyed on
    // the gram hash — a cartesian/BNLJ means the inverted-index keying
    // fell out and the dotplot went all-pairs
    val span = graft.queries.Dedup.dedupMaxSpan
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!span.contains("CartesianProduct") && !span.contains("BroadcastNestedLoopJoin"),
      s"span dedup must stay an inverted-index equi-join:\n$span")
    assert(!span.contains("windowspecdefinition()"),
      s"span dedup windows must be partitioned (gram hash / pair-diagonal):\n$span")
    // basket_pairs: supports broadcast, top-20 is a heap, pair join
    // equi-keyed on the order key
    val bp = graft.queries.Analytics.qBasketPairs
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(bp.contains("TakeOrderedAndProject"), s"basket top-k must heap-select:\n$bp")
    assert(!bp.contains("CartesianProduct"),
      s"basket pair join must stay equi-keyed on the order key:\n$bp")
    // q_asof_tolerance: same equi-join + partitioned-window shape as the
    // plain as-of — the tolerance bound must not degrade the join
    val tol = graft.queries.Analytics.qAsofTolerance
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!tol.contains("CartesianProduct") && !tol.contains("BroadcastNestedLoopJoin"),
      s"tolerance as-of must stay an equi-join:\n$tol")
    // hybrid_rrf: both rankings are distributed top-k heaps, not sorts
    val rrf = graft.queries.Similarity.hybridRrf
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(rrf.contains("TakeOrderedAndProject"),
      s"hybrid RRF top-50s must heap-select:\n$rrf")
    // warehouse_clamped_balance: a true sorted fold — no window, and the
    // only join would mean the fold state escaped the aggregate
    val cb = graft.queries.Analytics.qClampedBalance
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!cb.contains("Window") && !cb.contains("Join"),
      s"clamped balance must be a pure sorted-fold aggregate:\n$cb")
    // ts_theil_sen / ts_crosscorr: pair joins stay equi-keyed (series /
    // hour-grid key) — a cartesian means the grid keying fell out
    for ((n, q) <- Seq("theil_sen" -> graft.queries.Series.tsTheilSen,
        "crosscorr" -> graft.queries.Series.tsCrossCorr)) {
      val p = q.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n pair join must stay equi-keyed:\n$p")
    }
    // dedup_span_apply: coverage test is an anti-join keyed on the doc
    // id, not an all-pairs scan
    val sa = graft.queries.Dedup.dedupSpanApply
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!sa.contains("CartesianProduct"),
      s"span apply must stay doc-keyed:\n$sa")
  }

  test("round-5 additions plan scale-shaped: keyed joins, bounded broadcasts, no cartesians") {
    val sf = "/root/testdata/sf0.001"
    // pipeline_chunk_index: chunk explode + md5 dedup + packer — every
    // join keyed (chunk hash / shard), nothing all-pairs
    val ci = graft.queries.TextOps.pipelineChunkIndex
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!ci.contains("CartesianProduct") && !ci.contains("BroadcastNestedLoopJoin"),
      s"chunk-index pipeline must stay keyed:\n$ci")
    // sample_temperature: the only windows are the #strata cumsum and
    // the per-source rank — no data-sized global window (WindowAudit
    // enforces registry-wide; asserted here for the plan too)
    val st = graft.queries.TextOps.sampleTemperature
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!st.contains("CartesianProduct"),
      s"temperature mixing must stay keyed/broadcast:\n$st")
    // span keep-best: quality join + anti-join stay doc-keyed
    val sb = graft.queries.Dedup.dedupSpanApplyBest
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!sb.contains("CartesianProduct"),
      s"keep-best span apply must stay doc-keyed:\n$sb")
    // NSW / HNSW: the only nested-loop is the bounded broadcast hub scan
    // (hubs = N/50 rows by construction); the wedge/beam joins are keyed
    for ((nm, qq) <- Seq("nsw" -> graft.queries.Similarity.annNswBeam,
        "hnsw" -> graft.queries.Similarity.annHnswLayers)) {
      val p = qq.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$nm beam must not plan an unbounded cartesian:\n$p")
    }
  }

  test("round-5 third-pass operators plan scale-shaped") {
    val sf = "/root/testdata/sf0.001"
    // weighted link prediction: wedge join keyed on the middle vertex,
    // strength join keyed, anti-join keyed — nothing all-pairs
    val lw = graft.queries.Graphs.linkPredictWeighted
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!lw.contains("CartesianProduct") && !lw.contains("BroadcastNestedLoopJoin"),
      s"weighted link prediction must stay keyed:\n$lw")
    // DSIR: the bigram model joins back BROADCAST (vocabulary-sized),
    // the only nested-loop is the 1-row totals broadcast
    val ds = graft.queries.TextOps.qualityDsirWeights
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(ds.contains("BroadcastHashJoin"),
      s"DSIR model join must broadcast:\n$ds")
    assert(!ds.contains("CartesianProduct"), s"DSIR must not cartesian:\n$ds")
    // curriculum: only partitioned windows (tier × shard + per-tier
    // offsets) — no empty-frame global window over the data
    val cu = graft.queries.TextOps.pipelineCurriculum
      .fn(spark, sf).queryExecution.analyzed
    var bad = 0
    cu.foreach {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => bad += 1
      case _ => ()
    }
    assert(bad == 0, "curriculum must not plan a global window")
    // ROUGE: gram-overlap joins keyed on (doc, gram); pair mining keyed
    // on the shingle — never corpus × corpus
    val rp = graft.queries.Dedup.rougePairs
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!rp.contains("CartesianProduct") && !rp.contains("BroadcastNestedLoopJoin"),
      s"ROUGE overlap must stay keyed:\n$rp")
    // ANF: sketch path is two keyed shuffles; exact verifier keyed on
    // the supplier — no vertex×vertex product anywhere
    val an = graft.queries.Graphs.reachAnf
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!an.contains("CartesianProduct") && !an.contains("BroadcastNestedLoopJoin"),
      s"ANF must stay keyed:\n$an")
  }

  test("round-6 operators plan scale-shaped: banded phash join capped, keyed windows only") {
    val sf = "/root/testdata/sf0.001"
    // phash pair miner: candidates come from an EQUI-join on the band
    // key (pigeonhole), never an all-pairs product, and the band
    // buckets pass through the capGroups hot-key bound (`_gn` window)
    val pp = graft.queries.TextOps.multimodalPhashPairs.fn(spark, sf)
    val ppPlan = pp.queryExecution.executedPlan.toString
    assert(!ppPlan.contains("CartesianProduct") &&
      !ppPlan.contains("BroadcastNestedLoopJoin"),
      s"phash pairs must stay band-keyed:\n$ppPlan")
    var capWindows = 0
    pp.queryExecution.analyzed.foreach {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.nonEmpty => capWindows += 1
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        fail(s"phash pairs plans a global window: $w")
      case _ => ()
    }
    assert(capWindows >= 1, "phash pairs must plan the capGroups bucket window")
    // phash manifest: pure per-row decode — no join anywhere in the plan
    val ph = graft.queries.TextOps.multimodalPhash
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!ph.contains("Join"), s"phash manifest must be join-free:\n$ph")
    // SAX: every window (ntile / lead chains) is partitioned per series
    val sx = graft.queries.Series.tsSax.fn(spark, sf).queryExecution.analyzed
    sx.foreach {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => fail(s"ts_sax plans a global window: $w")
      case _ => ()
    }
    // readability: two keyed partial aggs, no join, no window
    val rd = graft.queries.Quality.qualityReadability
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(!rd.contains("Join"), s"readability must be join-free:\n$rd")
  }

  test("round-6 second-pass operators plan scale-shaped: broadcast dims, keyed windows, equi-joins") {
    val sf = "/root/testdata/sf0.001"
    def planOf(q: graft.Q): String = q.fn(spark, sf).queryExecution.executedPlan.toString
    // TPC-H star shapes: dimensions broadcast, fact scanned once, no
    // nested-loop or cartesian anywhere
    for (q <- Seq(graft.queries.Analytics.q9NationYearRevenue,
        graft.queries.Analytics.q16SupplierBreadth,
        graft.queries.Analytics.q18LargeOrders,
        graft.queries.Analytics.q10ReturnedRevenue)) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"${q.name} must stay equi-join only:\n$p")
    }
    assert(planOf(graft.queries.Analytics.q9NationYearRevenue)
      .contains("BroadcastHashJoin"), "q9 must broadcast its dims")
    assert(planOf(graft.queries.Analytics.q16SupplierBreadth)
      .contains("BroadcastHashJoin"), "q16 must broadcast the part dim")
    // ring routing: successor lookup joins as a broadcast EQUI-join
    // (a naive ring successor is an inequality join the lint bans)
    val ring = planOf(graft.queries.Ingest.graphiteHashRing)
    assert(ring.contains("BroadcastHashJoin") &&
      !ring.contains("BroadcastNestedLoopJoin"),
      s"hash ring must equi-join the broadcast lookup:\n$ring")
    // rolling distinct: bounded fan-out + aggregates, no window at all
    val rdq = graft.queries.Analytics.qRollingDistinct.fn(spark, sf)
    rdq.queryExecution.analyzed.foreach {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        fail(s"q_rolling_distinct plans a window: $w")
      case _ => ()
    }
    // new series operators: every window partitioned per series
    for (q <- Seq(graft.queries.Series.tsCounterRate,
        graft.queries.Series.tsAlertFor,
        graft.queries.Series.tsDownsampleM4,
        graft.queries.Series.tsLocfFill)) {
      q.fn(spark, sf).queryExecution.analyzed.foreach {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty =>
          fail(s"${q.name} plans a global window: $w")
        case _ => ()
      }
    }
    // betweenness: the only non-equi product is the 5-row broadcast
    // seed labeling (the intended product-graph construction); the
    // frontier sweeps themselves must never plan a cartesian
    val bw = planOf(graft.queries.Graphs.betweennessSeedsQ)
    assert(!bw.contains("CartesianProduct"),
      s"betweenness must stay frontier-keyed:\n$bw")
  }

  test("capGroups bounds per-group pair blow-up; basket_pairs plans the cap window") {
    import spark.implicits._
    // one pathological giant group (100 items) beside normal ones: the
    // cap must drop the giant ENTIRELY, so downstream self-join pair
    // output is provably <= cap*(cap-1)/2 per group at any data size
    val cap = 16L
    val baskets = ((1 to 100).map(i => ("giant", s"i$i")) ++
      (1 to 5).map(i => ("small_a", s"i$i")) ++
      (1 to 3).map(i => ("small_b", s"i$i"))).toDF("ok", "pk")
    val capped = graft.ops.Scale.capGroups(baskets, "ok", cap)
    val sizes = capped.groupBy("ok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("small_a" -> 5L, "small_b" -> 3L), s"cap left: $sizes")
    val a = capped.select(col("ok"), col("pk").as("pa"))
    val b = capped.select(col("ok"), col("pk").as("pb"))
    val nPairs = a.join(b, "ok").filter(col("pa") < col("pb")).count()
    assert(nPairs == 5 * 4 / 2 + 3 * 2 / 2, s"pairs after cap: $nPairs")
    // the giant basket alone would have contributed 100*99/2 pairs
    assert(nPairs <= sizes.size * cap * (cap - 1) / 2)
    // basket_pairs itself: the cap window must partition on the order
    // key (no degenerate global window) and the plan stays equi-keyed
    val bp = graft.queries.Analytics.qBasketPairs
      .fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(bp.contains("Window"), s"basket cap window missing from plan:\n$bp")
    assert(!bp.contains("windowspecdefinition()"),
      s"basket cap window must partition on the order key:\n$bp")
  }

  test("exact shingle pair-miners are df-capped: hot grams cannot emit df^2 pairs") {
    import spark.implicits._
    // a boilerplate footer gram shared by every doc + one real dup pair:
    // the df cap must drop the hot gram entirely and keep the dup signal
    val cap = 8L
    val docs = ((1 to 50).map(i => (i.toLong, s"unique text number $i all rights reserved")) ++
      Seq((100L, "the quick brown fox jumps"), (101L, "the quick brown fox jumps"))).toDF("doc_id", "text")
    val sh = graft.ops.Scale.capGroups(
      graft.ops.Lsh.shingles(docs, "doc_id", "text", n = 3), "sh", cap)
    val dfs = sh.groupBy("sh").count()
    assert(dfs.filter(col("count") > cap).count() == 0, "a gram survived over the cap")
    // "all rights reserved" (df=50) is gone; the dup gram (df=2) survives
    assert(sh.filter(col("sh") === "all rights reserved").count() == 0)
    assert(sh.filter(col("sh") === "quick brown fox").count() == 2)
    // worst-case pair volume from the capped index is sum over grams of
    // df^2 <= n_grams * cap^2 — bounded per key, never df_raw^2
    val pairs = sh.select(col("doc_id").as("d1"), col("sh"))
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        col("sh") === col("sh2") && col("d1") < col("d2"))
    assert(pairs.count() <= dfs.count() * cap * (cap - 1) / 2)
    // all three registered miners plan the cap window partitioned on the
    // gram (the join key — no extra shuffle, no degenerate global window)
    for (q <- Seq(graft.queries.Dedup.ngramJaccard, graft.queries.Dedup.rougePairs,
        graft.queries.Dedup.lshEval)) {
      val p = q.fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      assert(p.contains("Window"), s"${q.name}: df-cap window missing:\n$p")
      assert(!p.contains("windowspecdefinition()"),
        s"${q.name}: df-cap window must partition on the gram key:\n$p")
      assert(p.contains("_gn"), s"${q.name}: capGroups df filter column missing:\n$p")
    }
    spark.catalog.clearCache()
  }

  test("round-7 hashed-gram miners join on 8-byte long keys, never gram strings") {
    // gram strings must leave every dedup pipeline AT THE EXPLODE: the
    // exchanges and join comparisons below run on the canonical
    // md5-derived 60-bit long (8-byte fixed-width rows instead of
    // ~20-byte strings on the gram-keyed shuffles) — a regression to
    // string keys re-inflates the hottest dedup shuffles by ~2.5x bytes
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.LongType
    for (q <- Seq(graft.queries.Dedup.ngramJaccard, graft.queries.Dedup.rougePairs,
        graft.queries.Dedup.lshEval, graft.queries.Dedup.prefixFilter,
        graft.queries.Dedup.minhashContainment)) {
      val plan = q.fn(spark, "/root/testdata/sf0.001").queryExecution.analyzed
      var checked = 0
      plan.foreach {
        case j: Join =>
          j.condition.foreach(_.foreach {
            case a: AttributeReference if a.name == "sh" || a.name == "sh2" =>
              assert(a.dataType == LongType,
                s"${q.name}: gram join key ${a.name} is ${a.dataType}, not LongType")
              checked += 1
            case _ => ()
          })
        case _ => ()
      }
      assert(checked > 0, s"${q.name}: no gram join key found to check")
    }
    spark.catalog.clearCache()
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    import spark.implicits._
    // the 100-TB layout move: facts partitioned by the join key, dims
    // filtered at runtime — the fact scan must carry a DPP subquery in
    // its PartitionFilters, not read every partition
    val tmp = Files.createTempDirectory("graft_dpp").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("event_id"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    // the dim must be a SCANNED relation: a literal one constant-folds
    // its filter away and DPP sees no selective predicate to reuse
    val dimPath = Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("click", 1), ("view", 0), ("purchase", 0), ("signup", 0),
      ("error", 0)).toDF("event_type", "flag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    // this suite disables auto-broadcast to expose shuffles; DPP rides
    // the broadcast exchange, so restore it for this test only
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      val joined = fact.join(dim.filter(col("flag") === 1), "event_type")
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
      val rows = joined.collect()
      assert(rows.head.getLong(0) > 0, "fixture lost its rows")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"fact scan carries no dynamic partition pruning filter:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }

  test("runtime bloom-filter join: a selective dim filter prunes fact rows at the scan") {
    import spark.implicits._
    // the non-partitioned sibling of the DPP proof: when the fact is NOT
    // laid out by the join key, Spark's runtime bloom filter (built from
    // the filtered dim side) must still prune fact rows before the join
    val tmp = Files.createTempDirectory("graft_bloom").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("event_id"), col("value"))
      .write.mode("overwrite").parquet(s"$tmp/fact")
    Seq(("click", 1), ("view", 0), ("purchase", 0), ("signup", 0),
      ("error", 0)).toDF("event_type", "flag")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val fact = spark.read.parquet(s"$tmp/fact")
    val dim = spark.read.parquet(s"$tmp/dim")
    // note: broadcast stays DISABLED (suite default) — Spark only
    // injects runtime bloom filters into shuffle joins; a broadcast
    // join already ships the whole build side
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val joined = fact.join(dim.filter(col("flag") === 1), "event_type")
        .agg(count(lit(1)).as("n"))
      val rows = joined.collect()
      assert(rows.head.getLong(0) > 0, "fixture lost its rows")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"fact side carries no runtime bloom filter:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("prefix-filter miner: zero recall loss vs brute force; boilerplate grams never join") {
    import spark.implicits._
    // synthetic: a boilerplate footer gram in EVERY doc + one true dup pair
    val docs = ((1 to 50).map(i => (i.toLong, s"unique text number $i all rights reserved")) ++
      Seq((100L, "the quick brown fox jumps all rights reserved"),
        (101L, "the quick brown fox jumps all rights reserved"))).toDF("doc_id", "text")
    val sh = graft.ops.Lsh.shingles(docs, "doc_id", "text", n = 3).persist()
    val pre = graft.ops.Lsh.prefixPostings(sh, "doc_id").persist()
    // the df-52 footer gram is every doc's MOST frequent — never in a prefix
    assert(pre.filter(col("sh") === "all rights reserved").count() == 0,
      "hot boilerplate gram leaked into the prefix postings")
    assert(pre.count() < sh.count(), "prefix postings must be a strict subset")
    // ...and the dup pair still collides on a (rare) prefix gram
    val cand = pre.select(col("doc_id").as("d1"), col("sh"))
      .join(pre.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        col("sh") === col("sh2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    assert(cand.filter(col("d1") === 100L && col("d2") === 101L).count() == 1,
      "prefix join lost the true duplicate pair")

    // zero recall loss on real data: the registered query's pair set must
    // EQUAL the brute-force uncapped all-pairs join at Jaccard >= 1/2
    // (integer form 2*shared >= n1+n2-shared — no float boundary)
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.Dedup.prefixFilter.fn(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.ops.Lsh.shingles(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", n = 3).persist()
    val cnt = full.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = full.select(col("doc_id").as("d1"), col("sh"))
      .join(full.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        col("sh") === col("sh2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
      .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(col("shared") * 2 >= col("n1") + col("n2") - col("shared"))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture lost its duplicate pairs — rebuild expectation")
    assert(got == brute,
      s"prefix filter diverged from brute force: missing=${brute -- got} extra=${got -- brute}")
    spark.catalog.clearCache()
  }

  test("round-8 bucketed medians: no whole-group rank window anywhere in ts_seasonal_esd") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.{RowNumber, WindowExpression}
    val sf = "/root/testdata/sf0.001"
    // the generic op itself: its ONLY row_number window is keyed by
    // (group, value-bucket) — the median-bucket slice — never by the
    // group alone (the pre-r8 one-task-per-group sort)
    val ev = Tables.events(spark, sf).select(col("event_type"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val bm = graft.ops.Series.bucketedMedian(ev, "event_type", "c", "event_id")
    var rankKeys = Seq.empty[Int]
    bm.queryExecution.analyzed.foreach {
      case w: LWindow if w.windowExpressions.exists(_.exists {
          case WindowExpression(_: RowNumber, _) => true; case _ => false
        }) => rankKeys :+= w.partitionSpec.size
      case _ => ()
    }
    assert(rankKeys == Seq(2), s"bucketedMedian rank windows keyed by: $rankKeys")
    // the shipped query: every rank window is (type, bucket)-keyed; the
    // single-key windows that remain are the cumulative scans over the
    // checkpointed bucket-count aggregate (domain-sized, not data-sized)
    val esd = graft.queries.Series.tsSeasonalEsd.fn(spark, sf)
    var singleKeyRank = 0; var bucketRank = 0
    esd.queryExecution.analyzed.foreach {
      case w: LWindow if w.windowExpressions.exists(_.exists {
          case WindowExpression(_: RowNumber, _) => true; case _ => false
        }) =>
        if (w.partitionSpec.size >= 2) bucketRank += 1 else singleKeyRank += 1
      case _ => ()
    }
    assert(singleKeyRank == 0,
      s"ts_seasonal_esd re-grew a whole-type rank window ($singleKeyRank)")
    assert(bucketRank >= 3, s"expected one bucketed rank per round, got $bucketRank")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("round-8 additions plan scale-shaped: hashed symspell keys, broadcast geo/bloom sides") {
    val sf = "/root/testdata/sf0.001"
    // dedup_symspell: every variant-bucket join compares 8-byte longs
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.LongType
    val sy = graft.queries.Dedup.symspell.fn(spark, sf)
    var checked = 0
    sy.queryExecution.analyzed.foreach {
      case j: Join =>
        j.condition.foreach(_.foreach {
          case a: AttributeReference if a.name == "vh" || a.name == "vhb" =>
            assert(a.dataType == LongType,
              s"symspell join key ${a.name} is ${a.dataType}, not LongType")
            checked += 1
          case _ => ()
        })
      case _ => ()
    }
    assert(checked >= 3, s"symspell: expected hashed keys in 3 joins, checked $checked")
    def executed(q: graft.Q): String = {
      val df = q.fn(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // geo_greatcircle: the 8-row site table BROADCASTS (the CORDIC chain
    // itself is map-only); nothing plans a cartesian product
    val gc = executed(graft.queries.Analytics.qGeoGreatCircle)
    assert(gc.contains("BroadcastNestedLoopJoin") || gc.contains("BroadcastExchange"),
      "geo_greatcircle lost its broadcast site side")
    assert(!gc.contains("CartesianProduct"), "geo_greatcircle plans a cartesian")
    // layout_bloom_skip: the 32-probe side broadcasts into both the
    // bloom cross and the exact-truth join
    val bs = executed(graft.queries.Analytics.qBloomSkip)
    assert(bs.split("BroadcastExchange").length >= 3,
      "layout_bloom_skip: expected the probe table broadcast to both consumers")
    // geo_polygon_tag: candidate and edge joins stay keyed — no cartesian
    val pt = executed(graft.queries.Analytics.qGeoPolygonTag)
    assert(!pt.contains("CartesianProduct"), "geo_polygon_tag plans a cartesian")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("round-6 TPC-H additions plan scale-shaped: q6 pushdown, q19 envelope, no cartesians") {
    val sf = "/root/testdata/sf0.001"
    def planOf(q: graft.Q): String = {
      val df = q.fn(spark, sf)
      df.collect() // finalize AQE before reading the executed plan
      df.queryExecution.executedPlan.toString
    }
    // Q6: all three predicates live on RAW columns, so the lineitem
    // scan must carry real pushed filters (shipdate range + discount
    // band + quantity cap) — the query IS the scan
    val p6 = planOf(graft.queries.Analytics.q6ForecastRevenue)
    val pushed = p6.linesIterator.filter(_.contains("PushedFilters: [")).mkString
    assert(pushed.nonEmpty, s"q6 scan carries no pushed filters:\n$p6")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"q6 lost the $c pushdown: $pushed")
    // Q19: the disjunctive brackets must not degrade the join — part
    // envelope broadcast, equi-join on partkey, residual OR after
    val p19 = planOf(graft.queries.Analytics.q19DisjunctiveRevenue)
    assert(p19.contains("BroadcastHashJoin") && !p19.contains("CartesianProduct") &&
      !p19.contains("BroadcastNestedLoopJoin"),
      s"q19 must stay a broadcast equi-join with an OR residual:\n$p19")
    // Q11/Q20: aggregate-first, only 1-row scalars cross; no cartesian
    // over data-sized inputs (the scalar BNLJ is a 1-row broadcast)
    for (q <- Seq(graft.queries.Analytics.q11ImportantStock,
        graft.queries.Analytics.q20ExcessSuppliers)) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"${q.name} plans a cartesian:\n$p")
    }
  }

  test("registry-wide self-join lint: every uncapped self-join is a curated exemption") {
    // the lint itself must flag the dangerous shape: a raw row-level
    // gram self-join (the pre-fix shingle miner) with no cap boundary
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rawSh = graft.ops.Lsh.shingles(docs, "doc_id", "text", n = 3)
    val rawJoin = rawSh.select(col("doc_id").as("d1"), col("sh"))
      .join(rawSh.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        col("sh") === col("sh2") && col("d1") < col("d2"))
    val rawFlags = rawJoin.queryExecution.optimizedPlan.collect {
      case j: Join if SelfJoinAudit.isUncapped(j) => j
    }
    assert(rawFlags.nonEmpty, "lint failed to flag an uncapped gram self-join")
    // ...and NOT flag the df-capped version of the identical join
    val capSh = graft.ops.Scale.capGroups(rawSh, "sh", 128L)
    val capJoin = capSh.select(col("doc_id").as("d1"), col("sh"))
      .join(capSh.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        col("sh") === col("sh2") && col("d1") < col("d2"))
    val capFlags = capJoin.queryExecution.optimizedPlan.collect {
      case j: Join if SelfJoinAudit.isUncapped(j) => j
    }
    assert(capFlags.isEmpty, "lint flagged a capGroups-bounded self-join")

    // registry sweep: every remaining uncapped self-join must be HERE,
    // with its boundedness argument — a new one cannot land silently,
    // and a stale exemption fails the reverse direction
    // r14: SelfJoinAudit now clears the session cache before reading each
    // optimizedPlan, so subtrees that builders persist() are no longer
    // substituted by an opaque InMemoryRelation — the audit sees the full
    // logical tree again (persists had been accumulating across the loop
    // since r6, progressively blinding the lint for later-alphabet
    // queries). The newly visible self-joins below are all bounded in
    // FACT (fixed probe sets, bucket/cell keys, 1:1 unique-key lookups)
    // rather than in recognized STRUCTURE — each carries its argument.
    val allow = Map(
      "ann_beam_sensitivity" -> "probe side fixed <=10 queries; beams rank-filtered to width <=8 per probe; exact tier is <=10 probes x corpus (linear eval contract)",
      "ann_hnsw_layers" -> "beam join keyed on the fixed <=10-probe set; beam rank-filtered per probe per hop",
      "ann_nsw_beam" -> "beam join keyed on the fixed <=10-probe set; beam rank-filtered per probe per hop",
      "ann_ivf_label" -> "probe side fixed <=10 queries; candidates cell-keyed (one cell per probe) — linear in cell size",
      "ann_ivf_nprobe" -> "probe side fixed <=10 queries; candidates cell-keyed (two cells per probe)",
      "ann_ivf_sq8" -> "probe side fixed <=10 queries; candidates cell-keyed",
      "ann_ivf_centroids" -> "probe side fixed <=10 queries; candidates keyed on the learned cell",
      "ann_ivfpq_residual" -> "cell-keyed probe join (<=10 queries); the (s=s) encode joins carry the 8-codeword x 4-subspace init codebook side (vec_id < 8); trained book is aggregate-bounded",
      "ann_lsh_rp" -> "probe side fixed <=10 queries; candidates bucket-keyed (8-bit RP-LSH)",
      "ann_lsh_multiprobe" -> "probe side fixed <=10 queries; candidates keyed on the probed buckets",
      "ann_pq_adc" -> "exact ADC tier: fixed <=10 probes x corpus — linear, the eval contract",
      "ann_pq_trained" -> "exact ADC tier: fixed <=10 probes x corpus — linear, the eval contract",
      "ann_recall_eval" -> "planted-recall harness: <=10 probes, cell-/band-keyed tiers; exact-truth join back on unique c_id (1:1)",
      "ann_hard_negatives" -> "query side is a fixed small anchor set; candidates cell-keyed",
      "dedup_embed_cosine" -> "bucket-keyed on 8-bit RP-LSH buckets — never all-pairs; bit count scales with corpus (doc-comment contract)",
      "dedup_prefix_filter" -> "verification join keyed (sh, d2) against per-doc postings — at most one match per candidate-gram row; prefix postings rarest-first bounded",
      "dedup_span_apply_best" -> "quality lookup joins on unique doc_id (1:1), attached to the hot-gram-capped max_span manifest",
      "embed_matryoshka" -> "two-resolution brute tier over the fixed <=10-probe set — the eval oracle by design",
      "embed_ood_knn" -> "full-corpus kNN bucket-keyed on 8-bit RP-LSH buckets; per-point lists rank-filtered to top-3",
      "embed_rnn_pairs" -> "mutual-kNN bucket-keyed on 8-bit RP-LSH buckets; per-point lists rank-filtered to top-3",
      "embed_rrf_fusion" -> "brute ranking tier over the fixed <=10-probe set — the eval oracle by design",
      "embed_sign_hamming" -> "sign-bit brute tier over the fixed <=10-probe set — the eval oracle by design",
      "hybrid_rrf" -> "vector leg: ONE query vector (vec_id = 7), broadcast, x corpus — linear",
      "text_minhash_containment" -> "verification join keyed (d2, sh) — unique per doc-shingle, at most one match per probe row",
      "text_phrase_occurrences" -> "right side is the single argmax phrase row (LIMIT-1 anchor joined on unique doc_id), broadcast",
      "dataset_diff" -> "full-outer CDC diff on the unique snapshot id — 1:1, cannot fan out",
      "dedup_cross_source" -> "source-lookup join on unique doc_id against bounded LSH candidate pairs",
      "embed_cosine_topk" -> "exact brute-force tier is the EVAL oracle by design; query side fixed small",
      "multimodal_mips" -> "query side filtered to 4 docs x 16 dims, broadcast",
      "q_asof_tolerance" -> "left join back on unique event_id — 1:1",
      "q7_volume_shipping" -> "nation dim aliased twice (supplier/customer side) — 25-row broadcast, keys unique",
      "q8_market_share" -> "nation dim aliased twice (region probe + supplier tag) — 25-row broadcast, keys unique",
      "q_interval_join_bucketed" -> "interval join pre-bucketized; per-bucket volume bounded by construction",
      "q_merge_upsert" -> "full-outer upsert on unique business key — 1:1",
      "q_range_join" -> "per-user bounded time window; key is user_id with 5-min range predicate",
      "q_recursive_cte" -> "acyclic ancestor closure, depth-bounded unrolling",
      "quality_conformal_bounds" -> "median/q-hat sides are rank-filtered to ONE row per event type — #type-sized broadcasts, not pair miners",
      "ts_mean_excess" -> "threshold side is rank-filtered to THREE rows per event type — #type-sized broadcast, not a pair miner",
      "ts_extremal_index" -> "threshold side is rank-filtered to ONE row per event type — #type-sized broadcast, not a pair miner",
      "scd2_pit_join" -> "point-in-time join: validity intervals are disjoint per key — at most 1 match",
      "text_pmi" -> "vocabulary capped to top-200 before the pair self-join; pair space <= 200^2/2",
      "ts_anomaly_agreement" -> "full-outer detector agreement on unique (event_type,bucket) id — 1:1")
    val results = SelfJoinAudit.audit(spark, "/root/testdata/sf0.001")
    val errs = results.filter(_.err.isDefined)
    assert(errs.isEmpty, s"queries failed to plan: ${errs.map(r => s"${r.name}: ${r.err.get}")}")
    val flagged = results.filter(_.uncapped > 0).map(_.name).toSet
    val unexempted = flagged -- allow.keySet
    val stale = allow.keySet -- flagged
    assert(unexempted.isEmpty,
      s"uncapped self-joins with no exemption (df-cap them or justify here): $unexempted")
    assert(stale.isEmpty, s"stale exemptions (join no longer flags — remove): $stale")
    spark.catalog.clearCache()
  }

  test("round-10 unigram encode plans scale-shaped: zero windows, broadcast DP side, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val sf = "/root/testdata/sf0.001"
    // the corpus-sized path of both encode queries is ONE (…, word)
    // count aggregate; the Viterbi DP runs per DISTINCT word as pure
    // projections and its (word, np[, wcost]) result BROADCASTS back —
    // no window or cartesian anywhere, at any SF
    Seq(graft.queries.TextOps.unigramFertility,
      graft.queries.TextOps.unigramSurprisal).foreach { q =>
      val df = q.fn(spark, sf)
      var windows = 0
      df.queryExecution.analyzed.foreach {
        case _: LWindow => windows += 1
        case _ => ()
      }
      assert(windows == 0, s"${q.name}: expected a window-free plan, found $windows")
      df.collect() // AQE: finalize before reading the physical plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"),
        s"${q.name}: the per-word DP side must broadcast back onto the corpus")
      assert(!plan.contains("CartesianProduct"), s"${q.name} plans a cartesian")
      assert(plan.contains("*("), // AQE shows WholeStageCodegen as *(n) spans
        s"${q.name}: the DP projection chain fell out of codegen")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("round-11 ann_shard_manifest: routing is broadcast-only — no shuffled join anywhere") {
    // the manifest is #cells rows and every join in the query carries an
    // explicit broadcast() (query→shard routing, totals, probe census):
    // with autoBroadcastJoinThreshold=-1 in this session, ANY shuffled
    // join in the plan means a data-sized exchange crept into what must
    // stay a broadcast-route at 100 TB
    val df = graft.queries.Similarity.annShardManifest
      .fn(spark, "/root/testdata/sf0.001")
    df.collect() // AQE: finalize before reading the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"shard routing must not shuffle a join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast routing joins:\n$plan")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("round-12 pipeline_epoch_shuffle: map-only permutation — no window, no shuffled join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the whole point of the Feistel order is that there is NO data-
    // sized sort/shuffle-join anywhere: positions are per-row integer
    // arithmetic, the only exchanges are the two linear aggregates
    val df = graft.queries.TextOps.epochShuffle.fn(spark, "/root/testdata/sf0.001")
    var windows = 0
    df.queryExecution.analyzed.foreach {
      case _: LWindow => windows += 1
      case _ => ()
    }
    assert(windows == 0, s"epoch shuffle must be window-free, found $windows")
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"epoch shuffle must not shuffle a join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    // bijectivity certificate holds on every row; shard domain bounded
    rows.foreach { r =>
      assert(r.getLong(6) == 1L, s"bijective flag must be 1: $r")
      assert(r.getLong(1) >= 0 && r.getLong(1) < 16, s"shard out of range: $r")
    }
    // both epochs present and their shard loads differ somewhere (the
    // reshuffle is real, not a shared permutation)
    val byEpoch = rows.groupBy(_.getLong(0)).view.mapValues(
      _.map(r => r.getLong(1) -> r.getLong(2)).toMap).toMap
    assert(byEpoch.keySet == Set(0L, 1L))
    assert(byEpoch(0L) != byEpoch(1L), "epochs produced identical shard loads")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("round-12 pipeline_resume_cursor: rank selection without a global sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the exact order statistic must come from the bucket census + a
    // PARTITIONED per-bucket window — a global (empty-partition) window
    // or a shuffled join means the no-global-sort claim broke
    val df = graft.queries.TextOps.resumeCursor.fn(spark, "/root/testdata/sf0.001")
    df.queryExecution.analyzed.foreach {
      case w: LWindow =>
        assert(w.partitionSpec.nonEmpty, s"global window crept in: $w")
      case _ => ()
    }
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"cursor lookup must not shuffle a join:\n$plan")
    // 2 epochs × 3 percentiles, shard consistent with the position, and
    // cursors strictly increase with the percentile within an epoch
    assert(rows.length == 6, rows.mkString(","))
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(3) / ((1L << 40) / 16), s"shard mismatch: $r")
    }
    Seq(0L, 1L).foreach { ep =>
      val ps = rows.filter(_.getLong(0) == ep).sortBy(_.getLong(1)).map(_.getLong(3))
      assert(ps.length == 3 && ps(0) < ps(1) && ps(1) < ps(2),
        s"cursors must increase with rank: ${ps.mkString(",")}")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("round-13 clean-triple phash keys: complete for Hamming <= 3, and keys collide only on block equality") {
    import spark.implicits._
    // property pin of the Manku-Jain-Das Sarma construction behind the
    // phash pair miner: for ANY hash and ANY <=3 bit flips, the two
    // hashes must share at least one clean-triple band key (candidate
    // completeness — the pigeonhole the miner's recall rests on)
    val rnd = new scala.util.Random(7L)
    val cases = (0 until 300).map { i =>
      val h = rnd.nextLong()
      val nf = i % 4 // 0..3 flips, cycled so every count is covered
      var h2 = h
      var flipped = Set.empty[Int]
      while (flipped.size < nf) {
        val b = rnd.nextInt(64)
        if (!flipped(b)) { flipped += b; h2 ^= (1L << b) }
      }
      (h, h2)
    }
    val hh = cases.flatMap(p => Seq(p._1, p._2)).distinct.toDF("ahash")
    val keys = graft.queries.TextOps.phashBandsOf(hh).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    cases.foreach { case (a, b) =>
      assert(keys(a).intersect(keys(b)).nonEmpty,
        f"Hamming<=3 pair shares no clean-triple key: a=$a%016x b=$b%016x")
    }
    // and 20 keys per hash, all tagged with distinct triple ids
    keys.values.foreach(ks => assert(ks.size == 20, s"expected 20 keys, got ${ks.size}"))
  }

  test("round-13 pipeline_epoch_pack: shuffled-order packing keeps the pack window discipline") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // packing in Feistel order must not smuggle in a data-sized global
    // sort: the only global windows allowed are the two per-epoch
    // shard-TOTALS cumsums (each sits over a counted-small aggregate);
    // every other window is partitioned (the per-shard cumsum)
    val df = graft.queries.TextOps.epochPack.fn(spark, "/root/testdata/sf0.001")
    var globals = 0
    df.queryExecution.analyzed.foreach {
      case w: LWindow if w.partitionSpec.isEmpty =>
        globals += 1
        var agg = false
        w.child.foreach { case _: Aggregate => agg = true; case _ => () }
        assert(agg, s"global window not over an aggregate: $w")
      case _ => ()
    }
    assert(globals == 2, s"expected the 2 per-epoch shard-totals windows, got $globals")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    // manifest invariants: both epochs present, boundary-list length ==
    // n_docs on every row, and the two epochs pack DIFFERENT manifests
    // (the reshuffle is real)
    val rows = df.collect()
    val byEpoch = rows.groupBy(_.getLong(0))
    assert(byEpoch.keySet == Set(0L, 1L), s"epochs: ${byEpoch.keySet}")
    rows.foreach { r =>
      val nb = r.getString(5).split(",").count(_.nonEmpty)
      assert(nb == r.getLong(2), s"boundaries/n_docs mismatch: $r")
      assert(r.getLong(4) == 0L || r.getLong(4) == 1L, s"starts_mid out of domain: $r")
    }
    val m0 = byEpoch(0L).map(r => r.getLong(1) -> r.getString(5)).toMap
    val m1 = byEpoch(1L).map(r => r.getLong(1) -> r.getString(5)).toMap
    assert(m0 != m1, "epochs packed identical manifests — the shuffle is not epoch-keyed")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("round-12 ann_shard_rebalance: move-list plan is broadcast-only — no shuffled join") {
    // both epoch assignments are broadcast-NLJ (tiny centroid set against
    // the corpus scan), the apportionment windows sit on #cells
    // aggregates, and the spine joins carry explicit broadcast(): any
    // SMJ/shuffled-hash join in the executed plan means a data-sized
    // exchange crept into the re-balance path
    val df = graft.queries.Similarity.annShardRebalance
      .fn(spark, "/root/testdata/sf0.001")
    val rows = df.collect() // AQE: finalize before reading the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"shard re-balance must not shuffle a join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast spine joins:\n$plan")
    // apportionment invariants: shards in range on both epochs, the
    // moved flag consistent with its populations
    rows.foreach { r =>
      val (os, ns) = (r.getLong(3), r.getLong(4))
      assert(os >= -1 && os < 4 && ns >= -1 && ns < 4, s"shard out of range: $r")
      val moved = r.getLong(5)
      assert(moved == (if (os != ns) 1L else 0L), s"moved flag inconsistent: $r")
      assert(r.getLong(6) == (if (os != ns) r.getLong(2) else 0L),
        s"moved_pop inconsistent: $r")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("Scale.concurrently runs both thunks with the caller's current local properties") {
    val sc = spark.sparkContext
    def both() = Scale.concurrently(
      sc.getLocalProperty("graft.probe"), sc.getLocalProperty("graft.probe"))
    try {
      sc.setLocalProperty("graft.probe", "1")
      assert(both() == (("1", "1")))
      sc.setLocalProperty("graft.probe", "2")
      assert(both() == (("2", "2")), "a thunk saw a stale local property")
    } finally sc.setLocalProperty("graft.probe", null)
  }

  test("self-join lint: a count cap under OR is not a cap boundary") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = graft.ops.Lsh.shingles(docs, "doc_id", "text", n = 3)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("sh")))
    def flags(cond: Column): Int = {
      val c = sh.filter(cond)
      c.select(col("doc_id").as("d1"), col("sh"))
        .join(c.select(col("doc_id").as("d2"), col("sh").as("sh2")),
          col("sh") === col("sh2") && col("d1") < col("d2"))
        .queryExecution.optimizedPlan
        .collect { case j: Join if SelfJoinAudit.isUncapped(j) => j }.size
    }
    assert(flags(col("cnt") <= 50) == 0, "a top-level count cap must be a boundary")
    assert(flags(col("cnt") <= 50 || col("doc_id") > 3) > 0,
      "a self-join below `cnt <= k OR p` must flag: the OR branch passes hot keys uncapped")
  }
}
