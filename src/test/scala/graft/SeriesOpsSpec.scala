package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Behavior specs for the round-3 generic ops: Series (EWMA fold, MAD
  * outliers), Text BPE merge training, Sample priority sampling, Ann
  * hard negatives — on tiny literal inputs where expected values are
  * hand-computable.
  */
class SeriesOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("Series.ewmaLast folds s_1 = x_1, s_i = (1-a)s + a x in order") {
    import spark.implicits._
    // series A: 1, 2, 3, 4.5 at alpha .25 → 1, 1.25, 1.6875, 2.390625
    // series B: single point → its own value at every alpha
    val df = Seq(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 2.0), ("a", 3L, 3L, 3.0),
      ("a", 4L, 4L, 4.5), ("b", 1L, 9L, 7.0))
      .toDF("k", "t", "id", "v")
    val got = graft.ops.Series
      .ewmaLast(df, "k", "t", "id", "v", alphas = Seq(0.25, 0.5))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got("a")._1 == 4L && got("a")._2 == 2.390625)
    assert(got("b") == ((1L, 7.0, 7.0)))
    // order sensitivity: same points shuffled in input order, same fold
    val shuffled = df.orderBy(rand(7))
    val again = graft.ops.Series
      .ewmaLast(shuffled, "k", "t", "id", "v", alphas = Seq(0.25))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(again("a") == 2.390625)
  }

  test("Series.madOutliers flags only robust-score breaches and skips MAD=0 groups") {
    import spark.implicits._
    // group g: median 10.5, MAD 1.5 → 30 scores ≈ 8.8 (flagged), the
    // rest ≤ ~1.1 (kept out). group z: over half the values identical →
    // MAD 0 → nothing flagged even though 100 is extreme vs the 5s.
    val df = (Seq(8.0, 9.0, 10.0, 11.0, 12.0, 30.0).map(("g", _)) ++
      Seq(5.0, 5.0, 5.0, 100.0).map(("z", _))).toDF("k", "v")
    val got = graft.ops.Series.madOutliers(df, "k", "v", k = 3.0)
      .select("k", "v").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("g", 30.0)))
  }

  test("Text BPE merge: greedy leftmost replace preserves framing and merges chains") {
    import spark.implicits._
    val seqs = Seq("aa bb aa bb cc", "aa aa aa aa", "xx").toDF("text")
      .select(graft.ops.Text.bpeInitSeq(col("text")).as("seq"))
    val counts = graft.ops.Text.bpePairCounts(seqs, "seq")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("aa", "bb")) == 2 && counts(("aa", "aa")) == 3)
    val rule = graft.ops.Text.bpeTopMerge(graft.ops.Text.bpePairCounts(seqs, "seq"))
    assert(rule.collect().head.getString(0) == "aa") // (aa,aa) cnt 3 wins
    val merged = graft.ops.Text.bpeApplyMerge(seqs, "seq", rule)
      .collect().map(_.getString(0)).sorted
    // greedy leftmost: [aa aa aa aa] → [aaaa aaaa]; framing invariant
    // (one space ends, two between) must survive for the next round
    assert(merged.contains(" aaaa  aaaa "))
    assert(merged.contains(" aa  bb  aa  bb  cc ")) // untouched by (aa,aa)
    val counts2 = graft.ops.Text.bpePairCounts(
      merged.toSeq.toDF("seq"), "seq")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts2(("aaaa", "aaaa")) == 1 && !counts2.contains(("aa", "aa")))
  }

  test("Sample.priorityWeighted favors heavy rows, is deterministic, exact-integer") {
    import spark.implicits._
    // 50 light rows (w=1) vs 50 heavy rows (w=1000): a k=20 sample
    // should be dominated by heavy ids
    val df = ((1L to 50L).map((_, 1L)) ++ (51L to 100L).map((_, 1000L)))
      .toDF("id", "w")
    val s1 = graft.ops.Sample.priorityWeighted(df, "id", "w", k = 20)
      .select("id").as[Long].collect().toSet
    val s2 = graft.ops.Sample.priorityWeighted(df.repartition(7), "id", "w", k = 20)
      .select("id").as[Long].collect().toSet
    assert(s1 == s2, "selection must not depend on partitioning")
    assert(s1.count(_ > 50L) >= 18, s"heavy rows should dominate, got $s1")
  }

  test("Graph.triangles counts each triangle once per member vertex") {
    import spark.implicits._
    // K4 on {1..4}: 4 triangles, each vertex in 3 of them; square
    // {10..13}: none; duplicate + reversed edges must not double-count
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L)).toDF("src", "dst")
    val got = graft.ops.Graph.triangles(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // the disk-bounded blocked wedge closure is bit-identical for any
    // block count (every triangle lands in exactly one (b+c)-block)
    for (blocks <- Seq(2, 3, 7)) {
      val blk = graft.ops.Graph.triangles(edges, blocks = blocks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(blk == got, s"blocked($blocks) vs one-pass: $blk")
    }
  }

  test("Ann.hardNegatives returns nearest DIFFERENT-label rows only") {
    import spark.implicits._
    // label 0 cluster near (1,0), label 1 near (0.9, 0.1) (the hard
    // negatives), label 2 orthogonal (0,1) (easy, must rank below)
    val rows = Seq(
      (1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(0.99, 0.01)),
      (10L, 1, Seq(0.9, 0.1)), (11L, 1, Seq(0.85, 0.15)),
      (20L, 2, Seq(0.0, 1.0))).toDF("id", "grp", "vec")
    val got = graft.ops.Ann.hardNegatives(rows, rows.filter(col("id") === 1L), k = 2)
      .collect().map(r => (r.getLong(4), r.getLong(2))) // (rnk, c_id)
      .toMap
    assert(got == Map(1L -> 10L, 2L -> 11L))
  }

  test("Profile.profile: one row per column, typed min/max surfaces, null counting") {
    import spark.implicits._
    val df = Seq((1L, Some(2.5), "x"), (2L, None, "y"), (3L, Some(7.5), "y"))
      .toDF("id", "v", "s")
    val got = graft.ops.Profile.profile(df, Seq("id", "v", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7))))
      .toMap
    assert(got("id") == ((3L, 0L, 3L, Some(1.0), Some(3.0), None, None)))
    assert(got("v") == ((3L, 1L, 2L, Some(2.5), Some(7.5), None, None)))
    assert(got("s") == ((3L, 0L, 2L, None, None, Some("x"), Some("y"))))
    intercept[IllegalArgumentException] {
      graft.ops.Profile.profile(df, Seq("nope"))
    }
  }

  test("Text.bpeTrain: N rounds produce the classic merge cascade") {
    import spark.implicits._
    // "abab"-style corpus: round 1 merges the most frequent adjacent
    // pair, later rounds merge the merged symbols further
    val seqs = Seq.fill(4)("x y x y z").toDF("text")
      .select(graft.ops.Text.bpeInitSeq(col("text")).as("seq"))
    val (merges, finalSeqs) = graft.ops.Text.bpeTrain(seqs, "seq", rounds = 3)
    val rules = merges.orderBy("round")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (x, y) appears 8 times (2 per doc x 4 docs); round 2
    // merges (xy, xy) -> xyxy (4); round 3 merges (xyxy, z) -> xyxyz (4)
    assert(rules(0) == ((1L, "x", "y", 8L)), rules.mkString(","))
    assert(rules(1) == ((2L, "xy", "xy", 4L)), rules.mkString(","))
    assert(rules(2) == ((3L, "xyxy", "z", 4L)), rules.mkString(","))
    val out = finalSeqs.collect().map(_.getString(0)).distinct
    assert(out.sameElements(Array(" xyxyz ")), out.mkString("|"))
  }

  test("Text.bpeTrain round-12 depth guard + rematEvery bit-equality") {
    import spark.implicits._
    // the loud guard: past MaxChainedMerges the default (never-
    // re-materialize) path must THROW before any job runs, naming the
    // escape hatch — never degrade into an O(R²) plan silently
    val seqs = Seq.fill(3)("p q r s p q").toDF("text")
      .select(graft.ops.Text.bpeInitSeq(col("text")).as("seq"))
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Text.bpeTrain(seqs, "seq", graft.ops.Text.MaxChainedMerges + 1)
    }
    assert(ex.getMessage.contains("rematEvery"), ex.getMessage)
    intercept[IllegalArgumentException] {
      graft.ops.Text.wordpieceTrain(seqs, "seq", graft.ops.Text.MaxChainedMerges + 1)
    }
    // re-materialization is a pure plan-shape change: merge list AND
    // final corpus bit-identical to the single-projection form, even
    // when the checkpoint period divides the rounds unevenly
    val diverse = (1 to 40).map(i => f"m${i % 7} n${i % 5} m${i % 7} k${i % 3}")
      .toDF("text").select(graft.ops.Text.bpeInitSeq(col("text")).as("seq"))
    val (m0, e0) = graft.ops.Text.bpeTrain(diverse, "seq", rounds = 9)
    val (m1, e1) = graft.ops.Text.bpeTrain(diverse, "seq", rounds = 9, rematEvery = 4)
    val r0 = m0.orderBy("round").collect().map(_.toSeq).toSeq
    val r1 = m1.orderBy("round").collect().map(_.toSeq).toSeq
    assert(r0 == r1, s"remat changed the merge cascade:\n$r0\nvs\n$r1")
    assert(e0.orderBy("seq").collect().map(_.getString(0)).toSeq ==
      e1.orderBy("seq").collect().map(_.getString(0)).toSeq)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("Text.wordpieceTrain picks the EXCLUSIVE rare pair BPE would skip (likelihood gain vs raw count)") {
    import spark.implicits._
    // (a, b) is FREQUENT but independent: a and b each also occur alone
    // everywhere, so p(ab)/(p(a)p(b)) is small. (x, y) is RARE but
    // EXCLUSIVE: x and y only ever occur as the pair — the WordPiece
    // score maximizer, while count-greedy BPE picks (a, b).
    val docs =
      Seq.fill(50)("a b") ++ // frequent pair
        // independent mass: single-symbol docs add unigram count but no
        // pairs, so (a, b) stays the raw-count winner while its
        // likelihood gain collapses
        Seq.fill(100)("a") ++ Seq.fill(100)("b") ++
        Seq.fill(5)("x y") // exclusive rare pair
    val seqs = docs.toDF("text")
      .select(graft.ops.Text.bpeInitSeq(col("text")).as("seq"))
    val bpePick = graft.ops.Text.bpeTopMerge(
      graft.ops.Text.bpePairCounts(seqs, "seq")).collect()(0)
    assert((bpePick.getString(0), bpePick.getString(1)) == (("a", "b")),
      s"BPE must pick the raw-count winner: $bpePick")
    val (merges, _) = graft.ops.Text.wordpieceTrain(seqs, "seq", rounds = 1)
    val wp = merges.collect()(0)
    assert((wp.getString(1), wp.getString(2)) == (("x", "y")),
      s"WordPiece must pick the exclusive pair: ${wp.mkString(",")}")
    // evidence columns carry the exact integers behind the pick
    assert(wp.getLong(3) == 5L && wp.getLong(4) == 5L && wp.getLong(5) == 5L,
      s"cnt_pair/n_a/n_b evidence: ${wp.mkString(",")}")
  }

  test("q_lda_calibration machinery: planted separable data yields a MONOTONE reliability diagram") {
    import spark.implicits._
    // the corpus query's table is prior-dominated (documented: the flat
    // diagram IS its honest diagnostic); the math is certified here on
    // planted separable classes — same expressions, same bucket rule
    val rows = (0 until 4000).map { i =>
      val y = i % 2
      // class-1 features sit higher with md5-free deterministic jitter
      val x1 = 100L + 200L * y + (i * 37 % 97)
      val x2 = 50L + 100L * y + (i * 53 % 89)
      (y.toLong, x1, x2)
    }
    val f = rows.toDF("y", "x1", "x2")
    val m = f.agg(
      sum(expr("CASE WHEN y = 0 THEN 1L ELSE 0L END")).as("n0"),
      sum(expr("CASE WHEN y = 0 THEN x1 ELSE 0L END")).as("s1_0"),
      sum(expr("CASE WHEN y = 0 THEN x2 ELSE 0L END")).as("s2_0"),
      sum(expr("CASE WHEN y = 0 THEN x1 * x1 ELSE 0L END")).as("s11_0"),
      sum(expr("CASE WHEN y = 0 THEN x1 * x2 ELSE 0L END")).as("s12_0"),
      sum(expr("CASE WHEN y = 0 THEN x2 * x2 ELSE 0L END")).as("s22_0"),
      sum(expr("CASE WHEN y = 1 THEN 1L ELSE 0L END")).as("n1"),
      sum(expr("CASE WHEN y = 1 THEN x1 ELSE 0L END")).as("s1_1"),
      sum(expr("CASE WHEN y = 1 THEN x2 ELSE 0L END")).as("s2_1"),
      sum(expr("CASE WHEN y = 1 THEN x1 * x1 ELSE 0L END")).as("s11_1"),
      sum(expr("CASE WHEN y = 1 THEN x1 * x2 ELSE 0L END")).as("s12_1"),
      sum(expr("CASE WHEN y = 1 THEN x2 * x2 ELSE 0L END")).as("s22_1"))
    val model = graft.ops.Fit.ldaSolve(m).select("w1_milli", "w2_milli", "thr", "flip")
    val scored = f.crossJoin(broadcast(model))
      .withColumn("margin", expr(
        """CASE WHEN flip THEN thr - (w1_milli * x1 + w2_milli * x2)
           ELSE (w1_milli * x1 + w2_milli * x2) - thr END"""))
    val rng = scored.agg(min("margin").as("mn"), max("margin").as("mx"))
    val tab = scored.crossJoin(broadcast(rng))
      .withColumn("bucket", expr("((margin - mn) * 8) DIV (mx - mn + 1)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .withColumn("pos_rate_bp", expr("(n_pos * 10000) DIV n"))
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(tab.map(_._1).forall(b => b >= 0 && b <= 7))
    assert(tab.map(_._2).sum == 4000L, "every row lands in exactly one bucket")
    // separable classes: the lowest bucket is (near-)pure class 0, the
    // highest (near-)pure class 1, and the diagram rises end to end
    assert(tab.head._3 <= 1000L, s"low-margin bucket should be class-0: ${tab.toSeq}")
    assert(tab.last._3 >= 9000L, s"high-margin bucket should be class-1: ${tab.toSeq}")
    assert(tab.last._3 - tab.head._3 >= 8000L, s"diagram must rise: ${tab.toSeq}")
  }

  test("dedup_minhash_bbit: provable invariants — truth pairs >= 5000 bp, estimates clamped, constant pair set") {
    val rows = graft.queries.Dedup.minhashBbit.fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    assert(rows.map(_._2).distinct.size == 1 && rows.head._2 > 0,
      s"the ground-truth pair set is b-independent: ${rows.map(_._2).toSeq}")
    rows.foreach { case (b, _, mae, est, exact) =>
      assert(exact >= 5000L, s"b=$b: truth pairs are >= 0.5 Jaccard by construction ($exact)")
      assert(est >= 0L && est <= 10000L, s"b=$b: clamped estimator out of range ($est)")
      assert(mae >= 0L && mae <= 10000L, s"b=$b: MAE out of range ($mae)")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("holtStepSql packed fold == direct Scala recurrence on random series (incl. negatives)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the JVM reference: Long division truncates toward zero — exactly
    // Spark DIV / DuckDB //
    def direct(ys: Seq[Long]): (Long, Long) = {
      var l = ys.head; var b = 0L
      ys.tail.foreach { y =>
        val ln = (3000L * y + 7000L * (l + b)) / 10000L
        b = (1000L * (ln - l) + 9000L * b) / 10000L
        l = ln
      }
      (l, b)
    }
    val rnd = new scala.util.Random(53)
    val series = (1 to 40).map { k =>
      val n = 1 + rnd.nextInt(60)
      // negative cents too — the packed encoding must survive sign flips
      k.toLong -> Seq.fill(n)(rnd.nextInt(200001).toLong - 100000L)
    }
    val rows = series.flatMap { case (k, ys) =>
      ys.zipWithIndex.map { case (y, i) => (k, i.toLong, i.toLong, y) }
    }
    val df = rows.toDF("k", "t", "id", "y")
    val step = graft.ops.Series.holtStepSql("DIV", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("DIV", "fin")
    val got = df.groupBy("k")
      .agg(expr("transform(array_sort(collect_list(struct(t, id, y))), s -> s.y)").as("ys"))
      .withColumn("fin", expr(
        s"aggregate(slice(ys, 2, size(ys) - 1), element_at(ys, 1), (acc, x) -> $step)"))
      .select(col("k"), expr(dl).as("l"), expr(db).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    series.foreach { case (k, ys) =>
      assert(got(k) == direct(ys), s"series $k: ${got(k)} vs ${direct(ys)}")
    }
  }
  test("Series.bucketedMedian == window-form median at any bucket width") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(91)
    // negatives, heavy ties, even AND odd group sizes, a 1-row group
    val rows = (1 to 7).flatMap { g =>
      val n = Seq(1, 2, 31, 64, 101, 1000, 4097)(g - 1)
      (1 to n).map(i => (g.toLong, i.toLong, rnd.nextInt(9001).toLong - 4500L))
    }
    val df = rows.toDF("g", "id", "v")
    val w1 = Window.partitionBy("g").orderBy(col("v"), col("id"))
    val w2 = Window.partitionBy("g")
    val windowForm = df.withColumn("rv", row_number().over(w1).cast("bigint"))
      .withColumn("nn", count(lit(1)).over(w2))
      .filter(expr("rv = (nn + 1) DIV 2"))
      .select(col("g"), col("v").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // width 1 (exact histogram), a prime width, the default, and one so
    // wide every group collapses into <= 2 buckets around zero
    for (width <- Seq(1L, 7L, 1024L, 1L << 40)) {
      val got = graft.ops.Series.bucketedMedian(df, "g", "v", "id", width)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == windowForm, s"width=$width: $got vs $windowForm")
    }
  }
}
