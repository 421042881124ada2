package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** pipeline_trainer_coverage — the no-silent-caps diagnostic for the
  * tokenizer trainers (r10 verdict task #3; rows reworked in r12 when
  * the unigram top-1024 stats head-cap was REMOVED — r11 verdict task
  * #1).
  *
  * The r11 planted-degradation pin (top-1024 mass coverage shrinking
  * as the vocabulary outgrows the cap) is deliberately INVERTED now:
  * the `unigram_stats_mass` successor row must stay structurally FULL
  * (10000 bp) at every planted vocabulary size, because the cap it
  * measured no longer exists. The remaining partial bound —
  * `unigram_seed_multi`, the types-scaled seedK selection since r13
  * (formerly the fixed SeedMulti=40 head) — is pinned against an
  * INDEPENDENT driver-side mirror on the planted corpora (exact
  * integers, not just monotonicity).
  */
class TrainerCoverageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  private def rows(dir: String): Map[String, (Long, Long, Long, Long)] = {
    val out = graft.queries.TextOps.trainerCoverage.fn(spark, dir).collect()
      .map { r =>
        r.getString(r.fieldIndex("trainer")) ->
          ((r.getLong(r.fieldIndex("cap")), r.getLong(r.fieldIndex("seen")),
            r.getLong(r.fieldIndex("total")), r.getLong(r.fieldIndex("coverage_bp"))))
      }.toMap
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    out
  }

  test("corpus invariants: bounded bp, seen <= total, stats row structurally FULL (cap removed)") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { sf =>
      val m = rows(sf)
      assert(m.keySet == Set("unigram_dp_unroll", "unigram_seed_multi",
        "unigram_stats_mass", "wordpiece_merge_mass"), s"$sf: rows $m")
      m.foreach { case (t, (cap, seen, total, bp)) =>
        assert(cap >= 0 && seen >= 0 && seen <= total && bp >= 0 && bp <= 10000,
          s"$sf/$t: ($cap, $seen, $total, $bp)")
      }
      val (sCap, sSeen, sTotal, sBp) = m("unigram_stats_mass")
      assert(sCap == 0L && sSeen == sTotal && sBp == 10000L,
        s"$sf: the cap-free stats row must report structurally-full coverage")
      assert(m("unigram_dp_unroll")._1 == graft.ops.Unigram.DpUnroll.toLong)
      val (gCap, gSeen, gTotal, gBp) = m("unigram_seed_multi")
      // cap column = the types-scaled seedK (r13) — recompute it from
      // the corpus's distinct-word count
      val types = graft.ops.Unigram.wordStats(
        graft.Tables.t(spark, sf, "documents")).count()
      assert(gCap == graft.ops.Unigram.seedK(types) && gSeen > 0 && gTotal >= gSeen
        && gBp > 0, s"$sf: seed row ($gCap, $gSeen, $gTotal, $gBp), types=$types")
    }
  }

  /** Planted corpus: 1024 base words × 3 occurrences + `extras`
    * singleton words, 16 words per document — a vocabulary of
    * 1024 + extras that outgrew the FORMER top-1024 stats cap.
    */
  private def planted(extras: Int): (String, Seq[(String, Long)]) = {
    val dir = Files.createTempDirectory(s"graft_tcov_$extras").toString
    val base = (0 until 1024).flatMap(i => Seq.fill(3)(f"w$i%04d"))
    val extra = (0 until extras).map(i => f"x$i%05d")
    val words = new scala.util.Random(42L).shuffle(base ++ extra)
    import spark.implicits._
    words.grouped(16).zipWithIndex.map { case (ws, i) =>
      (i.toLong, ws.mkString(" "), "en", "planted", ws.mkString(" ").length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$dir/documents.parquet")
    val stats = (0 until 1024).map(i => (f"w$i%04d", 3L)) ++
      (0 until extras).map(i => (f"x$i%05d", 1L))
    (dir, stats)
  }

  /** INDEPENDENT driver mirror of the seed-gram coverage: plain Scala
    * substring enumeration (ASCII corpus, so String order ≡ UTF-8) —
    * not routed through graft.ops.Unigram.
    */
  private def seedMirror(words: Seq[(String, Long)]): (Long, Long) = {
    val g = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, c) <- words; l <- 2 to 4; i <- 0 to w.length - l)
      g(w.substring(i, i + l)) += c
    val total = g.values.sum
    // the r13 types-scaled inventory, written out independently:
    // K = min(max(40, 8·types), 2^20)
    val k = math.min(math.max(40L, 8L * words.size), 1L << 20).toInt
    val seen = g.toSeq.sortBy { case (k2, u) => (-u, k2) }.take(k).map(_._2).sum
    (seen, total)
  }

  test("planted vocab growth: stats row stays FULL (the r11 cap degradation is structurally gone); seed row matches the independent mirror exactly") {
    Seq(0, 1024, 3072).foreach { extras =>
      val (dir, stats) = planted(extras)
      val m = rows(dir)
      val (cap, seen, total, bp) = m("unigram_stats_mass")
      assert(cap == 0L && seen == 3072L + extras && total == seen && bp == 10000L,
        s"extras=$extras: the cap-free trainer must see the WHOLE vocabulary " +
          s"(the r11 cap reported ${3072L * 10000 / (3072L + extras)} bp here): ($cap, $seen, $total, $bp)")
      val (want_seen, want_total) = seedMirror(stats)
      val (_, gSeen, gTotal, gBp) = m("unigram_seed_multi")
      assert((gSeen, gTotal) == ((want_seen, want_total)),
        s"extras=$extras: seed coverage ($gSeen, $gTotal) vs mirror ($want_seen, $want_total)")
      assert(gBp == want_seen * 10000 / want_total)
      assert(m("unigram_dp_unroll")._4 == 10000L, "all planted words are within the unroll")
    }
  }
}
