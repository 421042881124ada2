package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: VOLUME ladders (r10 verdict task #2) for the round-10/11
  * additions — the DevBandsVol/DevHeavyVol house method: count each
  * family's INTRINSIC work volume per salted-replica rung
  * (×1/×8/×32[/×128]) instead of trusting wall time on a ±3× host.
  *
  *  - unigram (pipeline_unigram_vocab/_fertility, quality_unigram_
  *    surprisal, pipeline_trainer_coverage): token instances, distinct
  *    words, the (lang, source, word) encode relation, the DP cell
  *    volume Σ_w Σ_i min(4, i) over distinct words (the REAL encode
  *    work — bounded by 4·min(len,12)−6 per word), and the top-1024
  *    trainer mass coverage (bp) per rung. The v3 tiles permute the
  *    alphabet per replica, so the vocabulary GROWS with the rung and
  *    the coverage column shows the cap honestly degrading — exactly
  *    what the trainer-coverage diagnostic exists to surface.
  *  - wordpiece (pipeline_wordpiece_merges, the trainer row of
  *    pipeline_trainer_coverage): framed symbol instances and round-0
  *    pair volume (instances + distinct) — the per-round aggregate
  *    input. Expected LINEAR in corpus size: the trainer scans the
  *    corpus each round by design (no stats cap to ladder).
  *  - bbit (dedup_minhash_bbit): the shared capped postings, the raw
  *    candidate join volume, and the ground-truth pair relation
  *    ([[graft.queries.Dedup.bbitPairSignatures]] rows). Inherits the
  *    DevBandsVol/DevDedupVol linearity of the df-capped exact miner —
  *    this ladder PROVES the inheritance instead of arguing it.
  *  - lda (q_lda_classifier/q_lda_calibration): input rows vs reduced
  *    trainer state (structurally ONE 12-long row) vs calibration
  *    output buckets (≤ 8) — intrinsic-bound-noted: the corpus work is
  *    two sequential scans, everything else is constant-size.
  *  - shard (ann_shard_manifest, r11): cells, manifest rows, probe
  *    route rows — all bounded by #cells (= #labels) and the 10-query
  *    probe set, constant per rung by construction.
  */
object DevR10Vol {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]", 64)
    spark.sparkContext.setLogLevel("ERROR")
    val only = args.toSet
    def want(f: String) = only.isEmpty || only.contains(f)
    Seq(("x1", "/root/testdata/sf0.1"),
      ("x8", "/tmp/graft_devscale/v3/x8"),
      ("x32", "/tmp/graft_devscale/v3/x32"),
      ("x128", "/tmp/graft_devscale/v3/x128")).foreach { case (l, d) =>

      if (want("unigram")) {
        val wls = Tables.t(spark, d, "documents")
          .select(col("lang"), col("source"),
            explode(expr("filter(split(lower(text), ' '), x -> x != '')")).as("word"))
          .groupBy("lang", "source", "word").agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val encodeRows = wls.count()
        val wc = wls.groupBy("word").agg(sum("n").as("cnt")).localCheckpoint(true)
        val r = wc.agg(sum("cnt").as("toks"), count(lit(1)).as("types"),
          sum(expr("""CASE WHEN length(word) >= 4
                      THEN 4 * least(length(word), 12) - 6
                      ELSE length(word) * (length(word) + 1) DIV 2 END""")).as("dp_cells"),
          max(length(col("word"))).cast("bigint").as("max_len")).collect()(0)
        // HISTORICAL column: what the pre-r12 top-1024 head-cap would
        // have hidden (the r11 ladder's 2960 bp catch); the live
        // trainer is cap-free, so its stats coverage is 10000 bp
        // structurally at every rung
        val topMass = wc.orderBy(col("cnt").desc, col("word")).limit(1024)
          .agg(sum("cnt")).collect()(0).getLong(0)
        val covBp = topMass * 10000L / r.getLong(0)
        // the seed bound, types-scaled since r13 (seedK); the fixed
        // SeedMulti=40 column stays as the HISTORICAL comparison
        val gram = wc.select(explode(expr(graft.ops.Unigram.multiGramExpr)).as("g"), col("cnt"))
          .groupBy("g").agg(sum("cnt").as("u")).localCheckpoint(true)
        val gTot = gram.agg(coalesce(sum("u"), lit(0L))).collect()(0).getLong(0)
        val seedk = graft.ops.Unigram.seedK(r.getLong(1))
        val gSeen = gram.orderBy(col("u").desc, col("g").asc)
          .limit(seedk.toInt)
          .agg(coalesce(sum("u"), lit(0L))).collect()(0).getLong(0)
        val gSeen40 = gram.orderBy(col("u").desc, col("g").asc)
          .limit(graft.ops.Unigram.SeedMulti)
          .agg(coalesce(sum("u"), lit(0L))).collect()(0).getLong(0)
        println(f"R10VOL $l%-5s unigram: tokens=${r.getLong(0)}%,12d types=${r.getLong(1)}%,9d " +
          f"encode_rows=$encodeRows%,10d dp_cells=${r.getLong(2)}%,10d max_word_len=${r.getLong(3)}%2d " +
          f"top1024_mass_bp_HISTORICAL=$covBp%5d statsfree_bp=10000 " +
          f"seedK=$seedk%7d seed_gram_bp=${gSeen * 10000L / math.max(1L, gTot)}%5d " +
          f"seed40_gram_bp_HISTORICAL=${gSeen40 * 10000L / math.max(1L, gTot)}%5d")
        // r12: time BOTH trainer paths on the rung and pin equality —
        // the distributed E-step is the 100-TB path; the driver path
        // is the counted-small dispatch under 64k distinct words
        val docs = Tables.t(spark, d, "documents")
        val t0 = System.nanoTime()
        val drv = graft.ops.Unigram.train(docs)
        val tDrv = (System.nanoTime() - t0) / 1e9
        teardown(spark)
        val t1 = System.nanoTime()
        val dist = graft.ops.Unigram.train(docs, driverCutoff = 0L)
        val tDist = (System.nanoTime() - t1) / 1e9
        println(f"R10VOL $l%-5s unigram_train: vocab=${drv.size}%4d driver_path=$tDrv%6.1fs " +
          f"distributed_estep=$tDist%6.1fs equal=${drv == dist}")
        teardown(spark)
      }

      if (want("wordpiece")) {
        val base = Tables.t(spark, d, "documents")
          .select(graft.ops.Text.bpeInitSeq(col("text")).as("seq")).localCheckpoint(true)
        val nSym = base.select(explode(split(trim(col("seq")), "  ")).as("s"))
          .filter(col("s") =!= "").count()
        val pc = graft.ops.Text.bpePairCounts(base, "seq")
          .agg(coalesce(sum("cnt"), lit(0L)).as("inst"), count(lit(1)).as("dist"))
          .collect()(0)
        println(f"R10VOL $l%-5s wordpiece: symbols=$nSym%,12d pair_instances=${pc.getLong(0)}%,12d " +
          f"distinct_pairs=${pc.getLong(1)}%,8d")
        teardown(spark)
      }

      if (want("bbit")) {
        val shRaw = graft.queries.Dedup.hashedShingles(spark, d).localCheckpoint(true)
        val shc = graft.ops.Scale.capGroups(shRaw, "sh", graft.queries.Dedup.DfCap)
          .localCheckpoint(true)
        val nPost = shc.count()
        val candRaw = shc.select(col("doc_id").as("d1"), col("sh"))
          .join(shc.select(col("doc_id").as("d2"), col("sh").as("sh2")),
            col("sh") === col("sh2") && col("d1") < col("d2")).count()
        val nPairs = graft.queries.Dedup.bbitPairSignatures(spark, d)
          .localCheckpoint(true).count()
        println(f"R10VOL $l%-5s bbit: capped_postings=$nPost%,12d cand_raw=$candRaw%,12d " +
          f"truth_pairs=$nPairs%,9d")
        teardown(spark)
      }

      if (want("lda")) {
        val nIn = Tables.t(spark, d, "lineitem").count()
        val buckets = graft.queries.Analytics.qLdaCalibration.fn(spark, d).count()
        println(f"R10VOL $l%-5s lda: input_rows=$nIn%,12d trainer_state_rows=1 " +
          f"calibration_buckets=$buckets%2d")
        teardown(spark)
      }

      if (want("capcov")) {
        // r11 verdict task #2: where each dedup cap first bites, per rung
        graft.queries.Dedup.capCoverage.fn(spark, d).collect().foreach { r =>
          println(f"R10VOL $l%-5s capcov ${r.getString(0)}%-18s cap=${r.getLong(1)}%4d " +
            f"buckets=${r.getLong(2)}%,12d dropped=${r.getLong(3)}%,9d " +
            f"pairs_total=${r.getLong(4)}%,14d admitted_bp=${r.getLong(6)}%5d")
        }
        teardown(spark)
      }

      if (want("shard")) {
        val m = graft.queries.Similarity.annShardManifest.fn(spark, d)
          .agg(count(lit(1)).as("shards"), sum("n_cells").as("cells"),
            sum("probe_hits").as("route_rows")).collect()(0)
        println(f"R10VOL $l%-5s shard: shards=${m.getLong(0)}%2d cells=${m.getLong(1)}%3d " +
          f"probe_route_rows=${m.getLong(2)}%3d")
        teardown(spark)
      }
    }
    spark.stop()
  }

  private def teardown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}
