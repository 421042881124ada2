package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: VOLUME ladders (r9 verdict task #2) for the four heaviest
  * families without a table in SCALE.md — the DevBandsVol/DevDedupVol
  * method: count the INTRINSIC work volume per rung (×1/×8/×32/×128
  * salted replicas) instead of trusting wall time on a ±3× host.
  *
  *  - text_rouge_pairs: capped shingle postings, raw candidate join
  *    volume, surviving pairs, and the candidate-keyed unigram-overlap
  *    probe volume (the query's real verify load).
  *  - text_edit_pairs: name vocabulary, deletion-key postings, pre-cap
  *    bucket occupancy (max df), and the blocked pair volume. The
  *    replicas do NOT grow c_name's vocabulary (keys shift, names
  *    repeat), so the EXPECTED ladder is FLAT — the honest claim: this
  *    family's volume is vocabulary-driven, and the capGroups(64)
  *    bound makes the pair volume ≤ 64·postings REGARDLESS of corpus
  *    size (the intrinsic bound the verdict asked to be in code).
  *  - ts_matrix_profile: event input rows vs hourly series points vs
  *    banded pair volume. Replicas duplicate the SAME hour span, so
  *    points/pairs stay constant while input grows — the claim: the
  *    banded join is O(series_length × 45) per type, decoupled from
  *    corpus row count by the hourly pre-aggregation.
  *  - graph_scc_seeds: capped edge count vs per-seed FW/BW 4-round
  *    reachable-set sizes. Seeds are the 3 smallest vertex ids (all in
  *    replica 0 of the vertex-disjoint tiling), so reach stays
  *    constant while edges grow — the claim: FW-BW work ∝ reachable
  *    sets, not data size; only the edge BUILD is data-sized.
  */
object DevHeavyVol {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]", 64)
    spark.sparkContext.setLogLevel("ERROR")
    val only = args.toSet
    def want(f: String) = only.isEmpty || only.contains(f)
    Seq(("x1", "/root/testdata/sf0.1"),
      ("x8", "/tmp/graft_devscale/v3/x8"),
      ("x32", "/tmp/graft_devscale/v3/x32"),
      ("x128", "/tmp/graft_devscale/v3/x128")).foreach { case (l, d) =>

      if (want("rouge")) {
        val sh = graft.queries.Dedup.cappedShingles(spark, d).localCheckpoint(true)
        val nPost = sh.count()
        val a = sh.select(col("doc_id").as("d1"), col("sh"))
        val b = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
        val joined = a.join(b, col("sh") === col("sh2") && col("d1") < col("d2"))
        val candRaw = joined.count()
        val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val pairs = joined.groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
          .join(counts.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(counts.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .filter(col("shared") / (col("n1") + col("n2") - col("shared")) >= 0.3)
          .select("d1", "d2").localCheckpoint(true)
        val nPairs = pairs.count()
        val pos = Tables.t(spark, d, "documents")
          .select(col("doc_id"), explode(graft.ops.Text.words(col("text"))).as("w"))
        val ug = pos.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        // candidate-keyed overlap probe: pairs ⋈ ug(d1) ⋈ ug(d2, same word)
        val ga = ug.select(col("doc_id").as("d1"), col("w"), col("c").as("ca"))
        val gb = ug.select(col("doc_id").as("db"), col("w").as("wb"), col("c").as("cb"))
        val ovVol = pairs.join(ga, "d1")
          .join(gb, col("d2") === col("db") && col("w") === col("wb")).count()
        println(f"HVOL $l%-5s rouge: postings=$nPost%,12d cand_raw=$candRaw%,12d pairs=$nPairs%,9d overlap_probe=$ovVol%,12d")
        teardown(spark)
      }

      if (want("edit")) {
        val vocab = Tables.t(spark, d, "customer")
          .select(lower(col("c_name")).as("word")).distinct()
          .filter(col("word").rlike("^[a-z#0-9]{4,24}$")).localCheckpoint(true)
        val nVocab = vocab.count()
        val keyed = vocab.select(col("word"),
          explode(expr("""array_union(array(word),
            transform(sequence(1, length(word)),
              i -> concat(substring(word, 1, i - 1), substring(word, i + 1))))""")).as("k"))
          .localCheckpoint(true)
        val nKeyed = keyed.count()
        val occ = keyed.groupBy("k").agg(count(lit(1)).as("df"))
          .agg(max("df").as("mx"), expr("percentile_approx(df, 0.99)").as("p99")).collect()(0)
        val capped = graft.ops.Scale.capGroups(keyed, "k", 64L).localCheckpoint(true)
        val nCapped = capped.count()
        val pairVol = capped.select(col("k"), col("word").as("wa"))
          .join(capped.select(col("k"), col("word").as("wb")), Seq("k"))
          .filter(col("wa") < col("wb")).count()
        println(f"HVOL $l%-5s edit: vocab=$nVocab%,8d postings=$nKeyed%,10d max_df=${occ.getLong(0)}%,6d capped=$nCapped%,10d pair_vol=$pairVol%,10d")
        teardown(spark)
      }

      if (want("mp")) {
        val ev = Tables.events(spark, d)
        val nIn = ev.count()
        val hourly = ev.withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
          .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
          .agg(expr("sum(cents) DIV count(1)").as("c")).localCheckpoint(true)
        val nPts = hourly.count()
        import org.apache.spark.sql.expressions.Window
        val ord = Window.partitionBy("event_type").orderBy("h")
        val sub = hourly.withColumn("i", row_number().over(ord).cast("bigint"))
          .withColumn("v3", lead("c", 3).over(ord)).filter(col("v3").isNotNull)
          .select("event_type", "i").localCheckpoint(true)
        val left = sub.withColumn("blk",
          explode(expr("array(i DIV 48 - 1, i DIV 48, i DIV 48 + 1)")))
        val right = sub.withColumn("blk", expr("i DIV 48")).withColumnRenamed("i", "j")
        val bandPairs = left.join(right, Seq("event_type", "blk"))
          .filter(col("j") - col("i") >= 4 && col("j") - col("i") <= 48).count()
        println(f"HVOL $l%-5s mp: input_rows=$nIn%,12d hourly_points=$nPts%,8d band_pairs=$bandPairs%,10d")
        teardown(spark)
      }

      if (want("scc")) {
        val ec = graft.queries.Graphs.partTransitions(spark, d).localCheckpoint(true)
        val nEdges = ec.count()
        val seeds = ec.select(col("src").as("v")).distinct().orderBy("v").limit(3)
        val s0 = seeds.select(col("v").as("seed"), col("v")).localCheckpoint(true)
        val fwd = (1 to 4).foldLeft(s0) { (r, _) =>
          r.unionByName(r.join(ec, r("v") === ec("src"))
            .select(r("seed"), ec("dst").as("v"))).distinct().localCheckpoint(true)
        }
        val bwd = (1 to 4).foldLeft(s0) { (r, _) =>
          r.unionByName(r.join(ec, r("v") === ec("dst"))
            .select(r("seed"), ec("src").as("v"))).distinct().localCheckpoint(true)
        }
        val nf = fwd.count(); val nb = bwd.count()
        println(f"HVOL $l%-5s scc: edges=$nEdges%,10d fwd_reach=$nf%,8d bwd_reach=$nb%,8d")
        teardown(spark)
      }

      // graph_squares_copurchase (r11 verdict task #6 — the one top-10
      // bench heavy without a committed ×128 volume cell): every stage
      // counter of the C4 pipeline. The tiling shifts l_orderkey and
      // l_partkey TOGETHER, so replicas are vertex-disjoint copies —
      // the expected ladder is exactly 8×/4×/4× at every counter; any
      // superlinear step means a cap or join is creating CROSS-replica
      // interaction (the r9 LSH band-concentration failure class).
      // Wedge volume is additionally bounded by C(32,2)=496 per mid
      // vertex by the degree cap, whatever the degree distribution.
      if (want("squares")) {
        import org.apache.spark.sql.expressions.Window
        val bk = Tables.t(spark, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(true)
        val nBk = bk.count()
        val bc = graft.ops.Scale.capGroups(bk, "o", 128).localCheckpoint(true)
        val nBc = bc.count()
        val egRaw = bc.select(col("o"), col("p").as("pa")).hint("shuffle_hash")
          .join(bc.select(col("o"), col("p").as("pb")), "o")
          .filter(col("pa") < col("pb"))
        val nEgRaw = egRaw.count()
        val eg = egRaw.select("pa", "pb").distinct().localCheckpoint(true)
        val nEg = eg.count()
        val ad = eg.select(col("pa").as("m"), col("pb").as("n"))
          .union(eg.select(col("pb").as("m"), col("pa").as("n")))
        val ac = ad.withColumn("rn",
            row_number().over(Window.partitionBy("m").orderBy("n")))
          .filter(col("rn") <= 32).drop("rn").localCheckpoint(true)
        val nAc = ac.count()
        val wedges = ac.select(col("m"), col("n").as("u"))
          .join(ac.select(col("m"), col("n").as("w")).hint("shuffle_hash"), "m")
          .filter(col("u") < col("w"))
        val nW = wedges.count()
        val nCod = wedges.groupBy("u", "w").agg(count(lit(1)).as("q"))
          .filter(col("q") >= 2).count()
        println(f"HVOL $l%-5s squares: baskets=$nBk%,10d capped=$nBc%,10d " +
          f"rawpairs=$nEgRaw%,12d edges=$nEg%,11d adj32=$nAc%,11d " +
          f"wedges=$nW%,12d codeg2=$nCod%,11d")
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
