package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: the 100×-scale evidence harness (r8 verdict #1 — "prove the
  * 100× story with data, not plan shape"). Tiles the sf0.1 inputs ×8 and
  * ×32 as SALTED replicas — every key column is shifted by a per-replica
  * offset so key cardinality grows with data volume (an honest scale-up:
  * more orders, more parts, more users, more docs — not hotter keys),
  * document text goes through a per-replica affine alphabet permutation
  * so near-dup structure doesn't degenerate into R-way clones or
  * J≈0.25 sibling families (the v1/v2 lessons, in the tile() comment),
  * and embeddings get a per-(replica, dim) nudge for the same reason.
  * Dimension
  * tables that are fixed in any real deployment (region, nation) are
  * copied unchanged; FK integrity is preserved by shifting both sides
  * of every key (l_partkey with p_partkey, o_custkey with c_custkey, …).
  *
  * For each of the heaviest registry queries it then records seconds at
  * ×1/×8/×32 and the per-step TIME RATIOS vs the 8× and 4× data ratios —
  * sublinear-or-linear curvature is the pass; a ratio persistently above
  * the data ratio is superlinear and needs a plan fix or an in-code
  * intrinsic-bound note. Results land as one JSON line (also written to
  * /tmp/graft_devscale.json) and are transcribed into SCALE.md.
  *
  * Usage: runMain graft.DevScale [buildOnly|queryName...]
  * Tiled inputs are built once under /tmp/graft_devscale/x{8,32} and
  * reused (delete the dir to force a rebuild).
  */
object DevScale {
  private val Off = 1000000000L // replica key offset: above every id range

  private def tile(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int): Unit = {
    val done = new java.io.File(s"$outDir/_DONE")
    if (done.exists()) { println(s"[devscale] reusing $outDir"); return }
    new java.io.File(outDir).mkdirs()
    // per-table shifted key columns; text/embedding perturbations below
    val keyShifts: Map[String, Seq[String]] = Map(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "nation" -> Seq.empty, // fixed dims: copied unchanged
      "region" -> Seq.empty)
    keyShifts.foreach { case (name, keys) =>
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val reps = if (keys.isEmpty) Seq(base) else (0 until replicas).map { i =>
        val shifted = keys.foldLeft(base) { (d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * Off))
        }
        name match {
          case "documents" if i > 0 =>
            // Keep near-dup structure honest: a real 128x corpus does not
            // contain every document 128 times. v1 (trailing suffix) left
            // shingle sets ~identical; v2 (translate two letters) left
            // every e/t-FREE shingle identical, so each doc kept 127
            // siblings at J ~ 0.25 — the exact truth set (J >= 0.5)
            // stayed clean but the LSH candidate volume was quadratic BY
            // CONSTRUCTION (caught by the x128 rung: every banding's
            // candidates grew ~2x per data doubling). v3: a
            // replica-specific AFFINE PERMUTATION of the whole alphabet
            // sigma(x) = a*x + b mod 26 — every letter changes (up to
            // the <=2 fixed points), cross-replica shingle overlap is
            // only the rare all-fixed/non-letter grams, J ~ 0.
            val aCo = Seq(3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25, 1)
            val a0 = aCo(i % 12)
            val b0raw = (5 * i + 7) % 26
            val b0 = if (a0 == 1 && b0raw == 0) 13 else b0raw // never identity
            val perm = (0 until 26)
              .map(x => ('a' + (a0 * x + b0) % 26).toChar).mkString
            shifted.withColumn("text", expr(
              s"translate(text, 'abcdefghijklmnopqrstuvwxyz', '$perm')"))
          case "embeddings" if i > 0 =>
            // nudge EVERY component per replica (a single-dim nudge left
            // 31 near-clones of each vector at cosine ~1)
            shifted.withColumn("embedding", expr(
              s"transform(embedding, (x, j) -> " +
                s"float(x + (pmod(hash(j * 37 + $i), 97) - 48) / 400.0))"))
          case _ => shifted
        }
      }
      reps.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[devscale] tiled $name x$replicas -> $outDir")
    }
    done.createNewFile()
  }

  /** The heaviest registry queries per BENCH_r08 (top-10 + three
    * family-representative extras that exercise events/geo/series).
    */
  val Heavies: Seq[String] = Seq(
    "graph_triangles", "dedup_prefix_filter", "graph_scc_seeds",
    "graph_coloring_mis", "graph_squares_copurchase", "graph_mis_greedy",
    "dedup_lsh_eval", "dedup_lsh_tuning", "dedup_lsh_bands",
    "ann_beam_sensitivity", "basket_pairs", "geo_haversine_ref",
    "ts_seasonal_esd")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]", 32)
    spark.sparkContext.setLogLevel("ERROR")

    val src = "/root/testdata/sf0.1"
    val base = "/tmp/graft_devscale/v3" // bump on any tiling-rule change
    // "deep" mode: add the ×128 rung (≈77M lineitem rows ≈ sf12.8) and
    // ladder ×8→×32→×128 for the named queries — the two warm steps are
    // the cleanest curvature signal (×1 carries codegen-compile noise)
    val deep = args.headOption.contains("deep")
    tile(spark, src, s"$base/x8", 8)
    tile(spark, src, s"$base/x32", 32)
    if (deep) tile(spark, src, s"$base/x128", 128)
    if (args.headOption.contains("buildOnly")) { spark.stop(); return }

    val names =
      if (deep) (if (args.size > 1) args.drop(1).toSeq else Heavies)
      else if (args.nonEmpty) args.toSeq else Heavies
    def clean(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // shuffle-file cleanup is GC-driven (ContextCleaner weak refs): a
      // big heap barely GCs, so spill files from EVERY prior rung pile up
      // on disk — the first 48g deep run filled /tmp and died mid-ladder,
      // with disk pressure contaminating the timings before that. Force
      // the collection so each rung starts with a clean spill dir.
      System.gc()
      Thread.sleep(2000)
    }
    val scales =
      if (deep) Seq(("x8", s"$base/x8", 8L), ("x32", s"$base/x32", 32L),
        ("x128", s"$base/x128", 128L))
      else Seq(("x1", src, 1L), ("x8", s"$base/x8", 8L),
        ("x32", s"$base/x32", 32L))
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      // a heap-OOM'd executor thread kills the local SparkContext; the
      // remaining ladder would emit garbage 0.01 s "failures" — bail loudly
      if (spark.sparkContext.isStopped) {
        println(s"[devscale] SparkContext stopped — aborting ladder at $name " +
          "(raise SPARK_DRIVER_MEM and re-run)")
        return
      }
      SparkEntry.queries.get(name) match {
        case None => println(s"[devscale] unknown query $name")
        case Some(fn) =>
          // uncounted x1 warm-up: strips first-execution codegen compile
          // so the ladder compares execution, not compilation (without
          // it the x1 sample is cold and curvature reads artificially
          // sublinear)
          clean()
          try fn(spark, src).count() catch { case _: Throwable => () }
          val ts = scales.map { case (label, dir, mult) =>
            clean()
            // fixed partition SIZE, not fixed count: a real deployment at
            // 128x data runs ~128x tasks, and SHJ build sides shrink with
            // partition count (the x128-at-32-partitions build OOM'd an
            // 8g heap). x8/x32 keep 32 for comparability with the
            // recorded ladder.
            spark.conf.set("spark.sql.shuffle.partitions",
              math.max(32L, mult).toString)
            val t0 = System.nanoTime()
            val n = try fn(spark, dir).count() catch {
              case e: Throwable =>
                println(s"[devscale] $name@$label FAILED: ${e.getMessage.take(200)}")
                -1L
            }
            val sec = (System.nanoTime() - t0) / 1e9
            println(f"[devscale] $name%-28s $label%-4s $sec%8.2f s  rows=$n")
            sec
          }
          // curvature: time ratio over data ratio, per ladder step
          val steps = scales.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
            val c = ts(i + 1) / ts(i) / (b._3.toDouble / a._3)
            (s"${a._1}->${b._1}", c)
          }.toSeq
          println(f"[devscale] $name%-28s curvature " +
            steps.map { case (l, c) => f"$l=$c%.2f" }.mkString(" ") +
            " (1.0 = linear)")
          val tsJson = scales.zip(ts).map { case ((l, _, _), t) =>
            f"""\"$l\":$t%.2f""" }.mkString(",")
          val cJson = steps.map { case (l, c) =>
            f"""\"c[$l]\":$c%.3f""" }.mkString(",")
          rows += s""""$name":{$tsJson,$cJson}"""
      }
    }
    val json = rows.mkString("{\"metric\":\"devscale\",\"queries\":{", ",", "}}")
    println(json)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/graft_devscale.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
