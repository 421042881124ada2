package graft.ops

import graft.expressions.DotProductDouble
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search primitives generic over any (id, ARRAY<DOUBLE>)
  * relation — the library surface for a user's own embedding tables.
  */
object Ann {

  /** Fused native dot product (codegen'd, no intermediate array).
    * Registers `graft_dot` on the active and default sessions so
    * standalone use (per EXAMPLES.md) resolves at analysis. If you
    * analyze on a session that is neither (e.g. a bare `newSession()`),
    * call [[graft.expressions.DotProductDouble.register]] on it first —
    * or build the session with `GraftExtensions`.
    */
  def dot(a: Column, b: Column): Column = {
    (org.apache.spark.sql.SparkSession.getActiveSession.toSeq ++
      org.apache.spark.sql.SparkSession.getDefaultSession.toSeq)
      .foreach(DotProductDouble.register)
    call_function(DotProductDouble.fnName, a, b)
  }

  /** Exact cosine top-k: for each query row, the `k` nearest corpus rows
    * by cosine similarity, self-matches excluded. Output: (q_id, c_id,
    * rnk, sim). Ranking is deterministic cross-engine: round(,6) on the
    * similarity with an id tie-break.
    *
    * O(|queries|·|corpus|) by design — the exact baseline/verifier to
    * run against a pruned candidate set (IVF cell, LSH bucket), never
    * all-pairs at corpus scale.
    */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "id",
      vecCol: String = "vec"): DataFrame = {
    DotProductDouble.register(corpus.sparkSession)
    def normed(df: DataFrame, prefix: String): DataFrame =
      df.select(col(idCol).as(s"${prefix}_id"), col(vecCol).as(s"${prefix}e"))
        .withColumn(s"${prefix}n", sqrt(dot(col(s"${prefix}e"), col(s"${prefix}e"))))
    val q = normed(queries, "q")
    val c = normed(corpus, "c")
    // bounded native top-k BEFORE the exchange: the scored pair stream is
    // |q|x|corpus|-sized, and the row_number window form would shuffle and
    // SORT all of it per q_id — TopKPerGroup lets at most k rows per
    // (q_id, map partition) cross the wire; the rank window then runs over
    // <= k rows per group and reuses the operator's clustered partitioning
    // (no second shuffle). Ordering key is the identical rounded-sim +
    // c_id total order, so the selected rows are bit-identical.
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("sim", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("_simr", round(col("sim"), 6))
    val sel = Scale.topKPerGroup(scored, Seq("q_id"),
      Seq(("_simr", false), ("c_id", true)), k)
    val w = Window.partitionBy("q_id").orderBy(col("_simr").desc, col("c_id").asc)
    sel.withColumn("rnk", row_number().over(w).cast("bigint"))
      .select(col("q_id"), col("c_id"), col("rnk"), col("sim"))
  }

  /** Hard-negative mining for contrastive training: for each query row,
    * the `k` most cosine-similar corpus rows whose `groupCol` DIFFERS
    * from the query's — the near-misses a retrieval model must learn to
    * reject. Same deterministic ranking contract as [[cosineTopK]]
    * (round(,6) + id tie-break); output adds both group labels.
    *
    * Exact O(|queries|·|corpus|) scoring by design — at corpus scale,
    * feed it a pruned candidate relation (an IVF probe set or LSH
    * bucket union) as `corpus`, exactly like the exact-top-k verifier.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "id",
      vecCol: String = "vec",
      groupCol: String = "grp"): DataFrame = {
    DotProductDouble.register(corpus.sparkSession)
    def normed(df: DataFrame, prefix: String): DataFrame =
      df.select(col(idCol).as(s"${prefix}_id"), col(groupCol).as(s"${prefix}_grp"),
          col(vecCol).as(s"${prefix}e"))
        .withColumn(s"${prefix}n", sqrt(dot(col(s"${prefix}e"), col(s"${prefix}e"))))
    val q = normed(queries, "q")
    val c = normed(corpus, "c")
    // same bounded-selection shape as [[cosineTopK]] — see the note there
    val scored = q.join(c, col("q_grp") =!= col("c_grp"))
      .withColumn("sim", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("_simr", round(col("sim"), 6))
    val sel = Scale.topKPerGroup(scored, Seq("q_id"),
      Seq(("_simr", false), ("c_id", true)), k)
    val w = Window.partitionBy("q_id").orderBy(col("_simr").desc, col("c_id").asc)
    sel.withColumn("rnk", row_number().over(w).cast("bigint"))
      .select(col("q_id"), col("q_grp"), col("c_id"), col("c_grp"), col("rnk"), col("sim"))
  }

  /** CELF lazy-greedy facility-location selection (Leskovec et al.,
    * "Cost-effective Outbreak Detection in Networks", KDD'07 — public):
    * returns EXACTLY the naive-greedy picks over the max-coverage
    * objective F(S) = Σ_x max(0, max_{s∈S} ⟨x,s⟩) — submodularity makes
    * stale marginal gains valid upper bounds, so a candidate is
    * re-evaluated only while it tops the priority queue — but where
    * naive greedy pays a corpus × |candidates| pass EVERY round, lazy
    * greedy pays it once and then small BATCHED re-evaluations: the
    * top ≤ 8 stale entries refresh in ONE corpus × batch aggregation
    * per loop step (each separate single-candidate job was paying a
    * fresh whole-stage-codegen compile — the tax the NSW truncation A/B measured; the
    * batch form is one scheduled job and one compiled plan). A pick is
    * accepted only when the queue's TOP entry is fresh-this-round, so
    * the selection logic is unchanged. The queue orders by (stale gain
    * DESC, candidate id ASC) — the same total order as the greedy
    * argmax — so tie-breaks match the naive selection exactly,
    * including equal-gain candidates (an equal-gain smaller-id stale
    * entry refreshes first and sits above the incumbent).
    *
    * `cands` is the DRIVER-SIDE bounded candidate pool (id →
    * ×10⁴-quantized vector) — model-sized state like the PCA Gram
    * matrix, never corpus data; the corpus relation `v` = (`idCol`,
    * `qCol` array<bigint>) stays distributed, with the per-round
    * coverage state eagerly localCheckpointed (the measured per-round
    * codegen-compile tax rule). Returns (picks as (round, id,
    * objective), distributed gain evaluations performed) — the spec
    * asserts evals < k·|cands| and picks == naive greedy.
    */
  def lazyGreedyCoreset(
      v: DataFrame,
      cands: Seq[(Long, Array[Long])],
      k: Int,
      idCol: String = "vec_id",
      qCol: String = "q"): (Seq[(Long, Long, Long)], Int) = {
    require(cands.nonEmpty && cands.size <= 256,
      s"candidate pool must be driver-bounded (got ${cands.size})")
    require(cands.size >= k, s"need at least k=$k candidates, got ${cands.size}")
    graft.expressions.DotProductLong.register(v.sparkSession)
    def litArr(a: Array[Long]): String = a.map(x => s"${x}L").mkString("array(", ", ", ")")
    var nEvals = 0
    // the initial all-zero coverage state is trivial — materializing it
    // would scan the corpus once for nothing; checkpoint only UPDATED
    // states (each truncates the growing greatest() chain)
    var best = v.select(col(idCol), col(qCol).as("q"), lit(0L).as("best"))
    // round 1: one full corpus × candidates pass (identical to naive)
    val candDf = v.sparkSession.createDataFrame(
      cands.map { case (id, q) => (id, q.toSeq) }).toDF("c_id", "cq")
    val f1 = best.crossJoin(broadcast(candDf))
      .withColumn("g", expr("greatest(best, graft_dot_long(q, cq))"))
      .groupBy("c_id").agg(sum("g").as("obj"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    nEvals += cands.size
    val qOf = cands.toMap
    // entries (marginal gain upper bound, id); smallest by ord = best:
    // gain DESC then id ASC — the greedy argmax's total order
    val ord: Ordering[(Long, Long)] =
      Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long)
    var fObj = 0L
    var picks = Seq.empty[(Long, Long, Long)]
    val pq = scala.collection.mutable.TreeMap.empty[(Long, Long), Unit](ord)
    f1.foreach { case (id, f) => pq.update((f - fObj, id), ()) }
    for (r <- 1 to k) {
      // gains computed THIS round are exact; everything else is a stale
      // upper bound (round 1: every entry is fresh by construction)
      val freshNow = scala.collection.mutable.Set.empty[Long]
      if (r == 1) freshNow ++= f1.keys
      var chosen = -1L
      while (chosen < 0) {
        val (topGain, topId) = pq.head._1
        if (freshNow.contains(topId)) {
          // fresh and above every remaining bound -> the greedy argmax
          pq.remove((topGain, topId))
          chosen = topId
          fObj = fObj + topGain
          picks = picks :+ ((r.toLong, topId, fObj))
        } else {
          // refresh the top ≤ 8 STALE entries in ONE aggregation
          val batch = pq.keysIterator.filterNot(e => freshNow.contains(e._2))
            .take(8).toSeq
          batch.foreach(pq.remove)
          val bdf = v.sparkSession.createDataFrame(
            batch.map { case (_, id) => (id, qOf(id).toSeq) }).toDF("c_id", "cq")
          val fr = best.crossJoin(broadcast(bdf))
            .withColumn("g", expr("greatest(best, graft_dot_long(q, cq))"))
            .groupBy("c_id").agg(sum("g").as("f"))
            .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
          nEvals += batch.size
          batch.foreach { case (_, id) =>
            freshNow += id
            pq.update((fr(id) - fObj, id), ())
          }
        }
      }
      if (r < k) {
        best = best
          .withColumn("best", expr(
            s"greatest(best, graft_dot_long(q, ${litArr(qOf(chosen))}))"))
          .localCheckpoint(true)
      }
    }
    (picks, nEvals)
  }
}
