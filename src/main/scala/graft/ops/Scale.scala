package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-engineering utilities — the levers a 100 TB deployment pulls that
  * a local[32] run only demonstrates (SURVEY.md Table B scale notes):
  *
  *  - salting: two-phase aggregation under heavy key skew. AQE's skew-join
  *    split covers joins; for aggregations whose partial/final combine is
  *    associative, pre-splitting hot keys with an explicit salt bounds the
  *    largest reduce partition;
  *  - bucketed co-located joins: persisting both fact tables bucketed on
  *    the join key makes repeated joins shuffle-free (verified in
  *    BucketingSpec: SortMergeJoin with NO Exchange).
  */
object Scale {

  /** Run two INDEPENDENT eager plan-construction thunks concurrently
    * (optimization-guide §2.6 — overlap independent jobs): builders
    * whose chains call eager localCheckpoint(true) execute real Spark
    * jobs at construction time, and two such chains built sequentially
    * leave the cluster idle during each other's stage tails. Job
    * submission is thread-safe and job groups/descriptions are
    * thread-local, so the chains schedule independently; FIFO
    * scheduling back-fills one chain's straggler tail with the other's
    * tasks. Use ONLY for chains with no data dependency — the thunks
    * must not read each other's results.
    *
    * `a` runs on a thread created for this call and `b` on the caller's.
    * Spark's local properties (job group, scheduler pool, query name)
    * are inheritable thread-locals copied when a thread is CREATED, so
    * a fresh thread sees the caller's current values; a pooled thread
    * would keep whatever its creator held.
    */
  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    var ra: Either[Throwable, A] = null
    val t = new Thread(() => ra = try Right(a) catch { case e: Throwable => Left(e) })
    t.start()
    val rb = try b finally t.join()
    (ra.fold(e => throw e, identity), rb)
  }

  /** Two-phase skew-resistant aggregation: sum/count-style (associative)
    * aggregates per `key`, pre-aggregated over `salts` random sub-buckets
    * so no single reducer owns a hot key's entire traffic.
    */
  /** Aggregate functions whose per-salt partials recombine exactly. avg,
    * stddev etc. do NOT (unweighted mean-of-means is wrong for uneven
    * buckets) — decompose them into sum+count at the call site.
    */
  private val decomposable = Set("sum", "count", "min", "max")

  def saltedAgg(
      df: DataFrame,
      key: Column,
      salts: Int,
      aggs: (Column, String, String)*): DataFrame = {
    aggs.foreach { case (_, f, _) =>
      require(decomposable.contains(f),
        s"saltedAgg supports ${decomposable.mkString("/")} only; '$f' does not recombine exactly")
    }
    // deterministic pseudo-salt: spread rows of the same key by a hash of
    // the whole row (monotonic ids would be nondeterministic under retry)
    val salted = df.withColumn("_salt", pmod(hash(df.columns.map(col): _*), lit(salts)))
    val phase1 = salted.groupBy(key.as("_key"), col("_salt"))
      .agg(
        aggs.head match { case (c, f, n) => expr(s"$f(${c.toString})").as(s"_p_$n") },
        aggs.tail.map { case (c, f, n) => expr(s"$f(${c.toString})").as(s"_p_$n") }: _*)
    val finals = aggs.map { case (_, f, n) =>
      val combine = if (f == "count") "sum" else f // counts combine by sum
      expr(s"$combine(_p_$n)").as(n)
    }
    phase1.groupBy(col("_key")).agg(finals.head, finals.tail: _*)
  }

  /** Skew-salted equi-join: widen the shuffle key space of a join whose
    * LEFT side is heavily skewed on the join key. The big side gets a
    * deterministic pseudo-salt in [0, salts) (hash of the whole row —
    * stable under task retry); the small side is REPLICATED once per
    * salt value; the join runs on (key, salt), so a hot key's rows
    * spread over `salts` reducers instead of one. This is the explicit
    * lever for the case AQE's skew-join split does not reach: the small
    * side is too big to broadcast but cheap to replicate `salts`×, and
    * the skew is known up front (a 1000-executor job sizing `salts` to
    * the hottest key). Join types where replication is sound: inner /
    * left (unmatched big rows survive exactly once — their salt bucket
    * has the full replica set), left_semi, left_anti (a key matches in
    * its own bucket iff it matches at all). right/full outer are
    * rejected — unmatched SMALL rows would surface once per replica.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      salts: Int,
      joinType: String = "inner"): DataFrame = {
    require(salts >= 1, "salts >= 1")
    val ok = Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti")
    require(ok.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin: '$joinType' would emit unmatched replicated small-side rows once per salt")
    val b = big.withColumn("_salt", pmod(hash(big.columns.map(col): _*), lit(salts)))
    val sm = small.withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    b.join(sm, b(bigKey) === sm(smallKey) && b("_salt") === sm("_salt"), joinType)
      .drop("_salt")
  }

  /** Drop entire groups with more than `maxRows` rows — the self-join
    * blow-up guard: any per-group pair generation (market baskets,
    * co-occurrence, dotplot matches) explodes quadratically in group
    * size, so one pathological group (a bulk order, a bot session, a
    * boilerplate n-gram) can dominate the whole job. Capping bounds
    * per-group pair output at maxRows·(maxRows−1)/2 REGARDLESS of data —
    * the same move as the hot-gram cap in the span-dedup index. Cost:
    * one partitioned count window on the group key; a downstream
    * self-join on the same key reuses the partitioning, so the guard
    * adds no extra shuffle.
    */
  def capGroups(df: DataFrame, keyCol: String, maxRows: Long): DataFrame = {
    require(maxRows >= 1, "maxRows >= 1")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("_gn", count(lit(1)).over(Window.partitionBy(keyCol)))
      .filter(col("_gn") <= maxRows).drop("_gn")
  }

  /** CAP-BITE CENSUS of a [[capGroups]] site (the no-silent-caps rule
    * applied to the dedup candidate caps — r11 verdict task #2): over
    * the UNCAPPED keyed relation, one row of exact integers saying what
    * the cap admits vs drops in CANDIDATE-PAIR mass — a bucket of n
    * postings generates n·(n−1)/2 pairs, so pair mass (not row mass) is
    * the honest currency of a pair-miner cap. Columns: site, cap,
    * buckets_total, buckets_dropped (n > cap — capGroups drops the
    * whole group), pair_mass_total, pair_mass_admitted.
    *
    * Scale shape: two chained aggregates (bucket count, then the 1-row
    * census) — no window, no join, no collect; strictly cheaper than
    * the capGroups site it audits. Headroom: per-bucket n·(n−1)/2 needs
    * n < 4.3e9 postings in ONE bucket (ANSI throws loudly past it —
    * and a bucket that size is exactly what the audited cap exists to
    * stop).
    */
  def capCensus(df: DataFrame, keyCols: Seq[String], cap: Long, site: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("bt"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("bd"),
        sum(expr("n * (n - 1) DIV 2")).as("pt"),
        sum(when(col("n") <= cap, expr("n * (n - 1) DIV 2")).otherwise(lit(0L))).as("pa"))
      .select(lit(site).as("site"), lit(cap).as("cap"),
        coalesce(col("bt"), lit(0L)).as("buckets_total"),
        coalesce(col("bd"), lit(0L)).as("buckets_dropped"),
        coalesce(col("pt"), lit(0L)).as("pair_mass_total"),
        coalesce(col("pa"), lit(0L)).as("pair_mass_admitted"))

  /** DuckDB twin of [[capCensus]] over CTE `src` (same column
    * contract; `keyCols` are expressions valid in `src`'s scope).
    */
  def capCensusSql(src: String, keyCols: Seq[String], cap: Long, site: String): String =
    s"""SELECT '$site' AS site, CAST($cap AS BIGINT) AS cap,
      CAST(count(*) AS BIGINT) AS buckets_total,
      CAST(COALESCE(sum(CASE WHEN n > $cap THEN 1 ELSE 0 END), 0) AS BIGINT) AS buckets_dropped,
      CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS pair_mass_total,
      CAST(COALESCE(sum(CASE WHEN n <= $cap THEN n * (n - 1) // 2 ELSE 0 END), 0) AS BIGINT) AS pair_mass_admitted
    FROM (SELECT ${keyCols.mkString(", ")}, CAST(count(*) AS BIGINT) AS n
          FROM $src GROUP BY ${keyCols.indices.map(_ + 1).mkString(", ")})"""

  /** Top-k rows per group through the NATIVE [[graft.plans.TopKPerGroup]]
    * operator instead of `row_number() OVER (...) <= k`: a bounded
    * per-partition selection runs BEFORE the exchange (≤ k rows per
    * (group, map partition) cross the wire) and a bounded final pass
    * after it — no WindowExec, no full per-group sort, no sort spill.
    * `orderKeys` are (column, ascending) pairs and MUST form a total
    * order (tie-broken) for the partial∘final composition to be exact —
    * the determinism rule every oracle query here already follows.
    * Expression-valued group/order keys: project them to named columns
    * first. Injects the planner strategy imperatively so sessions built
    * without GraftExtensions (the driver's harness session) still plan
    * it.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderKeys: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val spark = df.sparkSession
    graft.plans.TopKPerGroup.ensureStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String) = analyzed.output.filter(_.name == n) match {
      case Seq(a) => a
      case Seq() => throw new IllegalArgumentException(
        s"topKPerGroup: no column '$n' in ${analyzed.output.map(_.name)}")
      case many => throw new IllegalArgumentException(
        s"topKPerGroup: ambiguous column '$n' (${many.size} matches — " +
          "disambiguate with aliases before calling, as col() would require)")
    }
    val order = orderKeys.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      graft.plans.TopKPerGroup(groupCols.map(attr), order, k, analyzed))
  }
}
