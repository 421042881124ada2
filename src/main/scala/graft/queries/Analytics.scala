package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational analytics layer (SURVEY.md §2 Table B): everything the
  * reference delegates to Warp 10 behind its reverse proxy
  * (middlewares/reverse.go:18-67), supplied natively with Spark built-ins so
  * Catalyst owns optimization (SURVEY.md §4.1).
  *
  * Scale notes (100 TB / 1000-executor thinking):
  *  - small dims (region/nation/customer at any SF, banned-token sets) are
  *    broadcast — no shuffle of the fact table;
  *  - aggregations use partial (map-side) aggregation for free via
  *    `groupBy().agg()`;
  *  - top-k goes through `orderBy().limit(k)` which Spark plans as
  *    TakeOrderedAndProject — no global sort;
  *  - the as-of join avoids a cross product by equi-joining on the key
  *    first (shuffle on user key, co-partitioned both sides), then a
  *    per-key window; at cluster scale both sides can be bucketed on the
  *    key to eliminate the shuffle entirely;
  *  - AQE is on (Tables.tune) for runtime skew-join splitting.
  */
object Analytics {

  /** Canonical µs for orders dates in both engines. */
  private val NowUsLiteral = 1706659200000000L // 2024-01-31T00:00:00Z, fixed "now" for determinism

  /** µs epoch of a (possibly NTZ) timestamp column; session tz is UTC so
    * NTZ→TZ is the identity and matches DuckDB's epoch_us().
    */
  private def epochUs(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))

  def all: Seq[Q] = Seq(q1Agg, q3TopkJoin, q5RegionRevenue, qSemiJoin, qAntiJoin,
    qWindowLag, qWindowRank, qWindowRolling, qWindowDistribution, qTumbling, qSession,
    qRollup, qCube, qGroupingSets, qTopk, qSetOps, qDistinct, qApproxDistinct,
    qAsofJoin, qRangeJoin, qScalarFuncs, qTsHeuristic, qCorrelatedSubquery,
    qWindowRange, qVariant, q12ShipPriority, q14PromoShare, qPivot,
    qPercentiles, qStatsAgg, qOuterJoins, qSkewProfile, qHavingSubquery,
    qDatetimeFuncs, qArrayFuncs, qMapFuncs, qAsofForward, qUnpivot, qLateral,
    qTsResample, qUnionByName, qSaltedAgg, qZscoreAnomaly, qIntervalBucketJoin,
    qRecursiveCte, qValueHistogram, qGraphChain, qPagerank, qPpr, qFunnel,
    qRetentionCohorts, qTriangles, qKcore, qAsofNearest, qNullsafeJoin,
    qMergeUpsert, qGapsIslands, qAsofTolerance, qBasketPairs, qClampedBalance,
    qAttribution, qFunnelLatency, qMarkovTransitions, qRfmSegmentation,
    qCohortLtv, qIvmDelta, qSkyline, qRollingDistinct, q18LargeOrders,
    q10ReturnedRevenue, q16SupplierBreadth, q9NationYearRevenue,
    q13CustomerDistribution, q17SmallQuantity, q2MinCostSupplier,
    q4OrderPriority, q22IdleCustomers, q15TopSupplier, q7VolumeShipping,
    q8MarketShare, q21WaitingShape, qAbWelch, qAbCuped,
    q6ForecastRevenue, q11ImportantStock, q19DisjunctiveRevenue,
    q20ExcessSuppliers, qTopkNative, qSaltedJoin, qZorderLayout,
    qHbosOutliers, qCompactionPlan, qZonemapSkip, qBloomSkip, qGeoKnnCells,
    qGeohashGrid, qGeoBboxJoin, qGeoPolygonTag, qGeoGreatCircle, qGeoDbscan,
    qGeoBearing, qGeoSpeedGate, qGeoHaversine, qGeoNearestSiteM, qRidgeFit,
    qHilbertSkip, qLdaClassifier, qLdaCalibration)

  /** Ordered funnel — users progressing signup → click → purchase with
    * each stage STRICTLY after the previous one (the product-analytics
    * staple): per-user first-signup time, first click after it, first
    * purchase after that, then one global count row with integer-bp
    * conversion rates. Three per-user aggregates chained by time
    * predicates — each stage is one shuffle on user_id, co-partitioned
    * with the previous (at cluster scale: bucket events by user_id and
    * all three stages are shuffle-free).
    */
  val qFunnel: Q = Q("q_funnel", (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts_us"))
    val t1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min("ts_us").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts_us") > col("t2"))
      .groupBy("user_id").agg(min("ts_us").as("t3"))
    t1.join(t2, Seq("user_id"), "left_outer").join(t3, Seq("user_id"), "left_outer")
      .agg(count(col("t1")).as("n_signup"),
        count(col("t2")).as("n_click_after"),
        count(col("t3")).as("n_purchase_after"))
      .select(col("n_signup"), col("n_click_after"), col("n_purchase_after"),
        expr("10000 * n_click_after DIV n_signup").as("click_bp"),
        expr("10000 * n_purchase_after DIV n_signup").as("purchase_bp"))
  }, Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
    t1 AS (SELECT user_id, min(ts_us) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
    t2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN t1 USING (user_id)
      WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN t2 USING (user_id)
      WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id),
    j AS (SELECT t1.user_id, t1.t1, t2.t2, t3.t3 FROM t1
      LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
    SELECT count(t1) AS n_signup, count(t2) AS n_click_after,
      count(t3) AS n_purchase_after,
      10000 * count(t2) // count(t1) AS click_bp,
      10000 * count(t3) // count(t1) AS purchase_bp
    FROM j"""))

  /** Weekly retention cohorts — users grouped by their FIRST-seen week,
    * counted per week-offset of later activity (the growth-dashboard
    * matrix). Weeks are integer µs floor-division (identical both
    * engines); one distinct-pass per (user, week), one tiny first-week
    * aggregate joined back.
    */
  val qRetentionCohorts: Q = Q("q_retention_cohorts", (s, dir) => {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), expr("ts_us DIV 604800000000").as("wk")).distinct()
    val first = uw.groupBy("user_id").agg(min("wk").as("w0"))
    uw.join(first, "user_id")
      .groupBy(col("w0").as("cohort_week"), (col("wk") - col("w0")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }, Some("""WITH uw AS (SELECT DISTINCT user_id,
        epoch_us(ts) // 604800000000 AS wk FROM events),
    f AS (SELECT user_id, min(wk) AS w0 FROM uw GROUP BY user_id)
    SELECT w0 AS cohort_week, wk - w0 AS week_offset,
      count(DISTINCT user_id) AS n_users
    FROM uw JOIN f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** 10-iteration oracle twin of [[graft.ops.Graph.pagerank]], unrolled
    * into plain CTEs (DuckDB's recursive CTEs disallow aggregation in
    * the recursive term; the iteration count is a constant anyway). All
    * integer fixed-point math — identical floors on both engines.
    */
  private lazy val pagerankOracleSql: String = {
    val head = s"""WITH t AS (SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events),
    e AS (SELECT event_type AS src, nxt AS dst, count(*) AS w
      FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2),
    v AS (SELECT DISTINCT src AS v FROM e UNION SELECT DISTINCT dst FROM e),
    n AS (SELECT count(*) AS nv FROM v),
    o AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
    ew AS (SELECT e.src, e.dst, e.w, o.wout FROM e JOIN o USING (src)),
    b AS (SELECT v.v, 1000000000 // n.nv AS base FROM v, n),
    r0 AS (SELECT v, base AS rank FROM b)"""
    val its = (1 to 10).map { k =>
      s""",
    s$k AS (SELECT ew.dst AS v, sum(r.rank * ew.w // ew.wout) AS m
      FROM ew JOIN r${k - 1} r ON r.v = ew.src GROUP BY ew.dst),
    r$k AS (SELECT b.v, (1500 * b.base + 8500 * coalesce(s$k.m, 0)) // 10000 AS rank
      FROM b LEFT JOIN s$k ON s$k.v = b.v)"""
    }.mkString
    head + its + """
    SELECT v, CAST(rank AS BIGINT) AS rank FROM r10 ORDER BY rank DESC, v"""
  }

  /** PageRank over the event-type transition graph (edges = consecutive
    * event types per user, weighted by transition count) — "which event
    * kinds sit at the center of user flows". Runs the generic
    * [[graft.ops.Graph.pagerank]]: FIXED-POINT integer ranks, so the
    * 10-round iterative join/agg pipeline is bit-identical to the
    * unrolled oracle — no float summation order anywhere.
    */
  val qPagerank: Q = Q("graph_pagerank", (s, dir) => {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = e.withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.ops.Graph.pagerank(trans, iters = 10)
      .select(col("v"), col("rank"))
      .orderBy(col("rank").desc, col("v").asc)
  }, Some(pagerankOracleSql))

  /** 10-iteration oracle twin of [[graft.ops.Graph.personalizedPagerank]]
    * over the same transition graph, seeds = {'error'} — identical
    * unrolled-CTE policy as [[pagerankOracleSql]] (single reference per
    * round CTE, all integer fixed point).
    */
  private lazy val pprOracleSql: String = {
    val head = s"""WITH t AS (SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events),
    e AS (SELECT event_type AS src, nxt AS dst, count(*) AS w
      FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2),
    v AS (SELECT DISTINCT src AS v FROM e UNION SELECT DISTINCT dst FROM e),
    sd AS (SELECT v FROM v WHERE v = 'error'),
    ns AS (SELECT count(*) AS c FROM sd),
    o AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
    ew AS (SELECT e.src, e.dst, e.w, o.wout FROM e JOIN o USING (src)),
    b AS (SELECT v.v,
        coalesce(CASE WHEN sd.v IS NOT NULL THEN 1000000000 // nullif(ns.c, 0) END, 0) AS base
      FROM v LEFT JOIN sd ON sd.v = v.v, ns),
    r0 AS (SELECT v, base AS rank FROM b)"""
    val its = (1 to 10).map { k =>
      s""",
    s$k AS (SELECT ew.dst AS v, sum(r.rank * ew.w // ew.wout) AS m
      FROM ew JOIN r${k - 1} r ON r.v = ew.src GROUP BY ew.dst),
    r$k AS (SELECT b.v, (1500 * b.base + 8500 * coalesce(s$k.m, 0)) // 10000 AS rank
      FROM b LEFT JOIN s$k ON s$k.v = b.v)"""
    }.mkString
    head + its + """
    SELECT v, CAST(rank AS BIGINT) AS rank FROM r10 ORDER BY rank DESC, v"""
  }

  /** PERSONALIZED PageRank from the 'error' event type over the user-flow
    * transition graph — "which event kinds sit nearest to errors in user
    * journeys", the proximity query topic-sensitive ranking answers
    * (Haveliwala, WWW'02). Runs the generic seed-restart
    * [[graft.ops.Graph.personalizedPagerank]]: restart mass on the seed
    * only, FIXED-POINT integer ranks — bit-identical to the unrolled
    * oracle chain.
    */
  val qPpr: Q = Q("graph_ppr", (s, dir) => {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = e.withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("w"))
    import s.implicits._
    val seeds = Seq("error").toDF("v")
    graft.ops.Graph.personalizedPagerank(trans, seeds, iters = 10)
      .select(col("v"), col("rank"))
      .orderBy(col("rank").desc, col("v").asc)
  }, Some(pprOracleSql))

  /** Connected components over a genuinely HIGH-DIAMETER graph — per-user
    * time-adjacent event chains (each event linked to the user's next
    * event), the linked-list topology that kills label propagation at
    * scale: diameter == chain length, so propagation needs one shuffle
    * round per hop. This query runs [[graft.ops.Graph.connectedComponentsStar]]
    * (large-star/small-star contraction, O(log²) rounds on any topology)
    * instead; the oracle exploits that a user's chain connects exactly
    * that user's events, so component == min(event_id) per user.
    */
  val qGraphChain: Q = Q("graph_components_chain", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 3)
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val edges = e.withColumn("nxt", lead("event_id", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_id").as("src"), col("nxt").as("dst"))
    graft.ops.Graph.connectedComponentsStar(edges)
      .select(col("v").as("event_id"), col("component"))
      .orderBy("event_id")
  }, Some("""SELECT event_id, min(event_id) OVER (PARTITION BY user_id) AS component
    FROM events WHERE user_id < 3
    QUALIFY count(*) OVER (PARTITION BY user_id) >= 2
    ORDER BY event_id"""))

  /** Fixed-width value histogram per series — the monitoring-dashboard
    * primitive over the reference's metric domain: 25-unit bins with
    * per-bin count and observed min/max. One partial-aggregated shuffle;
    * bin ids via floor division (identical IEEE double math in both
    * engines — width_bucket's 1-based/overflow conventions differ across
    * engines, floor(x/w) doesn't).
    */
  val qValueHistogram: Q = Q("q_value_histogram", (s, dir) => {
    Tables.events(s, dir)
      .withColumn("bin", floor(col("value") / 25.0).cast("bigint"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"),
        round(min("value"), 4).as("bin_min"), round(max("value"), 4).as("bin_max"))
      .orderBy("event_type", "bin")
  }, Some("""SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin,
      count(*) AS n, round(min(value), 4) AS bin_min, round(max(value), 4) AS bin_max
    FROM events GROUP BY event_type, bin
    ORDER BY event_type, bin"""))

  /** Recursive CTE (Spark 4.1's WITH RECURSIVE): hierarchical rollup over
    * an implicit binary tree on doc_id (parent = id DIV 2) — each doc
    * walks its ancestor chain to the root and aggregates the chain's
    * character mass. The recursion is acyclic and log-depth (Spark's
    * recursive CTE supports UNION ALL only, so cyclic transitive closure
    * stays with the iterative driver loop in dedup_clusters; this is the
    * declarative surface for DAG-shaped recursion). DuckDB runs the
    * identical recursion as the oracle.
    */
  val qRecursiveCte: Q = Q("q_recursive_cte", (s, dir) => {
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
      .createOrReplaceTempView("docs_rc")
    s.sql("""WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
        SELECT doc_id, doc_id, 0 FROM docs_rc
        UNION ALL
        SELECT doc_id, anc_id DIV 2, depth + 1 FROM anc WHERE anc_id > 1)
      SELECT a.doc_id, CAST(max(a.depth) AS BIGINT) AS depth,
        CAST(count(*) AS BIGINT) AS n_ancestors,
        CAST(sum(d.n_chars) AS BIGINT) AS chain_chars
      FROM anc a JOIN docs_rc d ON d.doc_id = a.anc_id
      GROUP BY a.doc_id ORDER BY a.doc_id""")
  }, Some("""WITH RECURSIVE d AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
    anc(doc_id, anc_id, depth) AS (
      SELECT doc_id, doc_id, 0 FROM d
      UNION ALL
      SELECT doc_id, anc_id // 2, depth + 1 FROM anc WHERE anc_id > 1)
    SELECT a.doc_id, CAST(max(a.depth) AS BIGINT) AS depth,
      CAST(count(*) AS BIGINT) AS n_ancestors,
      CAST(sum(dd.n_chars) AS BIGINT) AS chain_chars
    FROM anc a JOIN d dd ON dd.doc_id = a.anc_id
    GROUP BY a.doc_id ORDER BY a.doc_id"""))

  /** Interval-containment join with NO equi key — the case Spark's planner
    * can only express as a nested-loop join (every point × every
    * interval: dead at scale). The scale-correct rewrite: quantize time
    * into buckets the size of the interval span, explode each interval
    * into the (≤2) buckets it overlaps, equi-join points to buckets, then
    * apply the exact range predicate as a residual filter. Same result,
    * but the plan is a shuffled HASH join keyed by bucket — O(N+M)
    * shuffle instead of O(N·M) compare. A point lives in exactly one
    * bucket, so no dedup step is needed. (ScaleSpec asserts the plan
    * contains no BroadcastNestedLoopJoin.)
    */
  val qIntervalBucketJoin: Q = Q("q_interval_join_bucketed", (s, dir) => {
    val W = 21600000000L // 6 h in µs = bucket width = interval span
    val e = Tables.events(s, dir)
    val iv = e.filter(col("event_id") % 997 === 0)
      .select(col("event_id").as("iv_id"), col("ts_us").as("iv_start"),
        (col("ts_us") + lit(W)).as("iv_end"))
      .withColumn("bucket", explode(sequence(
        expr(s"iv_start DIV $W"), expr(s"iv_end DIV $W"))))
    val pts = e.select(col("event_id").as("p_id"), col("ts_us").as("p_ts"), col("value"))
      .withColumn("bucket", expr(s"p_ts DIV $W"))
    iv.join(pts, "bucket")
      .filter(col("p_ts") >= col("iv_start") && col("p_ts") <= col("iv_end"))
      .groupBy("iv_id")
      .agg(count(lit(1)).as("n_points"), round(sum("value"), 4).as("sum_value"))
      .orderBy("iv_id")
  }, Some("""SELECT a.event_id AS iv_id, count(*) AS n_points,
      round(sum(p.value), 4) AS sum_value
    FROM events a JOIN events p
      ON epoch_us(p.ts) >= epoch_us(a.ts)
      AND epoch_us(p.ts) <= epoch_us(a.ts) + 21600000000
    WHERE a.event_id % 997 = 0
    GROUP BY a.event_id ORDER BY iv_id"""))

  /** Rolling z-score anomaly detection — the monitoring-alert shape the
    * reference's metrics ultimately feed: each event scored against the
    * trailing 20 events of its own series (frame EXCLUDES the current
    * row — you score against history, not against yourself), flagged at
    * |z| > 3 with ≥5 history rows and non-degenerate variance. Per-key
    * partitioned window (parallel per series at any scale); boundary
    * comparisons on round(,6) so both engines cut identically at float
    * edges.
    */
  val qZscoreAnomaly: Q = Q("q_zscore_anomaly", (s, dir) => {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
      .rowsBetween(-20, -1)
    e.select(col("event_type"), col("event_id"), col("ts_us"), col("value"))
      .withColumn("mu", avg("value").over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("nw", count("value").over(w))
      .filter(col("nw") >= 5 && round(col("sd"), 6) > 0)
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(abs(round(col("z"), 6)) > 3)
      .select(col("event_type"), col("event_id"), col("ts_us"),
        round(col("value"), 4).as("value"), round(col("mu"), 4).as("mu"),
        round(col("sd"), 4).as("sd"), round(col("z"), 4).as("z"))
      .orderBy("event_type", "ts_us", "event_id")
  }, Some("""WITH h AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
        avg(value) OVER w AS mu,
        stddev_samp(value) OVER w AS sd,
        count(value) OVER w AS nw
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    z AS (SELECT *, (value - mu) / sd AS z FROM h
      WHERE nw >= 5 AND round(sd, 6) > 0)
    SELECT event_type, event_id, ts_us, round(value, 4) AS value,
      round(mu, 4) AS mu, round(sd, 4) AS sd, round(z, 4) AS z
    FROM z WHERE abs(round(z, 6)) > 3
    ORDER BY event_type, ts_us, event_id"""))

  /** Time-series resampling with gap filling — the Warp-10-class operator
    * the reference delegates: per-user hourly grid over each user's span
    * (sequence + explode), zero-filled counts, and forward-filled values
    * (last_value IGNORE NULLS).
    */
  val qTsResample: Q = Q("q_ts_resample", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 5)
      .withColumn("h", expr("ts_us DIV 3600000000"))
    val c = e.groupBy("user_id", "h")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("raw_v"))
    val grid = c.groupBy("user_id").agg(min("h").as("mn"), max("h").as("mx"))
      .select(col("user_id").as("g_user"), explode(sequence(col("mn"), col("mx"))).as("g_h"))
    val j = grid.join(c, col("user_id") === col("g_user") && col("h") === col("g_h"), "left_outer")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g_user").orderBy("g_h").rowsBetween(Window.unboundedPreceding, 0)
    j.select(col("g_user").as("user_id"), col("g_h").as("h"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("raw_v"), lit(0.0)), 4).as("sum_v"),
        round(coalesce(last(col("raw_v"), ignoreNulls = true).over(w), lit(0.0)), 4).as("filled"))
      .orderBy("user_id", "h")
  }, Some("""WITH c AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h,
        count(*) AS n, round(sum(value), 4) AS raw_v
      FROM events WHERE user_id < 5 GROUP BY 1, 2),
    s AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM c GROUP BY 1),
    g AS (SELECT user_id, unnest(generate_series(mn, mx)) AS h FROM s),
    j AS (SELECT g.user_id, g.h, c.n, c.raw_v
      FROM g LEFT JOIN c ON c.user_id = g.user_id AND c.h = g.h)
    SELECT user_id, h, CAST(coalesce(n, 0) AS BIGINT) AS n,
      round(coalesce(raw_v, 0.0), 4) AS sum_v,
      round(coalesce(last_value(raw_v IGNORE NULLS) OVER (PARTITION BY user_id
        ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 4) AS filled
    FROM j ORDER BY user_id, h"""))

  /** Schema-evolution union: unionByName(allowMissingColumns) across
    * sources with divergent schemas — the multi-corpus concatenation
    * primitive. Oracle via DuckDB's UNION ALL BY NAME.
    */
  val qUnionByName: Q = Q("q_union_by_name", (s, dir) => {
    val d = Tables.t(s, dir, "documents")
    val a = d.filter(col("doc_id") < 50).select(col("doc_id"), col("lang"))
    val b = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("source"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy("doc_id")
  }, Some("""SELECT * FROM (
      SELECT doc_id, lang FROM documents WHERE doc_id < 50
      UNION ALL BY NAME
      SELECT doc_id + 10000 AS doc_id, source FROM documents WHERE doc_id < 50)
    ORDER BY doc_id"""))

  /** Unpivot (melt) — the inverse of q_pivot: wide metric columns to
    * (key, metric, value) rows.
    */
  val qUnpivot: Q = Q("q_unpivot", (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }, Some("""SELECT l_orderkey, l_linenumber, metric, value FROM (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
        FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey < 100)
    ORDER BY l_orderkey, l_linenumber, metric"""))

  /** LATERAL correlated subquery: per customer, the most expensive order
    * (Catalyst plans the decorrelated join).
    */
  val qLateral: Q = Q("q_lateral_join", (s, dir) => {
    Tables.t(s, dir, "customer").createOrReplaceTempView("graft_lat_cust")
    Tables.t(s, dir, "orders").createOrReplaceTempView("graft_lat_orders")
    s.sql("""SELECT c_custkey, t.best_price FROM graft_lat_cust,
      LATERAL (SELECT max(o_totalprice) AS best_price
               FROM graft_lat_orders WHERE o_custkey = c_custkey) t
      WHERE c_custkey < 300 AND t.best_price IS NOT NULL
      ORDER BY c_custkey""")
  }, Some("""SELECT c_custkey, t.best_price FROM customer,
      LATERAL (SELECT max(o_totalprice) AS best_price
               FROM orders WHERE o_custkey = c_custkey) t
      WHERE c_custkey < 300 AND t.best_price IS NOT NULL
      ORDER BY c_custkey"""))

  /** Forward as-of join (the backward variant is q_asof_join): for each
    * order of a low-key customer, the EARLIEST event of that user at or
    * after the order date. Same equi-join + per-row rank pattern,
    * opposite direction.
    */
  val qAsofForward: Q = Q("q_asof_forward", (s, dir) => {
    val o = Tables.t(s, dir, "orders").filter(col("o_custkey") < 30)
      .select(col("o_orderkey"), col("o_custkey"), epochUs(col("o_orderdate")).as("o_date_us"))
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts_us"))
    val w = Window.partitionBy("o_orderkey").orderBy(asc("ts_us"), asc("event_id"))
    o.join(e, col("user_id") === col("o_custkey") && col("ts_us") >= col("o_date_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_orderkey", "o_custkey", "event_id", "ts_us")
      .orderBy("o_orderkey")
  }, Some("""SELECT o_orderkey, o_custkey, event_id, ts_us FROM (
    SELECT o.o_orderkey, o.o_custkey, e.event_id, epoch_us(e.ts) AS ts_us,
      row_number() OVER (PARTITION BY o.o_orderkey
        ORDER BY epoch_us(e.ts) ASC, e.event_id ASC) AS rn
    FROM orders o JOIN events e
      ON e.user_id = o.o_custkey AND epoch_us(e.ts) >= epoch_us(o.o_orderdate)
    WHERE o.o_custkey < 30) WHERE rn = 1 ORDER BY o_orderkey"""))

  /** Date/time function surface: truncation, month arithmetic (with
    * month-end clamping), day diffs, last_day, day-of-week — all emitted
    * as integers/epochs for cross-engine parity.
    */
  val qDatetimeFuncs: Q = Q("q_datetime_funcs", (s, dir) => {
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"),
        epochUs(date_trunc("month", col("o_orderdate"))).as("month_start_us"),
        epochUs(add_months(col("o_orderdate"), 3).cast("timestamp")).as("plus3m_us"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("bigint").as("days_since_95"),
        datediff(last_day(col("o_orderdate").cast("date")), lit("1970-01-01").cast("date"))
          .cast("bigint").as("month_end_epoch_day"),
        (dayofweek(col("o_orderdate")) - 1).cast("bigint").as("dow_sun0"))
      .orderBy("o_orderkey")
  }, Some("""SELECT o_orderkey,
      year(o_orderdate) AS yr,
      month(o_orderdate) AS mo,
      epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
      epoch_us(o_orderdate + INTERVAL 3 MONTH) AS plus3m_us,
      date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
      date_diff('day', DATE '1970-01-01', last_day(CAST(o_orderdate AS DATE))) AS month_end_epoch_day,
      CAST(dayofweek(o_orderdate) AS BIGINT) AS dow_sun0
    FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"""))

  /** Array function surface over document word lists: distinct
    * union/intersect/except cardinalities, sorted joins, positional
    * lookup. The oracle reconstructs set ops with explicit
    * filter+distinct so both engines' dedup semantics are pinned.
    */
  val qArrayFuncs: Q = Q("q_array_funcs", (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => w =!= "").as("w"))
      .filter(size(col("w")) >= 16)
      .select(col("doc_id"),
        slice(col("w"), 1, 8).as("a"),
        slice(col("w"), -8, 8).as("b"))
    d.select(col("doc_id"),
        size(array_distinct(col("a"))).cast("bigint").as("n_a_distinct"),
        size(array_intersect(col("a"), col("b"))).cast("bigint").as("n_inter"),
        size(array_distinct(concat(col("a"), col("b")))).cast("bigint").as("n_union"),
        size(array_except(col("a"), col("b"))).cast("bigint").as("n_except"),
        array_join(array_sort(array_distinct(col("a"))), ",").as("a_sorted"),
        array_position(col("a"), "the").cast("bigint").as("pos_the"))
      .orderBy("doc_id")
  }, Some("""SELECT doc_id,
      CAST(len(list_distinct(a)) AS BIGINT) AS n_a_distinct,
      CAST(len(list_distinct(list_filter(a, x -> list_contains(b, x)))) AS BIGINT) AS n_inter,
      CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
      CAST(len(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))) AS BIGINT) AS n_except,
      list_aggregate(list_sort(list_distinct(a)), 'string_agg', ',') AS a_sorted,
      CAST(coalesce(list_position(a, 'the'), 0) AS BIGINT) AS pos_the
    FROM (SELECT doc_id, w[1:8] AS a, w[-8:] AS b
      FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents)
      WHERE len(w) >= 16)
    ORDER BY doc_id"""))

  /** Canonical sorted `k=v,k2=v2` rendering of a label map. */
  private def labelsCanonical(m: org.apache.spark.sql.Column) =
    array_join(
      transform(array_sort(map_entries(m)), e => concat(e.getField("key"), lit("="), e.getField("value"))),
      ",")

  /** Map function surface (the label-manipulation toolkit of §1.4):
    * construction, transform_keys, map_filter, map_concat, element_at,
    * canonicalized for comparison. Oracle reconstructs the expected
    * canonical string directly (DuckDB's map surface differs).
    */
  val qMapFuncs: Q = Q("q_map_funcs", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("event_id") < 3000)
      .select(col("event_id"),
        map(lit("t"), col("event_type"),
            lit("u"), col("user_id").cast("string"),
            lit("drop"), lit("x")).as("m"))
    e.select(col("event_id"),
        labelsCanonical(
          map_concat(
            transform_keys(
              map_filter(col("m"), (k, _) => k =!= "drop"),
              (k, _) => upper(k)),
            map(lit("job"), lit("graft")))).as("labels_str"),
        element_at(col("m"), "t").as("t_val"),
        size(map_keys(col("m"))).cast("bigint").as("n_keys"))
      .orderBy("event_id")
  }, Some("""SELECT event_id,
      'T=' || event_type || ',U=' || CAST(user_id AS VARCHAR) || ',job=graft' AS labels_str,
      event_type AS t_val,
      CAST(3 AS BIGINT) AS n_keys
    FROM events WHERE event_id < 3000 ORDER BY event_id"""))

  /** HAVING with an uncorrelated scalar subquery: nations whose customer
    * balance total beats the cross-nation average.
    */
  val qHavingSubquery: Q = Q("q_having_subquery", (s, dir) => {
    Tables.t(s, dir, "customer").createOrReplaceTempView("graft_hs_cust")
    s.sql("""SELECT c_nationkey, round(sum(c_acctbal), 4) AS nation_bal
      FROM graft_hs_cust
      GROUP BY c_nationkey
      HAVING sum(c_acctbal) > (
        SELECT avg(nb) FROM (
          SELECT sum(c_acctbal) AS nb FROM graft_hs_cust GROUP BY c_nationkey))
      ORDER BY c_nationkey""")
  }, Some("""SELECT c_nationkey, round(sum(c_acctbal), 4) AS nation_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING sum(c_acctbal) > (
      SELECT avg(nb) FROM (
        SELECT sum(c_acctbal) AS nb FROM customer GROUP BY c_nationkey))
    ORDER BY c_nationkey"""))

  /** LEFT and FULL OUTER joins with null-side accounting. */
  val qOuterJoins: Q = Q("q_outer_joins", (s, dir) => {
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders").filter(col("o_orderstatus") === "P")
    val left = c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_matched"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_null_side"))
      .select(lit("left_outer").as("join_type"), col("n_rows"), col("n_matched"), col("n_null_side"))
    val f1 = Tables.t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k")).distinct()
    val f2 = Tables.t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("k2")).distinct()
    val full = f1.join(f2, col("k") === col("k2"), "full_outer")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_matched"), // only-right
        sum(when(col("k2").isNull, 1L).otherwise(0L)).as("n_null_side")) // only-left
      .select(lit("full_outer").as("join_type"), col("n_rows"), col("n_matched"), col("n_null_side"))
    left.union(full).orderBy("join_type")
  }, Some("""SELECT 'full_outer' AS join_type, count(*) AS n_rows,
      CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      CAST(sum(CASE WHEN b.k2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_side
    FROM (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus='F') a
    FULL OUTER JOIN (SELECT DISTINCT o_custkey AS k2 FROM orders WHERE o_orderstatus='O') b
      ON a.k = b.k2
    UNION ALL
    SELECT 'left_outer', count(*),
      count(o.o_orderkey),
      CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT OUTER JOIN
      (SELECT * FROM orders WHERE o_orderstatus='P') o ON c.c_custkey = o.o_custkey
    ORDER BY join_type"""))

  /** Key-distribution / skew profiler — the diagnostic you run before
    * choosing salting or AQE skew handling at 100 TB: per-key top-N heavy
    * hitters plus a skew factor (max/avg rows per key, in basis points
    * for integer-exact cross-engine parity).
    */
  val qSkewProfile: Q = Q("q_skew_profile", (s, dir) => {
    val e = Tables.events(s, dir)
    val counts = e.groupBy("user_id").agg(count(lit(1)).as("n"))
    val stats = counts.agg(
      max("n").as("max_n"),
      sum("n").as("total"),
      count(lit(1)).as("n_keys"))
    val skew = stats.select(lit("skew_factor_bp").as("metric"),
      expr("max_n * 10000 * n_keys DIV total").as("value"))
    val top = counts.orderBy(desc("n"), asc("user_id")).limit(3)
      .select(concat(lit("top_key_"), col("user_id")).as("metric"), col("n").as("value"))
    skew.union(top).orderBy("metric")
  }, Some("""WITH counts AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    SELECT 'skew_factor_bp' AS metric,
      CAST(max(n) * 10000 * count(*) // sum(n) AS BIGINT) AS value FROM counts
    UNION ALL
    SELECT 'top_key_' || CAST(user_id AS VARCHAR), n FROM
      (SELECT user_id, n FROM counts ORDER BY n DESC, user_id ASC LIMIT 3)
    ORDER BY metric"""))

  /** Skew-resistant two-phase aggregation over the REAL salting path
    * ([[graft.ops.Scale.saltedAgg]]): the skewed user_id traffic
    * q_skew_profile diagnoses, aggregated via 8 pre-split salt buckets so
    * no reducer owns a hot key — and recombined EXACTLY (sum/count/min/
    * max are associative; the oracle is the plain one-phase GROUP BY).
    * round(,4) on the double sum: salting reorders float addition.
    */
  val qSaltedAgg: Q = Q("q_salted_agg", (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("value"))
    graft.ops.Scale.saltedAgg(e, col("user_id"), 8,
        (col("value"), "sum", "sum_value"),
        (col("value"), "count", "n"),
        (col("value"), "min", "min_value"),
        (col("value"), "max", "max_value"))
      .select(col("_key").as("user_id"), round(col("sum_value"), 4).as("sum_value"),
        col("n"), col("min_value"), col("max_value"))
      .orderBy("user_id")
  }, Some("""SELECT user_id, round(sum(value), 4) AS sum_value,
      count(*) AS n, min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Skew-salted equi-join ([[graft.ops.Scale.saltedJoin]]): events
    * (15 distinct user_ids over the whole stream — every key is hot)
    * joined to customer over an 8-way salt, so each hot key's rows
    * spread across 8 reducers instead of one. The small side is
    * replicated 8× (customer rows × 8 — trivial), the big side's salt
    * is a deterministic whole-row hash (retry-stable), and the oracle
    * is the UNSALTED join — same rows by construction, which is the
    * point: salting changes the exchange, never the result. At 100 TB
    * this is the lever when the dimension exceeds the broadcast
    * threshold but the fact side has known hot keys AQE's sort-merge
    * skew split can't reach (e.g. a shuffled hash join).
    */
  val qSaltedJoin: Q = Q("q_salted_join", (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("value"))
    val c = Tables.t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.ops.Scale.saltedJoin(e, c, "user_id", "c_custkey", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("c_mktsegment")
  }, Some("""SELECT c_mktsegment, count(*)::BIGINT AS n,
      round(sum(value), 4) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Z-order (Morton) storage-layout keys ([[graft.ops.Layout]]): the
    * lakehouse `OPTIMIZE ZORDER BY (l_partkey, l_suppkey)` move as pure
    * integer SQL. Both keys quantize to 10 bits over their observed
    * range (1-row broadcast agg), interleave bitwise into a 20-bit
    * Morton code, and the table reports per-z-bucket clustering
    * quality: 64 write buckets × (row count, partkey span, suppkey
    * span). Under a z-ordered layout BOTH spans shrink to ~1/8 of the
    * key range per bucket (3 interleaved bits each), which is exactly
    * why min/max zone maps then prune 2-predicate scans on either key —
    * a single-key sort clusters one span and leaves the other at full
    * range. The interleave is `(x >> i & 1)·2^(ik+j)` with literal
    * multipliers — cross-engine exact on BIGINTs.
    */
  /** HBOS — histogram-based outlier score (Goldstein & Dengel, KI 2012
    * — public): per-feature equi-width histograms, score(x) =
    * Σ_f log(max-bin density / density of x's bin) — the linear-time
    * unsupervised outlier method a pipeline runs when z-scores assume
    * too much (unimodality) and kNN-OOD costs too much (pairwise). Three
    * features over events: the 5-unit value bin, the hour-of-day, and
    * the event type (a 1-bin-per-category histogram); the score sums
    * per-feature ⌊log₂ n_max⌋ − ⌊log₂ n_bin⌋ in the exact
    * `length(bin(x))−1` dialect — integer "bits of rarity", 0 for the
    * modal bin. Scale shape: three SMALL aggregated histograms (bounded
    * by bin counts, broadcast back), one TakeOrdered top-20 with full
    * tie-breaks — no window over data, no self-join.
    */
  val qHbosOutliers: Q = Q("q_hbos_outliers", (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"),
        expr("(ts_us DIV 3600000000) % 24").as("hod"))
      .withColumn("vb", expr("c DIV 500"))
    val h1 = e.groupBy("vb").agg(count(lit(1)).as("n1"))
    val h2 = e.groupBy("hod").agg(count(lit(1)).as("n2"))
    val h3 = e.groupBy("event_type").agg(count(lit(1)).as("n3"))
    val m1 = h1.agg(max("n1").as("m1"))
    val m2 = h2.agg(max("n2").as("m2"))
    val m3 = h3.agg(max("n3").as("m3"))
    e.join(broadcast(h1), "vb").join(broadcast(h2), "hod")
      .join(broadcast(h3), "event_type")
      .crossJoin(broadcast(m1)).crossJoin(broadcast(m2)).crossJoin(broadcast(m3))
      .withColumn("score_bits", expr(
        """(length(bin(m1)) - length(bin(n1)))
         + (length(bin(m2)) - length(bin(n2)))
         + (length(bin(m3)) - length(bin(n3)))""").cast("long"))
      .select(col("event_id"), col("event_type"), col("c"), col("vb"),
        col("hod"), col("n1"), col("n2"), col("n3"), col("score_bits"))
      .orderBy(col("score_bits").desc, col("event_id").asc).limit(20)
  }, Some("""WITH e AS (
      SELECT event_id, event_type,
        CAST(round(value * 100) AS BIGINT) AS c,
        (epoch_us(ts) // 3600000000) % 24 AS hod
      FROM events),
    e2 AS (SELECT *, c // 500 AS vb FROM e),
    h1 AS (SELECT vb, count(*)::BIGINT AS n1 FROM e2 GROUP BY vb),
    h2 AS (SELECT hod, count(*)::BIGINT AS n2 FROM e2 GROUP BY hod),
    h3 AS (SELECT event_type, count(*)::BIGINT AS n3 FROM e2 GROUP BY event_type),
    m AS (SELECT (SELECT max(n1) FROM h1) AS m1, (SELECT max(n2) FROM h2) AS m2,
      (SELECT max(n3) FROM h3) AS m3)
    SELECT event_id, event_type, c, vb, hod, n1, n2, n3,
      CAST((length(bin(m1)) - length(bin(n1)))
         + (length(bin(m2)) - length(bin(n2)))
         + (length(bin(m3)) - length(bin(n3))) AS BIGINT) AS score_bits
    FROM e2 JOIN h1 USING (vb) JOIN h2 USING (hod) JOIN h3 USING (event_type), m
    ORDER BY score_bits DESC, event_id ASC LIMIT 20"""))

  /** Zone-map data-skipping EVALUATION — the measurement that justifies
    * [[qZorderLayout]]: assign every lineitem row to a synthetic "file"
    * under two layouts (natural = contiguous orderkey ranges, i.e.
    * insertion order; z-order = Morton-interleaved (partkey, suppkey)
    * tiles), compute each file's min/max zone map on the two predicate
    * columns, then replay a fixed 4×4 grid of rectangle predicates
    * (quarter-width per dimension in quantized space) against the zone
    * maps and count the files a scanner could SKIP. This is exactly the
    * number a lakehouse table service reads to decide whether an
    * `OPTIMIZE ZORDER` rewrite pays for itself: natural order clusters
    * the write key only, so 2-D zone maps are ~full-range and nothing
    * skips; z-order gives every dimension ~2^(bits/2) locality and the
    * same rectangles skip most files. Scale shape: one 1-row range
    * aggregate, one per-file zone-map aggregate per layout (64 rows
    * each — metadata-sized, like the real file statistics), and a
    * 64×16 broadcast cross of zone maps × rectangles. No window, no
    * sort, no data-sized join.
    */
  val qZonemapSkip: Q = Q("layout_zonemap_skip", (s, dir) => {
    import graft.ops.Layout
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val rng = li.agg(
      min("l_orderkey").as("mn_o"), max("l_orderkey").as("mx_o"),
      min("l_partkey").as("mn_p"), max("l_partkey").as("mx_p"),
      min("l_suppkey").as("mn_s"), max("l_suppkey").as("mx_s"))
    val q = li.crossJoin(broadcast(rng))
      .withColumn("p_q", expr(Layout.quantizeSql("DIV", "l_partkey", "mn_p", "mx_p", 10)))
      .withColumn("s_q", expr(Layout.quantizeSql("DIV", "l_suppkey", "mn_s", "mx_s", 10)))
      .withColumn("file_nat", expr(Layout.quantizeSql("DIV", "l_orderkey", "mn_o", "mx_o", 6)))
      .withColumn("file_z", expr(s"(${Layout.zorderSql(Seq("p_q", "s_q"), 10)}) DIV 16384"))
    def zones(fcol: String) = q.groupBy(col(fcol).as("f")).agg(
      min("p_q").as("zp0"), max("p_q").as("zp1"),
      min("s_q").as("zs0"), max("s_q").as("zs1"))
    val rects = s.range(16).select(col("id").as("rect_id"),
      expr("(id DIV 4) * 256").as("lo_p"), expr("(id DIV 4) * 256 + 127").as("hi_p"),
      expr("(id % 4) * 256").as("lo_s"), expr("(id % 4) * 256 + 127").as("hi_s"))
    def scans(fcol: String, n: String, sc: String) =
      zones(fcol).crossJoin(broadcast(rects))
        .groupBy("rect_id")
        .agg(count(lit(1)).as(n),
          sum(when(expr("zp0 <= hi_p AND zp1 >= lo_p AND zs0 <= hi_s AND zs1 >= lo_s"),
            1L).otherwise(0L)).as(sc))
    scans("file_nat", "n_files_nat", "scan_nat")
      .join(scans("file_z", "n_files_z", "scan_z"), "rect_id")
      .withColumn("skip_nat_bp", expr("(n_files_nat - scan_nat) * 10000 DIV n_files_nat"))
      .withColumn("skip_z_bp", expr("(n_files_z - scan_z) * 10000 DIV n_files_z"))
      .select("rect_id", "n_files_nat", "scan_nat", "skip_nat_bp",
        "n_files_z", "scan_z", "skip_z_bp")
      .orderBy("rect_id")
  }, Some {
    import graft.ops.Layout
    s"""WITH rng AS (SELECT min(l_orderkey) AS mn_o, max(l_orderkey) AS mx_o,
        min(l_partkey) AS mn_p, max(l_partkey) AS mx_p,
        min(l_suppkey) AS mn_s, max(l_suppkey) AS mx_s FROM lineitem),
    q AS (SELECT
        ${Layout.quantizeSql("//", "l_partkey", "mn_p", "mx_p", 10)} AS p_q,
        ${Layout.quantizeSql("//", "l_suppkey", "mn_s", "mx_s", 10)} AS s_q,
        ${Layout.quantizeSql("//", "l_orderkey", "mn_o", "mx_o", 6)} AS file_nat
      FROM lineitem, rng),
    z AS (SELECT p_q, s_q, file_nat,
        (${Layout.zorderSql(Seq("p_q", "s_q"), 10)}) // 16384 AS file_z FROM q),
    zn AS (SELECT file_nat AS f, min(p_q) AS zp0, max(p_q) AS zp1,
        min(s_q) AS zs0, max(s_q) AS zs1 FROM z GROUP BY 1),
    zz AS (SELECT file_z AS f, min(p_q) AS zp0, max(p_q) AS zp1,
        min(s_q) AS zs0, max(s_q) AS zs1 FROM z GROUP BY 1),
    r AS (SELECT range AS rect_id, (range // 4) * 256 AS lo_p,
        (range // 4) * 256 + 127 AS hi_p, (range % 4) * 256 AS lo_s,
        (range % 4) * 256 + 127 AS hi_s FROM range(16)),
    sn AS (SELECT rect_id, count(*)::BIGINT AS n_files_nat,
        sum(CASE WHEN zp0 <= hi_p AND zp1 >= lo_p AND zs0 <= hi_s AND zs1 >= lo_s
          THEN 1 ELSE 0 END)::BIGINT AS scan_nat
      FROM zn, r GROUP BY rect_id),
    sz AS (SELECT rect_id, count(*)::BIGINT AS n_files_z,
        sum(CASE WHEN zp0 <= hi_p AND zp1 >= lo_p AND zs0 <= hi_s AND zs1 >= lo_s
          THEN 1 ELSE 0 END)::BIGINT AS scan_z
      FROM zz, r GROUP BY rect_id)
    SELECT rect_id, n_files_nat, scan_nat,
      (n_files_nat - scan_nat) * 10000 // n_files_nat AS skip_nat_bp,
      n_files_z, scan_z,
      (n_files_z - scan_z) * 10000 // n_files_z AS skip_z_bp
    FROM sn JOIN sz USING (rect_id) ORDER BY rect_id"""
  })

  /** BLOOM-filter data-skipping evaluation — the POINT-LOOKUP companion
    * to [[qZonemapSkip]]'s range rectangles: zone maps skip nothing for
    * a point probe on an un-clustered column (every file's [min,max]
    * straddles most keys), which is exactly why lakehouse formats add
    * per-file bloom filters. Each synthetic file (contiguous orderkey
    * ranges) folds its partkeys into a 256-bit bloom (k=3 md5-derived
    * positions, bit words OR-aggregated into 4 BIGINTs — the same
    * metadata a parquet bloom stores); 32 deterministic probe keys then
    * replay against (a) the zone map, (b) the bloom, (c) the exact
    * membership, giving per-probe skip rates and the bloom's actual
    * false-positive count. Pure integer bit arithmetic both engines
    * (BIGINT shifts are arithmetic in both; the OR-fold is bit_or).
    * Scale shape: one per-file aggregate (metadata-sized), a bounded
    * #files×32 broadcast cross, one semi-aggregate for exact truth.
    */
  val qBloomSkip: Q = Q("layout_bloom_skip", (s, dir) => {
    import graft.ops.Sketch.{bloomPosSql, bloomWordSql}
    def wordE(salt: String, key: String, w: Int): String =
      bloomWordSql(salt, key, w, words = 4)
    def hitE(salt: String, key: String): String = {
      val p = bloomPosSql(salt, key, words = 4)
      s"((CASE $p DIV 63 WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END >> ($p % 63)) & 1) = 1"
    }
    val li = Tables.t(s, dir, "lineitem")
      .select(expr("l_orderkey DIV 8").as("f"), col("l_partkey").as("pk"))
    val blooms = li.groupBy("f").agg(
      expr(s"bit_or(${wordE("bl1", "pk", 0)} | ${wordE("bl2", "pk", 0)} | ${wordE("bl3", "pk", 0)})").as("b0"),
      expr(s"bit_or(${wordE("bl1", "pk", 1)} | ${wordE("bl2", "pk", 1)} | ${wordE("bl3", "pk", 1)})").as("b1"),
      expr(s"bit_or(${wordE("bl1", "pk", 2)} | ${wordE("bl2", "pk", 2)} | ${wordE("bl3", "pk", 2)})").as("b2"),
      expr(s"bit_or(${wordE("bl1", "pk", 3)} | ${wordE("bl2", "pk", 3)} | ${wordE("bl3", "pk", 3)})").as("b3"),
      min("pk").as("mn"), max("pk").as("mx"))
    val probes = s.range(32).select(col("id").as("probe_id"))
      .withColumn("qk", expr("CAST(conv(substr(md5(concat('probe', " +
        "CAST(probe_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2500 + 1"))
    val tested = blooms.crossJoin(broadcast(probes))
      .withColumn("zm_maybe", expr("qk BETWEEN mn AND mx"))
      .withColumn("bloom_maybe", expr(
        s"${hitE("bl1", "qk")} AND ${hitE("bl2", "qk")} AND ${hitE("bl3", "qk")}"))
    val actual = li.join(broadcast(probes), col("pk") === col("qk"))
      .select("f", "probe_id").distinct()
      .groupBy("probe_id").agg(count(lit(1)).as("n_actual"))
    tested.groupBy("probe_id", "qk").agg(
        count(lit(1)).as("n_files"),
        sum(expr("CASE WHEN zm_maybe THEN 1L ELSE 0L END")).as("zm_scan"),
        sum(expr("CASE WHEN bloom_maybe THEN 1L ELSE 0L END")).as("bloom_scan"))
      .join(actual, Seq("probe_id"), "left_outer")
      .withColumn("n_actual", coalesce(col("n_actual"), lit(0L)))
      .withColumn("bloom_fp", expr("bloom_scan - n_actual"))
      .withColumn("zm_skip_bp", expr("(n_files - zm_scan) * 10000 DIV n_files"))
      .withColumn("bloom_skip_bp", expr("(n_files - bloom_scan) * 10000 DIV n_files"))
      .select("probe_id", "qk", "n_files", "zm_scan", "bloom_scan",
        "n_actual", "bloom_fp", "zm_skip_bp", "bloom_skip_bp")
      .orderBy("probe_id")
  }, Some {
    def posE(salt: String, key: String): String =
      s"CAST('0x' || substr(md5('$salt' || CAST($key AS VARCHAR)), 1, 15) AS BIGINT) % 252"
    def wordE(salt: String, key: String, w: Int): String = {
      val p = posE(salt, key)
      s"CASE WHEN $p // 63 = $w THEN CAST(1 AS BIGINT) << ($p % 63) ELSE CAST(0 AS BIGINT) END"
    }
    def hitE(salt: String, key: String): String = {
      val p = posE(salt, key)
      s"((CASE $p // 63 WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END >> ($p % 63)) & 1) = 1"
    }
    s"""WITH li AS (SELECT l_orderkey // 8 AS f, l_partkey AS pk FROM lineitem),
    bl AS (SELECT f,
        bit_or(${wordE("bl1", "pk", 0)} | ${wordE("bl2", "pk", 0)} | ${wordE("bl3", "pk", 0)}) AS b0,
        bit_or(${wordE("bl1", "pk", 1)} | ${wordE("bl2", "pk", 1)} | ${wordE("bl3", "pk", 1)}) AS b1,
        bit_or(${wordE("bl1", "pk", 2)} | ${wordE("bl2", "pk", 2)} | ${wordE("bl3", "pk", 2)}) AS b2,
        bit_or(${wordE("bl1", "pk", 3)} | ${wordE("bl2", "pk", 3)} | ${wordE("bl3", "pk", 3)}) AS b3,
        min(pk) AS mn, max(pk) AS mx
      FROM li GROUP BY f),
    pr AS (SELECT range AS probe_id,
        CAST('0x' || substr(md5('probe' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 2500 + 1 AS qk
      FROM range(32)),
    t AS (SELECT probe_id, qk,
        CASE WHEN qk BETWEEN mn AND mx THEN 1 ELSE 0 END AS zm_maybe,
        CASE WHEN ${hitE("bl1", "qk")} AND ${hitE("bl2", "qk")}
          AND ${hitE("bl3", "qk")} THEN 1 ELSE 0 END AS bloom_maybe
      FROM bl, pr),
    ac AS (SELECT probe_id, count(*)::BIGINT AS n_actual
      FROM (SELECT DISTINCT f, probe_id FROM li JOIN pr ON pk = qk)
      GROUP BY probe_id),
    ag AS (SELECT probe_id, qk, count(*)::BIGINT AS n_files,
        CAST(sum(zm_maybe) AS BIGINT) AS zm_scan,
        CAST(sum(bloom_maybe) AS BIGINT) AS bloom_scan
      FROM t GROUP BY probe_id, qk)
    SELECT probe_id, qk, n_files, zm_scan, bloom_scan,
      coalesce(n_actual, 0)::BIGINT AS n_actual,
      CAST(bloom_scan - coalesce(n_actual, 0) AS BIGINT) AS bloom_fp,
      (n_files - zm_scan) * 10000 // n_files AS zm_skip_bp,
      (n_files - bloom_scan) * 10000 // n_files AS bloom_skip_bp
    FROM ag LEFT JOIN ac USING (probe_id) ORDER BY probe_id"""
  })

  val qZorderLayout: Q = Q("layout_zorder", (s, dir) => {
    import graft.ops.Layout
    val li = Tables.t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    val rng = li.agg(
      min("l_partkey").as("mn_p"), max("l_partkey").as("mx_p"),
      min("l_suppkey").as("mn_s"), max("l_suppkey").as("mx_s"))
    li.crossJoin(broadcast(rng))
      .withColumn("p_q", expr(Layout.quantizeSql("DIV", "l_partkey", "mn_p", "mx_p", 10)))
      .withColumn("s_q", expr(Layout.quantizeSql("DIV", "l_suppkey", "mn_s", "mx_s", 10)))
      .withColumn("z", expr(Layout.zorderSql(Seq("p_q", "s_q"), 10)))
      .withColumn("bucket", expr("z DIV 16384"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        (max("p_q") - min("p_q")).as("p_span"),
        (max("s_q") - min("s_q")).as("s_span"))
      .orderBy("bucket")
  }, Some(s"""WITH r AS (SELECT min(l_partkey) AS mn_p, max(l_partkey) AS mx_p,
        min(l_suppkey) AS mn_s, max(l_suppkey) AS mx_s FROM lineitem),
    q AS (SELECT
        ${graft.ops.Layout.quantizeSql("//", "l_partkey", "mn_p", "mx_p", 10)} AS p_q,
        ${graft.ops.Layout.quantizeSql("//", "l_suppkey", "mn_s", "mx_s", 10)} AS s_q
      FROM lineitem, r),
    z AS (SELECT p_q, s_q,
        ${graft.ops.Layout.zorderSql(Seq("p_q", "s_q"), 10)} AS z FROM q)
    SELECT z // 16384 AS bucket, count(*)::BIGINT AS n,
      (max(p_q) - min(p_q))::BIGINT AS p_span,
      (max(s_q) - min(s_q))::BIGINT AS s_span
    FROM z GROUP BY bucket ORDER BY bucket"""))

  /** Small-file compaction PLANNER — the lakehouse `OPTIMIZE` sibling of
    * [[qZorderLayout]]: given a file listing (here each document stands
    * in as one file of `n_chars` bytes inside its `source` partition),
    * assign files to target-size output bins by cumulative-quota
    * binning — files size-DESC within their partition, bin =
    * (running bytes of the files packed before me) DIV target. The
    * quota rule guarantees the plan NEVER exceeds the ideal bin count:
    * the last file starts below total_bytes, so max bin ≤
    * ⌈total/T⌉ − 1 and n_bins ≤ ideal_bins always — a bin only
    * overshoots T by the one file that straddles its boundary (size-
    * DESC ordering puts the big straddlers first, where overshoot is
    * unavoidable anyway). Output per partition: file/bin counts, the
    * ideal, the fattest bin, files individually larger than T, and the
    * file-count reduction in basis points — the table a table-service
    * scheduler reads to decide which partitions to compact first.
    * Scale shape: ONE window partitioned on `source` (the same key the
    * downstream write groups by — no extra shuffle) and two keyed
    * aggregations; never a global sort. At 100 TB the listing is
    * metadata (one row per FILE, not per record) — millions of rows,
    * not billions.
    */
  /** Grid-bucketed spatial kNN census — the cell-partitioned SPATIAL
    * JOIN pattern every distributed geo engine runs (points land in
    * fixed-size grid cells; a point only meets candidates in its own
    * and the 8 neighboring cells — never all-pairs; exact distance
    * verifies): per user point (deterministic md5-derived planar
    * micro-degree coordinates — the portable stand-in for a real
    * lat/lon column), the count of other points within a 20° radius
    * and the squared distance to the nearest one. Pure integer math:
    * e6-scaled coordinates, squared planar distances (max ~2.6·10¹⁷,
    * inside BIGINT), truncating cell quantizers. Cells are df-capped
    * at 64 on the build side (`capGroups`, QUALIFY twin) so one dense
    * city block cannot detonate the probe; edge cells do not wrap (a
    * documented planar approximation — a production variant wraps
    * longitude with one modular term). Scale shape: one distinct-user
    * aggregate, a 9× probe explode, one keyed cell join, one per-point
    * aggregate — shuffle volume is 9·points, independent of the pair
    * count.
    */
  /** One deterministic planar point per user (md5-derived e6
    * micro-degrees) — the portable stand-in for a real lat/lon column,
    * shared by [[qGeoKnnCells]] and [[qGeohashGrid]].
    */
  private def geoPoints(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("lat", expr("CAST(conv(substr(md5(concat('lat', " +
        "CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 180000000 - 90000000"))
      .withColumn("lon", expr("CAST(conv(substr(md5(concat('lon', " +
        "CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 360000000 - 180000000"))

  /** Oracle CTE twin of [[geoPoints]]: defines `p(user_id, lat, lon)`. */
  private val geoPointsSql: String =
    """u AS (SELECT DISTINCT user_id FROM events),
    p AS (SELECT user_id,
        CAST('0x' || substr(md5('lat' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 180000000 - 90000000 AS lat,
        CAST('0x' || substr(md5('lon' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 360000000 - 180000000 AS lon
      FROM u)"""

  val qGeoKnnCells: Q = Q("geo_knn_cells", (s, dir) => {
    val pts = geoPoints(s, dir)
      .withColumn("cx", expr("(lon + 180000000) DIV 20000000"))
      .withColumn("cy", expr("(lat + 90000000) DIV 20000000"))
      .persist()
    val build = graft.ops.Scale.capGroups(
      pts.select(col("user_id").as("ub"), col("lat").as("latb"),
        col("lon").as("lonb"), expr("cx * 100 + cy").as("cell")),
      "cell", 64)
    val probe = pts.select(col("user_id").as("ua"), col("lat"), col("lon"),
        col("cx"), col("cy"))
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .select(col("ua"), col("lat"), col("lon"),
        expr("(cx + dx) * 100 + (cy + dy)").as("cell"))
    val nbrs = probe.join(build, "cell")
      .filter(col("ua") =!= col("ub"))
      .withColumn("d2", expr(
        "(lat - latb) * (lat - latb) + (lon - lonb) * (lon - lonb)"))
      .filter(col("d2") <= 400000000000000L)
      .groupBy("ua")
      .agg(count(lit(1)).as("n_nbrs"), min("d2").as("nn_d2"))
    pts.join(nbrs, pts("user_id") === nbrs("ua"), "left_outer")
      .select(col("user_id"), col("lat"), col("lon"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"), col("nn_d2"))
      .orderBy("user_id")
  }, Some(s"""WITH $geoPointsSql,
    c AS (SELECT *, (lon + 180000000) // 20000000 AS cx,
        (lat + 90000000) // 20000000 AS cy FROM p),
    b AS (SELECT user_id AS ub, lat AS latb, lon AS lonb,
        cx * 100 + cy AS cell FROM c
      QUALIFY count(*) OVER (PARTITION BY cx * 100 + cy) <= 64),
    pr AS (SELECT c.user_id AS ua, c.lat, c.lon,
        (c.cx + dx.x) * 100 + (c.cy + dy.x) AS cell
      FROM c, (SELECT unnest([-1, 0, 1]) AS x) dx,
        (SELECT unnest([-1, 0, 1]) AS x) dy),
    m AS (SELECT ua, count(*)::BIGINT AS n_nbrs,
        min((lat - latb) * (lat - latb) + (lon - lonb) * (lon - lonb)) AS nn_d2
      FROM pr JOIN b USING (cell)
      WHERE ua <> ub
        AND (lat - latb) * (lat - latb) + (lon - lonb) * (lon - lonb)
          <= 400000000000000
      GROUP BY ua)
    SELECT user_id, lat, lon, coalesce(n_nbrs, 0)::BIGINT AS n_nbrs,
      CAST(nn_d2 AS BIGINT) AS nn_d2
    FROM c LEFT JOIN m ON m.ua = c.user_id ORDER BY user_id"""))

  /** Point-in-rectangle containment join — the OTHER standard spatial
    * join next to [[qGeoKnnCells]]' kNN shape (geofences, delivery
    * zones, admin regions): 24 deterministic query rectangles each
    * EXPLODE to the grid cells they cover (bounded — a bbox spans ≤
    * 4×4 of the 20° cells by construction), points land in exactly one
    * cell, the join is a keyed equi-join on the cell id, and the exact
    * BETWEEN containment verifies — the grid-index substitute for an
    * R-tree that distributed engines actually ship. Output: per
    * rectangle, the contained-point census (never empty — rectangles
    * LEFT-join their hits). Shuffle volume is points + Σ covered
    * cells, independent of the candidate-pair count.
    */
  val qGeoBboxJoin: Q = Q("geo_bbox_join", (s, dir) => {
    val pts = geoPoints(s, dir)
      .withColumn("cell", expr(
        "((lon + 180000000) DIV 20000000) * 100 + (lat + 90000000) DIV 20000000"))
    val boxes = s.range(24).select(col("id").as("box_id"))
      .withColumn("clat", expr("CAST(conv(substr(md5(concat('blat', " +
        "CAST(box_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 140000000 - 70000000"))
      .withColumn("clon", expr("CAST(conv(substr(md5(concat('blon', " +
        "CAST(box_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 320000000 - 160000000"))
      .withColumn("hw", expr("(5 + box_id % 11) * 1000000"))
      .withColumn("lat0", expr("clat - hw")).withColumn("lat1", expr("clat + hw"))
      .withColumn("lon0", expr("clon - hw")).withColumn("lon1", expr("clon + hw"))
    val cells = boxes
      .withColumn("cx", explode(expr(
        "sequence((lon0 + 180000000) DIV 20000000, (lon1 + 180000000) DIV 20000000)")))
      .withColumn("cy", explode(expr(
        "sequence((lat0 + 90000000) DIV 20000000, (lat1 + 90000000) DIV 20000000)")))
      .withColumn("cell", expr("cx * 100 + cy"))
      .select("box_id", "lat0", "lat1", "lon0", "lon1", "cell")
    val hits = cells.join(pts, "cell")
      .filter(expr("lat BETWEEN lat0 AND lat1 AND lon BETWEEN lon0 AND lon1"))
      .groupBy("box_id")
      .agg(count(lit(1)).as("n_points"), min("user_id").as("first_user"),
        max("user_id").as("last_user"))
    boxes.join(hits, Seq("box_id"), "left_outer")
      .select(col("box_id"), col("lat0"), col("lat1"), col("lon0"), col("lon1"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        col("first_user"), col("last_user"))
      .orderBy("box_id")
  }, Some(s"""WITH $geoPointsSql,
    pt AS (SELECT user_id, lat, lon,
        ((lon + 180000000) // 20000000) * 100 + (lat + 90000000) // 20000000 AS cell
      FROM p),
    bx AS (SELECT range AS box_id,
        CAST('0x' || substr(md5('blat' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 140000000 - 70000000 AS clat,
        CAST('0x' || substr(md5('blon' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 320000000 - 160000000 AS clon,
        (5 + range % 11) * 1000000 AS hw
      FROM range(24)),
    bb AS (SELECT box_id, clat - hw AS lat0, clat + hw AS lat1,
        clon - hw AS lon0, clon + hw AS lon1 FROM bx),
    cl AS (SELECT box_id, lat0, lat1, lon0, lon1, cx.x * 100 + cy.x AS cell
      FROM bb,
        LATERAL (SELECT unnest(range((lon0 + 180000000) // 20000000,
          (lon1 + 180000000) // 20000000 + 1)) AS x) cx,
        LATERAL (SELECT unnest(range((lat0 + 90000000) // 20000000,
          (lat1 + 90000000) // 20000000 + 1)) AS x) cy),
    m AS (SELECT box_id, count(*)::BIGINT AS n_points,
        min(user_id) AS first_user, max(user_id) AS last_user
      FROM cl JOIN pt USING (cell)
      WHERE lat BETWEEN lat0 AND lat1 AND lon BETWEEN lon0 AND lon1
      GROUP BY box_id)
    SELECT bb.box_id, lat0, lat1, lon0, lon1,
      coalesce(n_points, 0)::BIGINT AS n_points, first_user, last_user
    FROM bb LEFT JOIN m USING (box_id) ORDER BY box_id"""))

  /** Canonical-geohash spatial rollup — the partition-key pyramid every
    * spatial lakehouse table buckets by: each point encodes to its
    * 6-character geohash per the PUBLIC spec ([[graft.ops.Geo]] —
    * MSB-first lon-leading interleave, base-32 without a/i/l/o; GeoSpec
    * pins the Wikipedia reference vectors), then rolls up to the 4-char
    * prefix cell (~39 km × 19.5 km). Prefix-truncation as the cell
    * pyramid is the whole point of geohash at scale: the same string
    * column serves every zoom level with substr, no re-encode. One
    * per-row codegen'd encode + one aggregate; never a pair join.
    */
  val qGeohashGrid: Q = Q("geo_geohash_grid", (s, dir) => {
    import graft.ops.Geo
    geoPoints(s, dir)
      .withColumn("ghb", expr(Geo.geohashBitsSql("DIV", "lat", "lon")))
      .withColumn("gh6", expr(Geo.geohash6FromBitsSql("ghb")))
      .withColumn("gh4", expr("substr(gh6, 1, 4)"))
      .groupBy("gh4")
      .agg(count(lit(1)).as("n_points"),
        countDistinct("gh6").as("n_cells"),
        min("user_id").as("first_user"))
      .orderBy(desc("n_points"), asc("gh4")).limit(50)
  }, Some {
    import graft.ops.Geo
    s"""WITH $geoPointsSql,
    g AS (SELECT user_id, ${Geo.geohashBitsSql("//", "lat", "lon")} AS ghb FROM p),
    h AS (SELECT user_id, ${Geo.geohash6FromBitsSql("ghb")} AS gh6 FROM g)
    SELECT substr(gh6, 1, 4) AS gh4, count(*)::BIGINT AS n_points,
      count(DISTINCT gh6)::BIGINT AS n_cells, min(user_id) AS first_user
    FROM h GROUP BY 1 ORDER BY n_points DESC, gh4 LIMIT 50"""
  })

  /** Point-in-POLYGON containment join — the general-shape geofence
    * operator one step up from [[qGeoBboxJoin]]'s rectangles: 16
    * deterministic CONCAVE star polygons (12 vertices, alternating
    * outer/inner radii — concavity is what separates ray casting from
    * a bbox test), candidate points found through the same covered-cell
    * grid index, containment decided by exact integer ray casting
    * (pnpoly crossing parity with the division cleared by
    * cross-multiplication, sign-split on the edge direction — zero
    * float ops, so both engines agree on every boundary). Scale shape:
    * cells explode is bounded (≤ 4×4 per polygon), the candidate join
    * is keyed on the cell id, the edge join fans each candidate out
    * ×12 (a constant), and the parity vote is one keyed aggregate —
    * shuffle volume is candidates·|edges|, never points·polygons.
    */
  val qGeoPolygonTag: Q = Q("geo_polygon_tag", (s, dir) => {
    val ox = "array(100, 35, 50, 0, -50, -35, -100, -35, -50, 0, 50, 35)"
    val oy = "array(0, 20, 87, 40, 87, 20, 0, -20, -87, -40, -87, -20)"
    val pts = geoPoints(s, dir)
      .select(col("user_id"), col("lat").as("py"), col("lon").as("px"),
        expr("((lon + 180000000) DIV 20000000) * 100 + (lat + 90000000) DIV 20000000")
          .as("cell"))
    val polys = s.range(16).select(col("id").as("poly_id"))
      .withColumn("clat", expr("CAST(conv(substr(md5(concat('plat', " +
        "CAST(poly_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100000000 - 50000000"))
      .withColumn("clon", expr("CAST(conv(substr(md5(concat('plon', " +
        "CAST(poly_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 240000000 - 120000000"))
      .withColumn("sc", expr("(1 + poly_id % 3) * 100000"))
    val bb = polys
      .withColumn("lon0", expr("clon - 100 * sc")).withColumn("lon1", expr("clon + 100 * sc"))
      .withColumn("lat0", expr("clat - 87 * sc")).withColumn("lat1", expr("clat + 87 * sc"))
    val cells = bb
      .withColumn("cx", explode(expr(
        "sequence((lon0 + 180000000) DIV 20000000, (lon1 + 180000000) DIV 20000000)")))
      .withColumn("cy", explode(expr(
        "sequence((lat0 + 90000000) DIV 20000000, (lat1 + 90000000) DIV 20000000)")))
      .select(col("poly_id"), col("lat0"), col("lat1"), col("lon0"), col("lon1"),
        expr("cx * 100 + cy").as("cell"))
    val cand = cells.join(pts, "cell")
      .filter(expr("px BETWEEN lon0 AND lon1 AND py BETWEEN lat0 AND lat1"))
      .select("poly_id", "user_id", "px", "py")
    val edges = polys
      .withColumn("i", explode(expr("sequence(0, 11)")))
      .select(col("poly_id"),
        expr(s"clon + element_at($ox, i + 1) * sc").as("x1"),
        expr(s"clat + element_at($oy, i + 1) * sc").as("y1"),
        expr(s"clon + element_at($ox, CAST((i + 1) % 12 AS INT) + 1) * sc").as("x2"),
        expr(s"clat + element_at($oy, CAST((i + 1) % 12 AS INT) + 1) * sc").as("y2"))
    val parity = cand.join(edges, "poly_id")
      .groupBy("poly_id", "user_id")
      .agg(sum(expr(graft.ops.Geo.rayCrossSql(
        "px", "py", "x1", "y1", "x2", "y2"))).as("nc"))
    val inside = parity.filter(expr("nc % 2 = 1"))
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_inside"), min("user_id").as("first_user"),
        max("user_id").as("last_user"))
    polys.join(inside, Seq("poly_id"), "left_outer")
      .select(col("poly_id"), col("clat"), col("clon"), col("sc"),
        coalesce(col("n_inside"), lit(0L)).as("n_inside"),
        col("first_user"), col("last_user"))
      .orderBy("poly_id")
  }, Some {
    val ox = "[100, 35, 50, 0, -50, -35, -100, -35, -50, 0, 50, 35]"
    val oy = "[0, 20, 87, 40, 87, 20, 0, -20, -87, -40, -87, -20]"
    s"""WITH $geoPointsSql,
    pt AS (SELECT user_id, lat AS py, lon AS px,
        ((lon + 180000000) // 20000000) * 100 + (lat + 90000000) // 20000000 AS cell
      FROM p),
    pg AS (SELECT range AS poly_id,
        CAST('0x' || substr(md5('plat' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 100000000 - 50000000 AS clat,
        CAST('0x' || substr(md5('plon' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 240000000 - 120000000 AS clon,
        (1 + range % 3) * 100000 AS sc
      FROM range(16)),
    bb AS (SELECT *, clon - 100 * sc AS lon0, clon + 100 * sc AS lon1,
        clat - 87 * sc AS lat0, clat + 87 * sc AS lat1 FROM pg),
    cl AS (SELECT poly_id, lat0, lat1, lon0, lon1, cx.x * 100 + cy.x AS cell
      FROM bb,
        LATERAL (SELECT unnest(range((lon0 + 180000000) // 20000000,
          (lon1 + 180000000) // 20000000 + 1)) AS x) cx,
        LATERAL (SELECT unnest(range((lat0 + 90000000) // 20000000,
          (lat1 + 90000000) // 20000000 + 1)) AS x) cy),
    cand AS (SELECT poly_id, user_id, px, py
      FROM cl JOIN pt USING (cell)
      WHERE px BETWEEN lon0 AND lon1 AND py BETWEEN lat0 AND lat1),
    eg AS (SELECT poly_id, clat, clon, sc,
        unnest(list_transform(range(0, 12), i -> CAST(i AS INT))) AS i FROM pg),
    ed AS (SELECT poly_id,
        clon + $ox[i + 1] * sc AS x1, clat + $oy[i + 1] * sc AS y1,
        clon + $ox[CAST((i + 1) % 12 AS INT) + 1] * sc AS x2,
        clat + $oy[CAST((i + 1) % 12 AS INT) + 1] * sc AS y2
      FROM eg),
    ct AS (SELECT c.poly_id, c.user_id,
        sum(${graft.ops.Geo.rayCrossSql("px", "py", "x1", "y1", "x2", "y2")}) AS nc
      FROM cand c JOIN ed USING (poly_id)
      GROUP BY c.poly_id, c.user_id),
    ins AS (SELECT poly_id, count(*)::BIGINT AS n_inside,
        min(user_id) AS first_user, max(user_id) AS last_user
      FROM ct WHERE nc % 2 = 1 GROUP BY poly_id)
    SELECT pg.poly_id, clat, clon, sc,
      coalesce(n_inside, 0)::BIGINT AS n_inside, first_user, last_user
    FROM pg LEFT JOIN ins USING (poly_id) ORDER BY poly_id"""
  })

  /** GREAT-CIRCLE nearest-site assignment — the spherical upgrade of
    * [[qGeoKnnCells]]' planar distances, with the trig done in
    * fixed-point CORDIC ([[graft.ops.Geo.cordicStages]]): every point
    * and each of 8 reference sites becomes a 2^29-scaled unit 3-vector
    * through the SAME unrolled integer rotation chain in both engines
    * (the arctan table rides as literals — no libm call ever runs in a
    * query), and the chord² between unit vectors ranks nearest sites
    * exactly (chord is monotone in central angle, so no inverse trig is
    * needed). Output: per site, the census of points it is nearest to.
    * Scale shape: the CORDIC chain is ~190 pure per-row BIGINT
    * expressions inside one codegen pipeline (zero shuffle), the site
    * table broadcasts (8 rows), the argmin is one keyed aggregate —
    * at 100 TB this is a map-only pass plus one small shuffle.
    */
  val qGeoGreatCircle: Q = Q("geo_greatcircle", (s, dir) => {
    import graft.ops.Geo
    val pts = Geo.applyStages(geoPoints(s, dir),
        Geo.unitVectorStages("p", "lat", "lon"))
      .select(col("user_id"), col("pux"), col("puy"), col("puz"))
    val refs0 = s.range(8).select(col("id").as("ref_id"))
      .withColumn("rlat", expr("CAST(conv(substr(md5(concat('rlat', " +
        "CAST(ref_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 160000000 - 80000000"))
      .withColumn("rlon", expr("CAST(conv(substr(md5(concat('rlon', " +
        "CAST(ref_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 360000000 - 180000000"))
    val refs = Geo.applyStages(refs0, Geo.unitVectorStages("r", "rlat", "rlon"))
      .select(col("ref_id"), col("rlat"), col("rlon"),
        col("rux"), col("ruy"), col("ruz"))
    val nearest = pts.crossJoin(broadcast(refs))
      .withColumn("chord2", expr("(pux - rux) * (pux - rux) + " +
        "(puy - ruy) * (puy - ruy) + (puz - ruz) * (puz - ruz)"))
      .groupBy("user_id")
      .agg(min(struct(col("chord2"), col("ref_id"))).as("mn"))
      .select(col("mn.ref_id").as("ref_id"), col("mn.chord2").as("chord2"))
    val census = nearest.groupBy("ref_id")
      .agg(count(lit(1)).as("n_points"), min("chord2").as("min_chord2"),
        max("chord2").as("max_chord2"))
    refs.select("ref_id", "rlat", "rlon")
      .join(census, Seq("ref_id"), "left_outer")
      .select(col("ref_id"), col("rlat"), col("rlon"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        col("min_chord2"), col("max_chord2"))
      .orderBy("ref_id")
  }, Some {
    import graft.ops.Geo
    val (ptChain, ptLast) = Geo.duckStageChain("gp", "p",
      Geo.unitVectorStages("p", "lat", "lon"))
    val (rfChain, rfLast) = Geo.duckStageChain("gr", "rr",
      Geo.unitVectorStages("r", "rlat", "rlon"))
    s"""WITH $geoPointsSql,
    $ptChain,
    rr AS (SELECT range AS ref_id,
        CAST('0x' || substr(md5('rlat' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 160000000 - 80000000 AS rlat,
        CAST('0x' || substr(md5('rlon' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 360000000 - 180000000 AS rlon
      FROM range(8)),
    $rfChain,
    pv AS (SELECT user_id, pux, puy, puz FROM $ptLast),
    rv AS (SELECT ref_id, rlat, rlon, rux, ruy, ruz FROM $rfLast),
    nr AS (SELECT ref_id, chord2 FROM (
        SELECT user_id, ref_id,
          (pux - rux) * (pux - rux) + (puy - ruy) * (puy - ruy)
            + (puz - ruz) * (puz - ruz) AS chord2
        FROM pv, rv)
      QUALIFY row_number() OVER (PARTITION BY user_id
        ORDER BY chord2, ref_id) = 1),
    cs AS (SELECT ref_id, count(*)::BIGINT AS n_points,
        min(chord2) AS min_chord2, max(chord2) AS max_chord2
      FROM nr GROUP BY ref_id)
    SELECT rv.ref_id, rlat, rlon, coalesce(n_points, 0)::BIGINT AS n_points,
      min_chord2, max_chord2
    FROM rv LEFT JOIN cs USING (ref_id) ORDER BY rv.ref_id"""
  })

  /** Grid-density clustering (DBSCAN-lite) — the production
    * approximation of DBSCAN every distributed geo stack ships (cell
    * histogram instead of eps-balls): 10° cells with ≥ 2 points are
    * CORE; clusters are connected components over the 8-neighbor core
    * cell graph ([[graft.ops.Graph.connectedComponents]] — min-cell-id
    * labels, self-loops declare isolated cores); points in non-core
    * cells adjacent to a core cell attach as BORDER to the minimum
    * neighboring cluster id; everything else is noise. All integer;
    * the oracle closes the same graph with a recursive CTE (the
    * dedup_clusters twin pattern). Scale shape: one cell histogram,
    * a bounded 9× neighbor explode over CORE CELLS ONLY (metadata-
    * sized), the adaptive components loop, two keyed point joins —
    * never a point-to-point distance pair.
    */
  val qGeoDbscan: Q = Q("geo_dbscan_cells", (s, dir) => {
    // pts feeds 4 consumers (histogram, core/border point joins, noise
    // anti-join), occ 2, assigned 2 — persist the shared spines (r13;
    // the unpersisted form re-ran the point scan per consumer)
    val pts = geoPoints(s, dir)
      .withColumn("cx", expr("(lon + 180000000) DIV 10000000"))
      .withColumn("cy", expr("(lat + 90000000) DIV 10000000"))
      .withColumn("cell", expr("cx * 100 + cy"))
      .persist()
    val occ = pts.groupBy("cx", "cy", "cell").agg(count(lit(1)).as("np")).persist()
    val core = occ.filter(col("np") >= 2)
    val nbr = core.select(col("cell").as("src"), col("cx"), col("cy"))
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .select(col("src"), expr("(cx + dx) * 100 + (cy + dy)").as("dst"))
    // join back to core keeps only core→core edges; (c,c) self-pairs
    // survive and declare isolated core cells as their own clusters
    val edges = nbr.join(core.select(col("cell").as("dst")), "dst")
      .select("src", "dst")
    val comp = graft.ops.Graph.connectedComponents(edges, "src", "dst")
      .select(col("v").as("cell"), col("component").as("cluster_id"))
    val corePts = pts.join(comp, "cell")
      .select(col("cluster_id"), col("user_id"), lit(1L).as("is_core"))
    val bAdj = occ.filter(col("np") < 2).select("cell", "cx", "cy")
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .select(col("cell"), expr("(cx + dx) * 100 + (cy + dy)").as("ncell"))
      .join(comp.select(col("cell").as("ncell"), col("cluster_id")), "ncell")
      .groupBy("cell").agg(min("cluster_id").as("cluster_id"))
    val borderPts = pts.join(bAdj, "cell")
      .select(col("cluster_id"), col("user_id"), lit(0L).as("is_core"))
    val assigned = corePts.unionAll(borderPts).persist()
    val clusters = assigned.groupBy("cluster_id")
      .agg(sum("is_core").as("n_core_points"),
        sum(expr("1 - is_core")).as("n_border_points"),
        min("user_id").as("first_user"))
      .join(comp.groupBy("cluster_id").agg(count(lit(1)).as("n_cells")),
        "cluster_id")
    val noise = pts.join(assigned.select(col("user_id").as("au")).distinct(),
        col("user_id") === col("au"), "left_anti")
      .agg(count(lit(1)).as("n_noise"), min("user_id").as("first_noise"))
    clusters.select(lit("cluster").as("kind"), col("cluster_id"),
        col("n_cells"), col("n_core_points"), col("n_border_points"),
        col("first_user"))
      .unionAll(noise.select(lit("noise").as("kind"),
        lit(-1L).as("cluster_id"), lit(0L).as("n_cells"),
        lit(0L).as("n_core_points"), col("n_noise").as("n_border_points"),
        col("first_noise").as("first_user")))
      .orderBy("kind", "cluster_id")
  }, Some(s"""WITH RECURSIVE $geoPointsSql,
    pt AS (SELECT user_id,
        (lon + 180000000) // 10000000 AS cx, (lat + 90000000) // 10000000 AS cy,
        ((lon + 180000000) // 10000000) * 100 + (lat + 90000000) // 10000000 AS cell
      FROM p),
    occ AS (SELECT cx, cy, cell, count(*)::BIGINT AS np FROM pt GROUP BY 1, 2, 3),
    core AS (SELECT * FROM occ WHERE np >= 2),
    ed AS (SELECT c.cell AS src, (c.cx + dx.x) * 100 + (c.cy + dy.x) AS dst
      FROM core c, (SELECT unnest([-1, 0, 1]) AS x) dx,
        (SELECT unnest([-1, 0, 1]) AS x) dy),
    edges AS (SELECT src, dst FROM ed JOIN (SELECT cell FROM core) k
      ON k.cell = ed.dst),
    bi AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    reach AS (
      SELECT DISTINCT src AS v, src AS r FROM bi
      UNION
      SELECT e.dst AS v, r.r FROM reach r JOIN bi e ON e.src = r.v),
    comp AS (SELECT v AS cell, min(r) AS cluster_id FROM reach GROUP BY v),
    corep AS (SELECT cluster_id, user_id, 1 AS is_core
      FROM pt JOIN comp USING (cell)),
    badj AS (SELECT n.cell, min(c.cluster_id) AS cluster_id
      FROM (SELECT cell, cx, cy FROM occ WHERE np < 2) n,
        (SELECT unnest([-1, 0, 1]) AS x) dx,
        (SELECT unnest([-1, 0, 1]) AS x) dy, comp c
      WHERE c.cell = (n.cx + dx.x) * 100 + (n.cy + dy.x)
      GROUP BY n.cell),
    bordp AS (SELECT b.cluster_id, user_id, 0 AS is_core
      FROM pt JOIN badj b USING (cell)),
    asg AS (SELECT * FROM corep UNION ALL SELECT * FROM bordp),
    cl AS (SELECT cluster_id, CAST(sum(is_core) AS BIGINT) AS n_core_points,
        CAST(sum(1 - is_core) AS BIGINT) AS n_border_points,
        min(user_id) AS first_user
      FROM asg GROUP BY 1),
    ncl AS (SELECT cluster_id, count(*)::BIGINT AS n_cells FROM comp GROUP BY 1),
    no AS (SELECT count(*)::BIGINT AS n_noise, min(user_id) AS first_noise
      FROM pt WHERE user_id NOT IN (SELECT user_id FROM asg))
    SELECT 'cluster' AS kind, cl.cluster_id, n_cells, n_core_points,
      n_border_points, first_user
    FROM cl JOIN ncl USING (cluster_id)
    UNION ALL
    SELECT 'noise', CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      n_noise, first_noise FROM no
    ORDER BY kind, cluster_id"""))

  /** Compass-sector census — CORDIC's SECOND mode (vectoring = exact
    * fixed-point atan2) next to [[qGeoGreatCircle]]'s rotation mode:
    * each point's bearing from the origin (atan2(lon, lat) — north 0°,
    * clockwise, the planar approximation the kNN grid already
    * documents) lands in nano-degrees through the same unrolled
    * integer walk in both engines, then bins into the 8 compass
    * sectors. The histogram every movement/antenna-coverage dashboard
    * draws. Map-only until one 8-group aggregate.
    */
  val qGeoBearing: Q = Q("geo_bearing_sectors", (s, dir) => {
    import graft.ops.Geo
    Geo.applyStages(geoPoints(s, dir), Geo.cordicAtan2Stages("b", "lon", "lat"))
      .select(col("user_id"), col("baz"))
      .withColumn("azn", expr(
        "((baz % 360000000000) + 360000000000) % 360000000000"))
      .withColumn("sector", expr("azn DIV 45000000000"))
      .groupBy("sector")
      .agg(count(lit(1)).as("n_points"), min("azn").as("min_az_nano"),
        max("azn").as("max_az_nano"), min("user_id").as("first_user"))
      .orderBy("sector")
  }, Some {
    import graft.ops.Geo
    val (chain, last) = Geo.duckStageChain("ga", "p",
      Geo.cordicAtan2Stages("b", "lon", "lat"))
    s"""WITH $geoPointsSql,
    $chain,
    bz AS (SELECT user_id,
        ((baz % 360000000000) + 360000000000) % 360000000000 AS azn
      FROM $last)
    SELECT azn // 45000000000 AS sector, count(*)::BIGINT AS n_points,
      min(azn) AS min_az_nano, max(azn) AS max_az_nano,
      min(user_id) AS first_user
    FROM bz GROUP BY 1 ORDER BY sector"""
  })

  /** Trajectory SPEED GATE (teleportation / GPS-spoof detection — the
    * fraud check every location pipeline runs): consecutive events per
    * user get deterministic per-EVENT positions, and a hop is flagged
    * when the planar squared distance exceeds what the speed limit
    * allows in the elapsed time — the comparison is pure integer
    * cross-multiplication (d² > v²·dt², dt clamped at 1000 s so the
    * right side stays far inside BIGINT; longer gaps cannot violate
    * any plausible limit). One lag window PER USER (high-cardinality
    * partition — WindowAudit-clean), one aggregate; at cluster scale
    * this is the sessionize shuffle shape.
    */
  /** Per-EVENT deterministic positions — shared by [[qGeoSpeedGate]]
    * and the [[graft.streaming.SpeedGateProcessor]] parity spec so the
    * stream and the batch gate derive locations identically.
    */
  private[graft] def eventPoints(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("lat", expr("CAST(conv(substr(md5(concat('elat', " +
        "CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 180000000 - 90000000"))
      .withColumn("lon", expr("CAST(conv(substr(md5(concat('elon', " +
        "CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 360000000 - 180000000"))

  val qGeoSpeedGate: Q = Q("geo_speed_gate", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val hops = eventPoints(s, dir)
      .withColumn("plat", lag("lat", 1).over(w))
      .withColumn("plon", lag("lon", 1).over(w))
      .withColumn("pts", lag("ts_us", 1).over(w))
      .filter(col("pts").isNotNull)
      .withColumn("d2", expr(
        "(lat - plat) * (lat - plat) + (lon - plon) * (lon - plon)"))
      .withColumn("dt_s", expr("greatest((ts_us - pts) DIV 1000000, 1)"))
      .withColumn("teleport", expr(
        "dt_s <= 1000 AND d2 > 1000000000000 * least(dt_s, 1001) * least(dt_s, 1001)"))
    hops.groupBy("user_id")
      .agg(count(lit(1)).as("n_hops"),
        sum(expr("CASE WHEN teleport THEN 1L ELSE 0L END")).as("n_teleports"),
        max(expr("CASE WHEN teleport THEN d2 ELSE 0L END")).as("max_teleport_d2"))
      .filter(col("n_teleports") > 0)
      .orderBy(desc("n_teleports"), asc("user_id")).limit(50)
  }, Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        CAST('0x' || substr(md5('elat' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 180000000 - 90000000 AS lat,
        CAST('0x' || substr(md5('elon' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 360000000 - 180000000 AS lon
      FROM events),
    h AS (SELECT user_id, lat, lon, ts_us, event_id,
        lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
        lag(ts_us) OVER w AS pts
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    d AS (SELECT user_id,
        (lat - plat) * (lat - plat) + (lon - plon) * (lon - plon) AS d2,
        greatest((ts_us - pts) // 1000000, 1) AS dt_s
      FROM h WHERE pts IS NOT NULL),
    t AS (SELECT user_id, d2,
        dt_s <= 1000 AND d2 > 1000000000000 * least(dt_s, 1001) * least(dt_s, 1001) AS teleport
      FROM d)
    SELECT user_id, count(*)::BIGINT AS n_hops,
      CAST(sum(CASE WHEN teleport THEN 1 ELSE 0 END) AS BIGINT) AS n_teleports,
      CAST(max(CASE WHEN teleport THEN d2 ELSE 0 END) AS BIGINT) AS max_teleport_d2
    FROM t GROUP BY user_id
    HAVING sum(CASE WHEN teleport THEN 1 ELSE 0 END) > 0
    ORDER BY n_teleports DESC, user_id LIMIT 50"""))

  /** Full great-circle distance IN METERS — the numeric surface
    * [[qGeoGreatCircle]]'s chord ranking deliberately avoided, now
    * reachable with ZERO libm by composing the three fixed-point
    * pieces: rotation CORDIC (unit vectors) → exact integer sqrt
    * (half-chord and its complement leg) → vectoring CORDIC
    * (asin via atan2). Distance from every point to reference site 0,
    * rolled into 1000-km bands — the distance-distribution histogram a
    * latency/coverage planner reads. Integer end to end, so both
    * engines produce the SAME meter values; GeoSpec grades the meters
    * against StrictMath haversine on reference city pairs.
    */
  /** [[qGeoHaversine]]'s plan per the geo CORDIC A/B (r8 verdict #2):
    * one cut after the rotation-CORDIC unit vectors, one after the
    * chord² join — each cut splits the ~90-stage fused projection chain
    * so whole-stage codegen compiles two shallower trees instead of one
    * deep one, at the cost of materializing a (user_id + 3·bigint)
    * relation.
    *
    * MEASURED (sf0.1, local[32], 3 interleaved reps, quiet,
    * 2026-08-15): fused cold 11.93 s / warm-min 2.61; ckpt-unit 4.13 /
    * 2.33; ckpt-c2 2.69 / 2.05; ckpt-both 2.25 / 2.02. The deep fused
    * chain pays a brutal first-execution codegen-compile tax (the NSW
    * truncation signature, OPTIMIZATION_r14.md) and still loses warm.
    * ADOPTED: ckpt-both (house rule: win on both axes). The
    * checkpointed relations are tiny — distinct users × 4 longs and × 2
    * longs.
    */
  private def geoHaversineBuild(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import graft.ops.Geo
    val pts = Geo.applyStages(geoPoints(s, dir),
        Geo.unitVectorStages("p", "lat", "lon"))
      .select(col("user_id"), col("pux"), col("puy"), col("puz"))
      .localCheckpoint(true)
    val ref = Geo.applyStages(
        s.range(1).select(col("id").as("ref_id"))
          .withColumn("rlat", expr("CAST(conv(substr(md5(concat('rlat', " +
            "CAST(ref_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 160000000 - 80000000"))
          .withColumn("rlon", expr("CAST(conv(substr(md5(concat('rlon', " +
            "CAST(ref_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 360000000 - 180000000")),
        Geo.unitVectorStages("r", "rlat", "rlon"))
      .select(col("rux"), col("ruy"), col("ruz"))
    val d = pts.crossJoin(broadcast(ref))
      .withColumn("c2", expr("(pux - rux) * (pux - rux) + " +
        "(puy - ruy) * (puy - ruy) + (puz - ruz) * (puz - ruz)"))
      .select("user_id", "c2").localCheckpoint(true)
    Geo.applyStages(d, Geo.greatCircleMetersStages("g", "c2", "DIV"))
      .withColumn("band_1000km", expr("gm DIV 1000000"))
      .groupBy("band_1000km")
      .agg(count(lit(1)).as("n_points"), min("gm").as("min_m"),
        max("gm").as("max_m"), min("user_id").as("first_user"))
      .orderBy("band_1000km")
  }

  val qGeoHaversine: Q = Q("geo_haversine_ref", (s, dir) =>
    geoHaversineBuild(s, dir), Some {
    import graft.ops.Geo
    val (ptChain, ptLast) = Geo.duckStageChain("hp", "p",
      Geo.unitVectorStages("p", "lat", "lon"))
    val (rfChain, rfLast) = Geo.duckStageChain("hr", "rr",
      Geo.unitVectorStages("r", "rlat", "rlon"))
    val (mChain, mLast) = Geo.duckStageChain("hm", "dd",
      Geo.greatCircleMetersStages("g", "c2", "//"))
    s"""WITH $geoPointsSql,
    $ptChain,
    rr AS (SELECT range AS ref_id,
        CAST('0x' || substr(md5('rlat' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 160000000 - 80000000 AS rlat,
        CAST('0x' || substr(md5('rlon' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 360000000 - 180000000 AS rlon
      FROM range(1)),
    $rfChain,
    dd AS (SELECT user_id,
        (pux - rux) * (pux - rux) + (puy - ruy) * (puy - ruy)
          + (puz - ruz) * (puz - ruz) AS c2
      FROM (SELECT user_id, pux, puy, puz FROM $ptLast),
        (SELECT rux, ruy, ruz FROM $rfLast)),
    $mChain
    SELECT gm // 1000000 AS band_1000km, count(*)::BIGINT AS n_points,
      min(gm) AS min_m, max(gm) AS max_m, min(user_id) AS first_user
    FROM $mLast GROUP BY 1 ORDER BY band_1000km"""
  })

  /** Nearest-site DISTANCE census (the ROADMAP round-8 candidate):
    * every point is assigned to its nearest of 8 md5-derived reference
    * sites by EXACT integer chord² (the [[qGeoGreatCircle]] argmin —
    * monotone in central angle, no inverse trig needed to rank), and
    * the distance to that winning site is then materialized IN METERS
    * via the zero-libm CORDIC pipeline ([[graft.ops.Geo
    * .greatCircleMetersStages]]) — per site: assigned points and the
    * min/max/mean meters, the capacity-planning table ("how far is
    * this site's catchment really"). Mean is sum DIV n — exact integer
    * both engines. Plan shape per the geo CORDIC A/B: localCheckpoint at
    * both chain joints (unit vectors; post-argmin chord²) — the argmin
    * aggregation already bounds the meters chain's input to one row
    * per point, and the deep projection chains codegen separately.
    */
  val qGeoNearestSiteM: Q = Q("geo_nearest_site_m", (s, dir) => {
    import graft.ops.Geo
    val pts = Geo.applyStages(geoPoints(s, dir),
        Geo.unitVectorStages("p", "lat", "lon"))
      .select(col("user_id"), col("pux"), col("puy"), col("puz"))
      .localCheckpoint(true)
    val refs = Geo.applyStages(
        s.range(8).select(col("id").as("ref_id"))
          .withColumn("rlat", expr("CAST(conv(substr(md5(concat('rlat', " +
            "CAST(ref_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 160000000 - 80000000"))
          .withColumn("rlon", expr("CAST(conv(substr(md5(concat('rlon', " +
            "CAST(ref_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 360000000 - 180000000")),
        Geo.unitVectorStages("r", "rlat", "rlon"))
      .select(col("ref_id"), col("rux"), col("ruy"), col("ruz"))
    val nearest = pts.crossJoin(broadcast(refs))
      .withColumn("c2", expr("(pux - rux) * (pux - rux) + " +
        "(puy - ruy) * (puy - ruy) + (puz - ruz) * (puz - ruz)"))
      .groupBy("user_id")
      .agg(min(struct(col("c2"), col("ref_id"))).as("mn"))
      .select(col("user_id"), col("mn.ref_id").as("ref_id"),
        col("mn.c2").as("c2"))
      .localCheckpoint(true)
    Geo.applyStages(nearest, Geo.greatCircleMetersStages("g", "c2", "DIV"))
      .groupBy("ref_id")
      .agg(count(lit(1)).as("n_points"), min("gm").as("min_m"),
        max("gm").as("max_m"),
        expr("CAST(sum(gm) AS BIGINT) DIV count(1)").as("mean_m"))
      .orderBy("ref_id")
  }, Some {
    import graft.ops.Geo
    val (ptChain, ptLast) = Geo.duckStageChain("np", "p",
      Geo.unitVectorStages("p", "lat", "lon"))
    val (rfChain, rfLast) = Geo.duckStageChain("nf", "rr",
      Geo.unitVectorStages("r", "rlat", "rlon"))
    val (mChain, mLast) = Geo.duckStageChain("nm", "nr",
      Geo.greatCircleMetersStages("g", "c2", "//"))
    s"""WITH $geoPointsSql,
    $ptChain,
    rr AS (SELECT range AS ref_id,
        CAST('0x' || substr(md5('rlat' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 160000000 - 80000000 AS rlat,
        CAST('0x' || substr(md5('rlon' || CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
          % 360000000 - 180000000 AS rlon
      FROM range(8)),
    $rfChain,
    nr AS MATERIALIZED (SELECT user_id, ref_id, c2 FROM (
        SELECT user_id, ref_id,
          (pux - rux) * (pux - rux) + (puy - ruy) * (puy - ruy)
            + (puz - ruz) * (puz - ruz) AS c2
        FROM (SELECT user_id, pux, puy, puz FROM $ptLast),
          (SELECT ref_id, rux, ruy, ruz FROM $rfLast))
      QUALIFY row_number() OVER (PARTITION BY user_id
        ORDER BY c2, ref_id) = 1),
    $mChain
    SELECT ref_id, count(*)::BIGINT AS n_points, min(gm) AS min_m,
      max(gm) AS max_m, CAST(sum(gm) // count(*) AS BIGINT) AS mean_m
    FROM $mLast GROUP BY ref_id ORDER BY ref_id"""
  })

  val qCompactionPlan: Q = Q("layout_compaction_plan", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val T = 2048L
    val f = Tables.t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars").as("bytes"))
    val w = Window.partitionBy("source")
      .orderBy(col("bytes").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = f.withColumn("c", coalesce(sum("bytes").over(w), lit(0L)))
      .withColumn("bin", expr(s"c DIV $T"))
    val perBin = binned.groupBy("source", "bin")
      .agg(count(lit(1)).as("nf"), sum("bytes").as("bb"),
        sum(expr(s"CASE WHEN bytes > $T THEN 1L ELSE 0L END")).as("nf_over"))
    perBin.groupBy("source")
      .agg(sum("nf").as("n_files"), sum("bb").as("total_bytes"),
        count(lit(1)).as("n_bins"), max("bb").as("max_bin_bytes"),
        sum("nf_over").as("oversize_files"))
      .withColumn("ideal_bins", expr(s"(total_bytes + ${T - 1}) DIV $T"))
      .withColumn("reduction_bp", expr("10000 * (n_files - n_bins) DIV n_files"))
      .select("source", "n_files", "total_bytes", "n_bins", "ideal_bins",
        "max_bin_bytes", "oversize_files", "reduction_bp")
      .orderBy("source")
  }, Some("""WITH f AS (SELECT source, doc_id, n_chars AS bytes FROM documents),
    c AS (SELECT source, bytes,
        coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY bytes DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM f),
    b AS (SELECT source, bytes, c // 2048 AS bin FROM c),
    pb AS (SELECT source, bin, count(*)::BIGINT AS nf,
        CAST(sum(bytes) AS BIGINT) AS bb,
        CAST(sum(CASE WHEN bytes > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS nf_over
      FROM b GROUP BY source, bin)
    SELECT source, CAST(sum(nf) AS BIGINT) AS n_files,
      CAST(sum(bb) AS BIGINT) AS total_bytes,
      count(*)::BIGINT AS n_bins,
      CAST((sum(bb) + 2047) // 2048 AS BIGINT) AS ideal_bins,
      CAST(max(bb) AS BIGINT) AS max_bin_bytes,
      CAST(sum(nf_over) AS BIGINT) AS oversize_files,
      CAST(10000 * (sum(nf) - count(*)) // sum(nf) AS BIGINT) AS reduction_bp
    FROM pb GROUP BY source ORDER BY source"""))

  /** Pivot: event counts per user bucket × event_type as columns. */
  val qPivot: Q = Q("q_pivot", (s, dir) => {
    Tables.events(s, dir)
      .withColumn("bucket", (col("user_id") % 10).cast("bigint"))
      .groupBy("bucket")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("bucket")
  }, Some("""SELECT user_id % 10 AS bucket,
      count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
      count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      count(CASE WHEN event_type = 'error' THEN 1 END) AS error
    FROM events GROUP BY 1 ORDER BY bucket"""))

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * quantile_cont); the approximate path is q_approx_distinct's cousin
    * percentile_approx, deliberately not oracle'd.
    */
  val qPercentiles: Q = Q("q_percentiles", (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.95)"), 4).as("p95_qty"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"))
      .orderBy("l_returnflag")
  }, Some("""SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
      round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty,
      round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Statistical aggregates: sample stddev/variance, correlation and
    * covariance across columns.
    */
  val qStatsAgg: Q = Q("q_stats_agg", (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_discount")), 6).as("var_disc"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_tax")), 6).as("covar_qty_tax"))
      .orderBy("l_linestatus")
  }, Some("""SELECT l_linestatus,
      round(stddev_samp(l_quantity), 4) AS sd_qty,
      round(var_samp(l_discount), 6) AS var_disc,
      round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      round(covar_samp(l_quantity, l_tax), 6) AS covar_qty_tax
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** TPC-H Q12-style conditional aggregation over a join: per ship
    * priority class, counts split by an urgency CASE.
    */
  val q12ShipPriority: Q = Q("q12_conditional_agg", (s, dir) => {
    val o = Tables.t(s, dir, "orders")
    val l = Tables.t(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }, Some("""SELECT l_linestatus,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** TPC-H Q14-style ratio-of-sums: promo revenue share (conditional
    * numerator over a broadcast part join).
    */
  val q14PromoShare: Q = Q("q14_promo_share", (s, dir) => {
    val p = Tables.t(s, dir, "part")
    val l = Tables.t(s, dir, "lineitem")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          / sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_revenue_pct"))
  }, Some("""SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
      / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey"""))

  /** Correlated scalar subquery (Catalyst decorrelates it into a join):
    * customers whose balance beats their nation's average.
    */
  val qCorrelatedSubquery: Q = Q("q_correlated_subquery", (s, dir) => {
    Tables.t(s, dir, "customer").createOrReplaceTempView("graft_cust")
    s.sql("""SELECT c_nationkey, count(*) AS n_above, round(sum(c_acctbal),4) AS sum_above
      FROM graft_cust c
      WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM graft_cust c2
                         WHERE c2.c_nationkey = c.c_nationkey)
      GROUP BY c_nationkey ORDER BY c_nationkey""")
  }, Some("""SELECT c_nationkey, count(*) AS n_above, round(sum(c_acctbal),4) AS sum_above
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    GROUP BY c_nationkey ORDER BY c_nationkey"""))

  /** RANGE-framed window: per-user running sum over the trailing 10
    * minutes of event time (rangeBetween on the µs axis).
    */
  val qWindowRange: Q = Q("q_window_range", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 10)
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-600000000L, 0L)
    e.select(col("user_id"), col("event_id"), col("ts_us"),
        round(sum("value").over(w), 4).as("sum_10min"))
      .orderBy("user_id", "ts_us", "event_id")
  }, Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW), 4) AS sum_10min
    FROM events WHERE user_id < 10 ORDER BY user_id, ts_us, event_id"""))

  /** Explicit GROUPING SETS (beyond rollup/cube): per-(status,priority),
    * per-status, and grand total in one pass.
    */
  val qGroupingSets: Q = Q("q_grouping_sets", (s, dir) => {
    Tables.t(s, dir, "orders")
      .select("o_orderstatus", "o_orderpriority", "o_totalprice")
      .createOrReplaceTempView("graft_gs_src")
    s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      round(sum(o_totalprice),4) AS sum_price
      FROM graft_gs_src
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
  }, Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      round(sum(o_totalprice),4) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  /** Distribution window functions: lead, ntile, percent_rank, cume_dist
    * over per-user event sequences.
    */
  val qWindowDistribution: Q = Q("q_window_distribution", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 5)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e.select(col("user_id"), col("event_id"), col("ts_us"),
        round(lead("value", 2).over(w), 4).as("lead2"),
        ntile(4).over(w).cast("bigint").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("user_id", "ts_us", "event_id")
  }, Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      round(lead(value, 2) OVER w, 4) AS lead2,
      CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      round(percent_rank() OVER w, 6) AS pct_rank,
      round(cume_dist() OVER w, 6) AS cume
    FROM events WHERE user_id < 5
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ORDER BY user_id, ts_us, event_id"""))

  /** HLL-sketch distinct counting (approx_count_distinct) — the scale path
    * when exact distinct's shuffle is too expensive. The engine-native
    * HLL++ estimate can never match another engine bit-for-bit, so the
    * CHECKED output is the exact distinct counts (hash-exact both sides)
    * plus tolerance booleans: |approx − exact| ≤ 15% of exact (3× the
    * default rsd=0.05 — Spark's HLL++ is hash-based and deterministic,
    * so the booleans are stable per dataset; margins measured ≤2% at
    * sf0.001–0.1). The oracle asserts the same exact counts and literal
    * TRUE bounds — a real cross-engine check that the native sketch runs
    * and lands inside its documented error envelope.
    */
  val qApproxDistinct: Q = Q("q_approx_distinct", (s, dir) => {
    Tables.t(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      countDistinct(col("l_suppkey")).as("exact_supps"),
      approx_count_distinct(col("l_partkey")).as("a_parts"),
      approx_count_distinct(col("l_suppkey")).as("a_supps"))
      .select(col("exact_parts"), col("exact_supps"),
        (abs(col("a_parts") - col("exact_parts")) * 100 <= col("exact_parts") * 15)
          .as("parts_within_15pct"),
        (abs(col("a_supps") - col("exact_supps")) * 100 <= col("exact_supps") * 15)
          .as("supps_within_15pct"))
  }, Some("""SELECT count(DISTINCT l_partkey)::BIGINT AS exact_parts,
      count(DISTINCT l_suppkey)::BIGINT AS exact_supps,
      TRUE AS parts_within_15pct, TRUE AS supps_within_15pct
    FROM lineitem"""))

  /** TPC-H Q1-style pricing summary: partial+final hash aggregation, 6
    * aggregates over one scan, filter pushed to parquet.
    */
  val q1Agg: Q = Q("q1_agg", (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }, Some("""SELECT l_returnflag, l_linestatus,
    round(sum(l_quantity),4) AS sum_qty,
    round(sum(l_extendedprice),4) AS sum_base_price,
    round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
    round(avg(l_quantity),4) AS avg_qty,
    round(avg(l_discount),4) AS avg_disc,
    count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q3-style: 3-way join, the filtered customer side broadcast, then
    * top-10 revenue via TakeOrderedAndProject.
    */
  val q3TopkJoin: Q = Q("q3_topk_join", (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.t(s, dir, "orders")
    val l = Tables.t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .select(col("l_orderkey"), epochUs(col("o_orderdate")).as("o_date_us"), col("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }, Some("""SELECT l_orderkey, epoch_us(o_orderdate) AS o_date_us,
    round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""))

  /** TPC-H Q5-style star join: region→nation broadcast down the chain; only
    * the orders⇄lineitem join shuffles.
    */
  val q5RegionRevenue: Q = Q("q5_region_revenue", (s, dir) => {
    val r = Tables.t(s, dir, "region")
    val n = Tables.t(s, dir, "nation")
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders")
    val l = Tables.t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }, Some("""SELECT r_name, n_name,
    round(sum(l_extendedprice*(1-l_discount)),4) AS revenue, count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** Left-semi join — the relational form of the reference's banned-token
    * membership check (middlewares/auth.go:41-48, SURVEY.md Table B).
    */
  val qSemiJoin: Q = Q("q_semi_join", (s, dir) => {
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders").filter(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 4).as("sum_bal"))
  }, Some("""SELECT count(*) AS n_customers, round(sum(c_acctbal),4) AS sum_bal
    FROM customer WHERE EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')"""))

  /** Left-anti join — the banned-token exclusion itself
    * (middlewares/auth.go:41-48): rows NOT in the ban set.
    */
  val qAntiJoin: Q = Q("q_anti_join", (s, dir) => {
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 4).as("sum_bal"))
  }, Some("""SELECT count(*) AS n_customers, round(sum(c_acctbal),4) AS sum_bal
    FROM customer WHERE NOT EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""))

  /** lag() over per-key event time — per-series delta, the bread-and-butter
    * time-series window op.
    */
  val qWindowLag: Q = Q("q_window_lag", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 20)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e.select(col("user_id"), col("event_id"), col("ts_us"),
        round(col("value") - lag("value", 1).over(w), 4).as("delta"))
      .orderBy("user_id", "ts_us", "event_id")
  }, Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 4) AS delta
    FROM events WHERE user_id < 20
    ORDER BY user_id, ts_us, event_id"""))

  /** Top-3 per group via row_number — rank/filter window pattern. */
  val qWindowRank: Q = Q("q_window_rank", (s, dir) => {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("event_type").orderBy(desc("value"), asc("event_id"))
    e.select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("event_type", "rn")
  }, Some("""SELECT event_type, event_id, value, rn FROM (
    SELECT event_type, event_id, value,
      CAST(row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS BIGINT) AS rn
    FROM events) WHERE rn <= 3 ORDER BY event_type, rn"""))

  /** [[qWindowRank]]'s semantics through the NATIVE
    * [[graft.plans.TopKPerGroup]] operator (logical node + strategy +
    * bounded physical exec via [[graft.ops.Scale.topKPerGroup]]): top-3
    * events per type under the identical total order, but with a
    * per-map-partition bounded selection BEFORE the exchange — ≤ k rows
    * per (group, map partition) cross the wire and no WindowExec/full
    * sort exists in the plan (TopKPerGroupSpec pins the shape). The
    * oracle is the row_number form — same rows, different engine path,
    * which is exactly what makes it an oracle.
    */
  val qTopkNative: Q = Q("q_topk_native", (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    graft.ops.Scale.topKPerGroup(e, Seq("event_type"),
        Seq(("value", false), ("event_id", true)), 3)
      .orderBy(col("event_type"), col("value").desc, col("event_id"))
  }, Some("""SELECT event_type, event_id, value FROM (
    SELECT event_type, event_id, value,
      row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
    FROM events) WHERE rn <= 3 ORDER BY event_type, value DESC, event_id"""))

  /** Rolling 5-row sum (rowsBetween) per series. */
  val qWindowRolling: Q = Q("q_window_rolling", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 10)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(-4, 0)
    e.select(col("user_id"), col("event_id"), col("ts_us"),
        round(sum("value").over(w), 4).as("rolling_sum"))
      .orderBy("user_id", "ts_us", "event_id")
  }, Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS rolling_sum
    FROM events WHERE user_id < 10 ORDER BY user_id, ts_us, event_id"""))

  /** Tumbling 1-hour event-time window (Spark `window()`, epoch-aligned). */
  val qTumbling: Q = Q("q_tumbling_window", (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(window(timestamp_micros(col("ts_us")), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("w_start_us", "event_type")
  }, Some("""SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS w_start_us, event_type,
    count(*) AS n_events, round(sum(value),4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY w_start_us, event_type"""))

  /** Session windows (30-min gap) per user — Spark's native session_window;
    * the oracle reproduces the same segmentation with the classic
    * gaps-and-islands window construction (a gap >= 30min starts a new
    * session, matching session_window's half-open [start, start+gap)).
    */
  val qSession: Q = Q("q_session_window", (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(session_window(timestamp_micros(col("ts_us")), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start_us")
  }, Some("""WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
    d AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        >= 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
    g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
        ROWS UNBOUNDED PRECEDING) AS sid FROM d)
    SELECT user_id, min(ts_us) AS session_start_us, count(*) AS n_events,
      round(sum(value),4) AS sum_value
    FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us"""))

  /** ROLLUP region→nation hierarchy. */
  val qRollup: Q = Q("q_rollup", (s, dir) => {
    val r = Tables.t(s, dir, "region")
    val n = Tables.t(s, dir, "nation")
    val c = Tables.t(s, dir, "customer")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "c_acctbal")
      .createOrReplaceTempView("graft_rollup_src")
    s.sql("""SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal),4) AS sum_bal
      FROM graft_rollup_src GROUP BY ROLLUP(r_name, n_name)
      ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
  }, Some("""SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal),4) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""))

  /** CUBE over returnflag × linestatus. */
  val qCube: Q = Q("q_cube", (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 4).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }, Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
    round(sum(l_quantity),4) AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  /** Top-k — Spark plans TakeOrderedAndProject (per-partition heap + merge,
    * no global sort), exactly what you want at 100 TB.
    */
  val qTopk: Q = Q("q_topk", (s, dir) => {
    Tables.t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(15)
  }, Some("""SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15"""))

  /** UNION / INTERSECT / EXCEPT over customer key sets. */
  val qSetOps: Q = Q("q_setops", (s, dir) => {
    val o = Tables.t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val both = f.intersect(open).agg(count(lit(1)).as("n")).select(lit("both_f_and_o").as("op"), col("n"))
    val only = f.except(open).agg(count(lit(1)).as("n")).select(lit("f_minus_o").as("op"), col("n"))
    val all = f.union(open).distinct().agg(count(lit(1)).as("n")).select(lit("f_union_o").as("op"), col("n"))
    both.union(only).union(all).orderBy("op")
  }, Some("""SELECT 'both_f_and_o' AS op, count(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus='F'
      INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
    UNION ALL SELECT 'f_minus_o', count(*) FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus='F'
      EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
    UNION ALL SELECT 'f_union_o', count(*) FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus='F'
      UNION SELECT o_custkey FROM orders WHERE o_orderstatus='O')
    ORDER BY op"""))

  /** Exact multi-column DISTINCT aggregation (the approx/HLL variant is the
    * separate rows-only `q_approx_distinct`).
    */
  val qDistinct: Q = Q("q_distinct", (s, dir) => {
    Tables.t(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"))
  }, Some("""SELECT count(DISTINCT l_partkey) AS n_parts,
    count(DISTINCT l_suppkey) AS n_supps,
    count(DISTINCT l_orderkey) AS n_orders FROM lineitem"""))

  /** As-of join: for each event, the latest order of that customer at or
    * before the event time. Spark pattern: equi-join on the key (both sides
    * co-partitioned by the shuffle; bucketable at cluster scale), range
    * predicate, then row_number()=1 per left row — avoids any cross
    * product. Ties broken by orderkey for determinism.
    */
  val qAsofJoin: Q = Q("q_asof_join", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 30)
      .select("event_id", "user_id", "ts_us")
    val o = Tables.t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), epochUs(col("o_orderdate")).as("o_date_us"))
    val w = Window.partitionBy("event_id").orderBy(desc("o_date_us"), desc("o_orderkey"))
    e.join(o, e("user_id") === o("o_custkey") && o("o_date_us") <= e("ts_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_id", "user_id", "o_orderkey", "o_date_us")
      .orderBy("event_id")
  }, Some("""SELECT event_id, user_id, o_orderkey, o_date_us FROM (
    SELECT e.event_id, e.user_id, o.o_orderkey, epoch_us(o.o_orderdate) AS o_date_us,
      row_number() OVER (PARTITION BY e.event_id
        ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM events e JOIN orders o
      ON o.o_custkey = e.user_id AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
    WHERE e.user_id < 30) WHERE rn = 1 ORDER BY event_id"""))

  /** As-of join with a TOLERANCE bound (pandas merge_asof's `tolerance`,
    * kdb wj's window): the latest prior order only counts if it is no
    * staler than the bound; events whose nearest match is too old keep a
    * NULL — the semantics market-data and sensor joins need ("last quote,
    * but not if it's an hour old"). Same scale shape as [[qAsofJoin]]
    * (equi-join on the key + range predicate + row_number pick — the
    * tolerance predicate prunes the join INPUT, so it's cheaper, never
    * wider), then a left join back onto the events keeps the misses.
    * Tolerance 8400 days splits this corpus's synthetic time bases near
    * the median staleness, so both branches are genuinely exercised.
    */
  val qAsofTolerance: Q = Q("q_asof_tolerance", (s, dir) => {
    val TolUs = 8400L * 86400000000L
    val e = Tables.events(s, dir).filter(col("user_id") < 30)
      .select("event_id", "user_id", "ts_us")
    val o = Tables.t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), epochUs(col("o_orderdate")).as("o_date_us"))
    val w = Window.partitionBy("event_id").orderBy(desc("o_date_us"), desc("o_orderkey"))
    val matched = e.join(o, e("user_id") === o("o_custkey")
        && o("o_date_us") <= e("ts_us")
        && e("ts_us") - o("o_date_us") <= TolUs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id").as("m_eid"), col("o_orderkey"), col("o_date_us"))
    e.join(matched, col("event_id") === col("m_eid"), "left_outer")
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        col("o_date_us"), col("o_orderkey").isNotNull.as("matched"))
      .orderBy("event_id")
  }, Some("""WITH m AS (
      SELECT event_id AS m_eid, o_orderkey, o_date_us FROM (
        SELECT e.event_id, o.o_orderkey, epoch_us(o.o_orderdate) AS o_date_us,
          row_number() OVER (PARTITION BY e.event_id
            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON o.o_custkey = e.user_id
          AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
          AND epoch_us(e.ts) - epoch_us(o.o_orderdate) <= 725760000000000
        WHERE e.user_id < 30) WHERE rn = 1)
    SELECT e.event_id, e.user_id, m.o_orderkey, m.o_date_us,
      m.o_orderkey IS NOT NULL AS matched
    FROM events e LEFT JOIN m ON m.m_eid = e.event_id
    WHERE e.user_id < 30
    ORDER BY e.event_id"""))

  /** Gaps-and-islands over each customer's order-key sequence — the
    * classic "collapse consecutive ids into ranges" warehouse pattern
    * (inventory runs, seat blocks, retry streaks): island id = key −
    * row_number(), constant exactly while keys are consecutive. Output:
    * one row per island with extent and length. One shuffle on the
    * customer key; pure integer arithmetic.
    */
  val qGapsIslands: Q = Q("q_gaps_islands", (s, dir) => {
    Tables.t(s, dir, "orders").filter(col("o_custkey") < 30)
      .select(col("o_custkey").cast("bigint").as("custkey"),
        col("o_orderkey").cast("bigint").as("k"))
      .withColumn("island", col("k") - row_number().over(
        Window.partitionBy("custkey").orderBy("k")))
      .groupBy("custkey", "island")
      .agg(min("k").as("k_start"), max("k").as("k_end"),
        count(lit(1)).as("n_keys"))
      .select(col("custkey"), col("k_start"), col("k_end"), col("n_keys"))
      .orderBy("custkey", "k_start")
  }, Some("""WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS custkey,
        CAST(o_orderkey AS BIGINT) AS k
      FROM orders WHERE o_custkey < 30),
    i AS (SELECT custkey, k,
        k - row_number() OVER (PARTITION BY custkey ORDER BY k) AS island
      FROM o)
    SELECT custkey, min(k) AS k_start, max(k) AS k_end,
      count(*)::BIGINT AS n_keys
    FROM i GROUP BY custkey, island
    ORDER BY custkey, k_start"""))

  /** MERGE/upsert (SCD1 apply) expressed as a FULL OUTER join +
    * row-level coalesce — matched keys take the change row, unmatched
    * changes INSERT, unmatched base rows survive: exactly MERGE INTO
    * WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT, in the engine-
    * neutral relational form that runs on any Spark sink (Delta/Iceberg
    * MERGE compiles to this same join at 100 TB — one shuffle on the
    * merge key, changes side broadcast-able when small). The change
    * feed is synthesized deterministically from the testdata (10% of
    * orders re-statused +100.00, one insert per 30th customer); the
    * output folds the merged table to per-status counts + EXACT cent
    * sums so the check is volume-proof.
    */
  val qMergeUpsert: Q = Q("q_merge_upsert", (s, dir) => {
    val base = Tables.t(s, dir, "orders")
      .select(col("o_orderkey").cast("bigint").as("k"),
        col("o_orderstatus").as("status"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val updates = base.filter(col("k") % 10 === 0)
      .select(col("k"), lit("X").as("status"), (col("cents") + 10000L).as("cents"))
    // insert keys offset ABOVE the o_orderkey domain at any SF (orderkey
    // max is SF·6M, custkey max SF·150k — 10^12 clears both to SF 10^5+);
    // a colliding synthetic key would duplicate merge keys and fan out
    // the full-outer join (ADVICE r3)
    val inserts = Tables.t(s, dir, "customer").filter(col("c_custkey") % 30 === 0)
      .select((col("c_custkey").cast("bigint") + 1000000000000L).as("k"),
        lit("N").as("status"), lit(100L).as("cents"))
    val changes = updates.union(inserts)
      .select(col("k").as("ck"), col("status").as("cstatus"), col("cents").as("ccents"))
    base.join(changes, col("k") === col("ck"), "full_outer")
      .select(coalesce(col("cstatus"), col("status")).as("status"),
        coalesce(col("ccents"), col("cents")).as("cents"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      .orderBy("status")
  }, Some("""WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        o_orderstatus AS status,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    changes AS (
      SELECT k AS ck, 'X' AS cstatus, cents + 10000 AS ccents
      FROM base WHERE k % 10 = 0
      UNION ALL
      SELECT CAST(c_custkey AS BIGINT) + 1000000000000, 'N', 100
      FROM customer WHERE c_custkey % 30 = 0),
    merged AS (SELECT coalesce(cstatus, status) AS status,
        coalesce(ccents, cents) AS cents
      FROM base FULL OUTER JOIN changes ON base.k = changes.ck)
    SELECT status, count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS sum_cents
    FROM merged GROUP BY status ORDER BY status"""))

  /** Market-basket co-occurrence with lift — the association-rule
    * primitive (Agrawal & Srikant's Apriori setting, VLDB'94 — public;
    * here the pair-support + lift readout, which is the part a
    * warehouse actually materializes): parts ordered together, scored
    * by lift = P(a,b) ⁄ (P(a)·P(b)) in integer basis points. Pair
    * generation is a self-join CO-PARTITIONED on the order key; baskets
    * larger than `maxBasketItems` are DROPPED first
    * ([[graft.ops.Scale.capGroups]] — the outlier bound every
    * frequent-itemset run applies: a bulk order with 10⁴ parts would
    * emit 5·10⁷ pairs alone), so per-order pair output is provably
    * ≤ cap²/2 at ANY data scale, never corpus²; the cap window
    * partitions on the same order key the self-join shuffles on, so the
    * guard reuses that partitioning. Part supports are a
    * dimension-sized broadcast; top-20 by (support, lift) is
    * TakeOrderedAndProject. TPC-H baskets are ≤ 13 distinct parts, so
    * the cap leaves the result unchanged here — the oracle applies the
    * identical bound.
    */
  private val maxBasketItems = 64L

  val qBasketPairs: Q = Q("basket_pairs", (s, dir) => {
    // persisted: the distinct basket relation feeds four consumers
    // (both self-join sides, supports, order count)
    val li = graft.ops.Scale.capGroups(
      Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct(),
      "ok", maxBasketItems)
      .persist()
    val supp = li.groupBy("pk").agg(count(lit(1)).as("n_p"))
    val tot = li.select("ok").distinct().agg(count(lit(1)).as("n_orders"))
    val a = li.select(col("ok"), col("pk").as("pa"))
    val b = li.select(col("ok"), col("pk").as("pb"))
    a.hint("shuffle_hash").join(b, "ok").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      .join(broadcast(supp.select(col("pk").as("pa"), col("n_p").as("n_a"))), "pa")
      .join(broadcast(supp.select(col("pk").as("pb"), col("n_p").as("n_b"))), "pb")
      .crossJoin(broadcast(tot))
      .withColumn("lift_bp", expr("n_ab * n_orders * 10000 DIV (n_a * n_b)"))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift_bp"))
      .orderBy(col("n_ab").desc, col("lift_bp").desc, col("pa"), col("pb"))
      .limit(20)
  }, Some(s"""WITH li0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem),
    li AS (SELECT ok, pk FROM li0
      QUALIFY count(*) OVER (PARTITION BY ok) <= $maxBasketItems),
    sp AS (SELECT pk, count(*)::BIGINT AS n_p FROM li GROUP BY pk),
    tot AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM li),
    pr AS (SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS n_ab
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2)
    SELECT pa, pb, n_ab, sa.n_p AS n_a, sb.n_p AS n_b,
      CAST(n_ab * n_orders * 10000 // (sa.n_p * sb.n_p) AS BIGINT) AS lift_bp
    FROM pr JOIN sp sa ON sa.pk = pr.pa JOIN sp sb ON sb.pk = pr.pb, tot
    ORDER BY n_ab DESC, lift_bp DESC, pa, pb LIMIT 20"""))

  /** Clamped running stock balance per part — the warehouse fold a
    * window sum CANNOT express: balance_t = max(0, balance_{t−1} + Δ_t)
    * (stock can't go negative; returns restock, shipments draw down) is
    * NON-LINEAR in the prefix, so it needs a true sequential fold, not
    * a prefix sum. Runs as the house sorted-fold shape (collect →
    * array_sort → aggregate with a SCALAR bigint accumulator — the
    * DuckDB-safe state class), one shuffle on the part key, linear per
    * part inside the aggregate. Deltas: returnflag 'R' restocks
    * +quantity, anything else ships −quantity, ordered by (shipdate,
    * orderkey, linenumber). Output: final balance, peak balance (a
    * second fold packing (balance, peak) into one offset bigint would
    * also work — here peak is folded separately to keep both scalar),
    * move count and gross in/out.
    */
  val qClampedBalance: Q = Q("warehouse_clamped_balance", (s, dir) => {
    val li = Tables.t(s, dir, "lineitem").filter(col("l_partkey") < 200)
      .select(col("l_partkey").as("pk"),
        epochUs(col("l_shipdate")).as("sd"), col("l_orderkey").as("ok"),
        col("l_linenumber").cast("bigint").as("ln"),
        expr("""CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
                ELSE -CAST(l_quantity AS BIGINT) END""").as("delta"))
    li.groupBy("pk")
      .agg(count(lit(1)).as("n_moves"),
        sum(when(col("delta") > 0, col("delta")).otherwise(0L)).as("gross_in"),
        sum(when(col("delta") < 0, -col("delta")).otherwise(0L)).as("gross_out"),
        expr("""transform(array_sort(collect_list(struct(sd, ok, ln, delta))),
            s -> s.delta)""").as("ds"))
      .select(col("pk").as("partkey"), col("n_moves"), col("gross_in"),
        col("gross_out"),
        expr("aggregate(ds, 0L, (acc, x) -> greatest(0L, acc + x))").as("final_balance"),
        expr("""aggregate(ds, named_struct('b', 0L, 'p', 0L),
            (acc, x) -> named_struct(
              'b', greatest(0L, acc.b + x),
              'p', greatest(acc.p, greatest(0L, acc.b + x))), acc -> acc.p)""")
          .as("peak_balance"))
      .orderBy("partkey")
  }, Some("""WITH li AS (
      SELECT l_partkey AS pk, epoch_us(l_shipdate) AS sd, l_orderkey AS ok,
        CAST(l_linenumber AS BIGINT) AS ln,
        CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
             ELSE -CAST(l_quantity AS BIGINT) END AS delta
      FROM lineitem WHERE l_partkey < 200),
    g AS (SELECT pk AS partkey, count(*)::BIGINT AS n_moves,
        CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS gross_in,
        CAST(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END) AS BIGINT) AS gross_out,
        list(delta ORDER BY sd, ok, ln) AS ds
      FROM li GROUP BY pk)
    SELECT partkey, n_moves, gross_in, gross_out,
      list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
        (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)) AS final_balance,
      -- (balance, peak) packed into ONE offset bigint: DuckDB 1.0
      -- list_reduce miscompiles STRUCT accumulators (repo gotcha), and
      -- balances here are bounded by gross_in <= ~1e6 << 2^30
      (list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
        (acc, x) -> greatest(CAST(0 AS BIGINT), (acc % 1073741824) + x)
          + (acc // 1073741824) * 1073741824
          + CASE WHEN greatest(CAST(0 AS BIGINT), (acc % 1073741824) + x)
                      > acc // 1073741824
            THEN (greatest(CAST(0 AS BIGINT), (acc % 1073741824) + x)
                  - acc // 1073741824) * 1073741824
            ELSE 0 END)) // 1073741824 AS peak_balance
    FROM g ORDER BY partkey"""))

  /** NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    * each other instead of vanishing — the semantics CDC merge keys and
    * "unknown bucket" dimensions need, and a join variant plain `=`
    * queries can't express. Keys are orders/customers with a sliver of
    * keys nulled out, so the null×null block genuinely joins; the
    * output aggregates pair counts (total / null-block / distinct keys)
    * rather than materializing the block. Spark plans `<=>` as a
    * hash-joinable key (coalesced-struct trick), so this stays a real
    * equi-join at scale, not a nested loop.
    */
  val qNullsafeJoin: Q = Q("q_nullsafe_join", (s, dir) => {
    val o = Tables.t(s, dir, "orders").select(
      expr("CASE WHEN o_orderkey % 500 = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(o_custkey AS BIGINT) END").as("ok"))
    val c = Tables.t(s, dir, "customer").select(
      expr("CASE WHEN c_custkey % 200 = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(c_custkey AS BIGINT) END").as("ck"))
    o.join(c, col("ok") <=> col("ck"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ok").isNull, 1L).otherwise(0L)).as("n_null_pairs"),
        countDistinct(col("ok")).as("n_keys"))
  }, Some("""WITH o AS (SELECT CASE WHEN o_orderkey % 500 = 0 THEN NULL
        ELSE CAST(o_custkey AS BIGINT) END AS ok FROM orders),
    c AS (SELECT CASE WHEN c_custkey % 200 = 0 THEN NULL
        ELSE CAST(c_custkey AS BIGINT) END AS ck FROM customer)
    SELECT count(*)::BIGINT AS n_pairs,
      sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_pairs,
      count(DISTINCT ok)::BIGINT AS n_keys
    FROM o JOIN c ON o.ok IS NOT DISTINCT FROM c.ck"""))

  /** NEAREST as-of join — the bidirectional completion of q_asof_join
    * (backward) and q_asof_forward (forward): for each click event, the
    * same user's purchase event with minimum |Δts| (ties → the earlier,
    * backward side). Implemented as ONE per-user window scan over the
    * merged stream (running last-purchase / next-purchase with IGNORE
    * NULLS, then an integer distance compare) — no join at all, so no
    * per-key pair explosion: the scale-correct nearest-neighbor-in-time
    * shape, one shuffle on user_id.
    */
  val qAsofNearest: Q = Q("q_asof_nearest", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 20)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
    val wb = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val p = when(col("event_type") === "purchase",
      struct(col("ts_us").as("pts"), col("event_id").as("pid")))
    e.withColumn("pb", last(p, ignoreNulls = true).over(wb))
      .withColumn("pf", first(p, ignoreNulls = true).over(wf))
      .filter(col("event_type") === "click")
      .filter(col("pb").isNotNull || col("pf").isNotNull)
      .withColumn("use_b", col("pf").isNull ||
        (col("pb").isNotNull && col("ts_us") - col("pb.pts") <= col("pf.pts") - col("ts_us")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("use_b"), col("pb.pid")).otherwise(col("pf.pid")).as("p_event_id"),
        (when(col("use_b"), col("pb.pts")).otherwise(col("pf.pts")) - col("ts_us"))
          .as("delta_us"))
      .orderBy("event_id")
  }, Some("""WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      FROM events WHERE user_id < 20),
    w AS (SELECT *,
        last_value(CASE WHEN event_type = 'purchase'
            THEN {'pts': ts_us, 'pid': event_id} END IGNORE NULLS) OVER pre AS pb,
        first_value(CASE WHEN event_type = 'purchase'
            THEN {'pts': ts_us, 'pid': event_id} END IGNORE NULLS) OVER post AS pf
      FROM e
      WINDOW pre AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        post AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    c AS (SELECT *,
        (pf IS NULL OR (pb IS NOT NULL AND ts_us - pb.pts <= pf.pts - ts_us)) AS use_b
      FROM w WHERE event_type = 'click' AND (pb IS NOT NULL OR pf IS NOT NULL))
    SELECT event_id, user_id, ts_us,
      CASE WHEN use_b THEN pb.pid ELSE pf.pid END AS p_event_id,
      (CASE WHEN use_b THEN pb.pts ELSE pf.pts END) - ts_us AS delta_us
    FROM c ORDER BY event_id"""))

  /** Range (interval) self-join: pairs of events of the same user within 5
    * minutes. The equi-key keeps it a hash join + residual range filter.
    */
  val qRangeJoin: Q = Q("q_range_join", (s, dir) => {
    val a = Tables.events(s, dir).select(col("user_id"), col("ts_us").as("ts_a"))
    val b = Tables.events(s, dir).select(col("user_id").as("user_b"), col("ts_us").as("ts_b"))
    a.join(b, a("user_id") === b("user_b") &&
        b("ts_b") > a("ts_a") && b("ts_b") - a("ts_a") <= 300000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }, Some("""SELECT a.user_id, count(*) AS n_pairs
    FROM events a JOIN events b ON a.user_id = b.user_id
      AND epoch_us(b.ts) > epoch_us(a.ts)
      AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
    GROUP BY a.user_id ORDER BY a.user_id"""))

  /** Scalar function surface: JSON extraction (A14 analog), sha256 txn ids
    * (middlewares/logger.go:56-59), epoch truncation, string ops.
    */
  val qScalarFuncs: Q = Q("q_scalar_funcs", (s, dir) => {
    Tables.events(s, dir).filter(col("event_id") < 1000)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"),
        substring(sha2(concat(col("event_id").cast("string"), lit(":"),
          col("user_id").cast("string")), 256), 1, 16).as("txn"),
        (col("ts_us") - col("ts_us") % 86400000000L).as("day_us"),
        upper(col("event_type")).as("type_upper"),
        length(col("event_type")).cast("long").as("type_len"))
      .orderBy("event_id")
  }, Some("""SELECT event_id,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
    substr(sha256(CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 16) AS txn,
    epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
    upper(event_type) AS type_upper,
    CAST(length(event_type) AS BIGINT) AS type_len
    FROM events WHERE event_id < 1000 ORDER BY event_id"""))

  /** Spark 4 VARIANT as the dynamic-typed path for the reference's
    * `interface{}` value slot (SURVEY.md §1.4 noted VARIANT as the
    * alternative to the tagged union): parse_json → typed variant_get.
    */
  val qVariant: Q = Q("q_variant", (s, dir) => {
    Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k_val"),
        expr("try_variant_get(parse_json(props), '$.missing', 'string') IS NULL").as("missing_is_null"))
      .orderBy("event_id")
  }, Some("""SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      json_extract_string(props, '$.missing') IS NULL AS missing_is_null
    FROM events WHERE event_id < 2000 ORDER BY event_id"""))

  /** The seconds-vs-millis-vs-zero timestamp heuristic
    * (catalyser/opentsdb.go:127-144) through `Gts.normalizeEpochUs`, the
    * function every parser calls, exercised over synthesized epochs
    * covering all branches incl. both sides of the 0xFFFFFFFF boundary.
    * Fixed "now" literal keeps it deterministic.
    */
  val qTsHeuristic: Q = Q("q_ts_heuristic", (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("event_id"),
        expr(s"""CASE event_id % 5
          WHEN 0 THEN 0L
          WHEN 1 THEN ts_us DIV 1000000
          WHEN 2 THEN ts_us DIV 1000
          WHEN 3 THEN 4294967294L
          ELSE 4294967295L END""").as("raw_ts"))
      .as[(Long, Long)]
      .map { case (eid, raw) => (eid, raw, graft.core.Gts.normalizeEpochUs(raw, NowUsLiteral)) }
      .toDF("event_id", "raw_ts", "norm_us")
      .orderBy("event_id")
  }, Some(s"""SELECT event_id, raw_ts,
    CASE WHEN raw_ts = 0 THEN $NowUsLiteral
      WHEN raw_ts < 4294967295 THEN raw_ts * 1000000
      ELSE raw_ts * 1000 END AS norm_us
    FROM (SELECT event_id,
      CASE event_id % 5
        WHEN 0 THEN 0
        WHEN 1 THEN epoch_us(ts) // 1000000
        WHEN 2 THEN epoch_us(ts) // 1000
        WHEN 3 THEN 4294967294
        ELSE 4294967295 END AS raw_ts
      FROM events) ORDER BY event_id"""))

  /** Per-part triangle counts over the order co-purchase graph (parts
    * are linked when they appear in the same order) — the clustering/
    * community density primitive (recommendation neighborhoods, fraud
    * rings). Runs [[graft.ops.Graph.triangles]]: degree-oriented wedge
    * closure, O(m^1.5) wedges instead of a hub-quadratic blowup, every
    * triangle emitted exactly once, no iteration. The oracle counts the
    * same triangles by the canonical a<b<c three-way self-join.
    */
  val qTriangles: Q = Q("graph_triangles", (s, dir) => {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = li.as("x").join(li.as("y"), "o")
      .filter(col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
    graft.ops.Graph.triangles(edges)
      .orderBy(desc("n_tri"), asc("v")).limit(100)
  }, Some("""WITH raw AS (
      SELECT l_orderkey AS o, l_partkey AS p FROM lineitem GROUP BY 1, 2),
    e AS (SELECT DISTINCT least(a.p, b.p) AS lo, greatest(a.p, b.p) AS hi
      FROM raw a JOIN raw b ON a.o = b.o AND a.p < b.p),
    t AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM e e1 JOIN e e2 ON e2.lo = e1.hi
        JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
    x AS (SELECT unnest([a, b, c]) AS v FROM t)
    SELECT v, count(*)::BIGINT AS n_tri FROM x
    GROUP BY v ORDER BY n_tri DESC, v LIMIT 100"""))
  /** 18-round unrolled peeling chains for k=2,3,4 (max observed fixpoint
    * is 10 rounds at sf0.01/k=3; extra rounds are no-ops on a converged
    * subgraph, so the fixed unroll equals the Spark loop's early-exit
    * fixpoint). DuckDB's recursive CTEs disallow aggregation in the
    * recursive term — same generated-chain technique as the pagerank
    * oracle.
    */
  private lazy val kcoreOracleSql: String = {
    val rounds = 18
    val chains = Seq(2, 3, 4).map { k =>
      (1 to rounds).map { r =>
        s""",
    k${k}_$r AS MATERIALIZED (SELECT v FROM (SELECT lo AS v FROM e${k}_${r - 1} UNION ALL SELECT hi FROM e${k}_${r - 1})
      GROUP BY v HAVING count(*) >= $k),
    e${k}_$r AS MATERIALIZED (SELECT e.lo, e.hi FROM e${k}_${r - 1} e
      JOIN k${k}_$r a ON e.lo = a.v JOIN k${k}_$r b ON e.hi = b.v)"""
      }.mkString
    }
    def summary(k: Int) =
      s"""SELECT $k AS k,
      (SELECT count(*) FROM (SELECT lo AS v FROM e${k}_$rounds UNION SELECT hi FROM e${k}_$rounds))::BIGINT AS core_vertices,
      (SELECT count(*) FROM e${k}_$rounds)::BIGINT AS core_edges"""
    s"""WITH raw AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem GROUP BY 1, 2),
    eb AS MATERIALIZED (SELECT least(a.p, b.p) AS lo, greatest(a.p, b.p) AS hi
      FROM raw a JOIN raw b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2),
    e2_0 AS (FROM eb), e3_0 AS (FROM eb), e4_0 AS (FROM eb)${chains.mkString}
    ${summary(2)} UNION ALL ${summary(3)} UNION ALL ${summary(4)} ORDER BY k"""
  }

  /** K-core skeleton of the REPEAT co-purchase graph (parts paired in
    * >= 2 distinct orders — the one-off noise pairs pruned away): for
    * k=2,3,4, the size of the subgraph where every part keeps >= k
    * repeat-partners inside the core. Runs [[graft.ops.Graph.kcore]]
    * (iterative peel, early-exit on the monotone edge count) three
    * times over ONE persisted base edge build — the expensive
    * co-purchase self-join happens once.
    */
  val qKcore: Q = Q("graph_kcore", (s, dir) => {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val base = li.as("x").join(li.as("y").hint("shuffle_hash"), "o")
      .filter(col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("lo"), col("y.p").as("hi"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select("lo", "hi").persist()
    base.count() // materialize once before the peels
    // cores are NESTED (the (k+1)-core is a subgraph of the k-core), so
    // each peel starts from the previous core instead of the full base —
    // the k=3 and k=4 rounds run on the already-shrunken survivor set
    var cur = base
    val rows = Seq(2, 3, 4).map { k =>
      cur = graft.ops.Graph.kcore(cur, k)
      val nv = cur.select(col("lo").as("v")).union(cur.select(col("hi").as("v")))
        .distinct().count()
      val ne = cur.count()
      (k, nv, ne)
    }
    base.unpersist()
    import s.implicits._
    rows.toDF("k", "core_vertices", "core_edges").repartition(1).orderBy("k")
  }, Some(kcoreOracleSql))

  /** Funnel stage-transition latency — the "how long between stages"
    * companion to [[qFunnel]]'s conversion rates, sharing its strict
    * first-signup → first-click-after → first-purchase-after times.
    * Per transition: converter count and min / exact DISCRETE median /
    * max latency in µs — the median is the rank-(n+1) DIV 2 element via
    * count + a per-stage row_number filter (state per ROW, spillable at
    * any converter count; both engines pick the identical ranked
    * element, so no interpolation arithmetic exists to diverge).
    */
  val qFunnelLatency: Q = Q("q_funnel_latency", (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts_us"))
    val t1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min("ts_us").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts_us") > col("t2"))
      .groupBy("user_id").agg(min("ts_us").as("t3"))
    // truncate the cascade spine ONCE: without it every downstream
    // reference (both union branches, the stats pass, the rank pass)
    // re-executed the whole t1->t2->t3 event cascade — 102 Exchanges in
    // the r13 plan dump, ~10 redundant event scans at scale. Checkpoint,
    // not persist: a persist on each of lats/u/stats was A/B'd WORSE
    // (1.18 -> 1.63 s — barriers serialize subtrees that run in
    // parallel on an idle box); one truncation of the converter-sized
    // spine keeps the cheap downstream duplication parallel.
    val lats = t1.join(t2, "user_id").join(t3, Seq("user_id"), "left_outer")
      .select(col("user_id"), (col("t2") - col("t1")).as("lat1"),
        (col("t3") - col("t2")).as("lat2"))
      .localCheckpoint(true)
    val s1 = lats.select(lit("signup_to_click").as("stage"), col("lat1").as("lat"))
    val s2 = lats.filter(col("lat2").isNotNull)
      .select(lit("click_to_purchase").as("stage"), col("lat2").as("lat"))
    // exact discrete median via count + row_number (two passes, state
    // per ROW): the earlier collect_list fold grew one aggregate row
    // with the converter count — the per-stage rank window sorts
    // spillably instead (round-5 advice)
    val u = s1.unionByName(s2)
    val stats = u.groupBy("stage")
      .agg(count(lit(1)).as("n"), min("lat").as("min_us"), max("lat").as("max_us"))
    val ranked = u.withColumn("rn",
      row_number().over(Window.partitionBy("stage").orderBy("lat")))
    val med = ranked.join(stats.select(col("stage"), col("n").as("_n")), "stage")
      .filter(col("rn") === expr("(_n + 1) DIV 2"))
      .select(col("stage"), col("lat").as("median_us"))
    stats.join(med, "stage")
      .select("stage", "n", "min_us", "median_us", "max_us")
      .orderBy("stage")
  }, Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
    t1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
      WHERE event_type = 'signup' GROUP BY user_id),
    t2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e
      JOIN t1 ON t1.user_id = e.user_id AND e.ts_us > t1.t1
      WHERE event_type = 'click' GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e
      JOIN t2 ON t2.user_id = e.user_id AND e.ts_us > t2.t2
      WHERE event_type = 'purchase' GROUP BY e.user_id),
    l AS (SELECT t1.user_id, t2.t2 - t1.t1 AS lat1, t3.t3 - t2.t2 AS lat2
      FROM t1 JOIN t2 ON t2.user_id = t1.user_id
      LEFT JOIN t3 ON t3.user_id = t1.user_id),
    u AS (SELECT 'signup_to_click' AS stage, lat1 AS lat FROM l
      UNION ALL
      SELECT 'click_to_purchase', lat2 FROM l WHERE lat2 IS NOT NULL),
    c AS (SELECT stage, count(*)::BIGINT AS n, min(lat) AS min_us,
      max(lat) AS max_us FROM u GROUP BY stage),
    r AS (SELECT stage, lat,
      row_number() OVER (PARTITION BY stage ORDER BY lat) AS rn FROM u),
    m AS (SELECT r.stage, r.lat AS median_us FROM r JOIN c USING (stage)
      WHERE rn = (n + 1) // 2)
    SELECT stage, n, min_us, median_us, max_us
    FROM c JOIN m USING (stage) ORDER BY stage"""))

  /** Cohort LTV curves — the monetary companion to
    * [[qRetentionCohorts]] (same first-activity-week cohorts): per
    * (cohort, week offset) the purchase revenue in exact cents, the
    * running cumulative, and cumulative LTV per cohort user — the
    * "when does a cohort pay back" curve. The only window is the
    * per-cohort cumulative over WEEK OFFSETS (rows = weeks in the
    * corpus, partitioned by cohort — never data-sized); cohort sizes
    * join back as a broadcast-scale side.
    */
  val qCohortLtv: Q = Q("q_cohort_ltv", (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_us DIV 604800000000").as("wk"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val first = e.groupBy("user_id").agg(min("wk").as("w0"))
    val sizes = first.groupBy("w0").agg(count(lit(1)).as("n0"))
    val weekRev = e.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .groupBy(col("w0").as("cohort_week"), (col("wk") - col("w0")).as("week_offset"))
      .agg(sum("cents").as("week_rev_c"))
    val w = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    weekRev
      .withColumn("cum_rev_c", sum("week_rev_c").over(w))
      .join(sizes.select(col("w0").as("cohort_week"), col("n0")), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("week_rev_c"),
        col("cum_rev_c"), expr("cum_rev_c DIV n0").as("ltv_per_user_c"))
      .orderBy("cohort_week", "week_offset")
  }, Some("""WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) // 604800000000 AS wk,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    f AS (SELECT user_id, min(wk) AS w0 FROM e GROUP BY user_id),
    sz AS (SELECT w0, count(*)::BIGINT AS n0 FROM f GROUP BY w0),
    wr AS (SELECT f.w0 AS cohort_week, e.wk - f.w0 AS week_offset,
        CAST(sum(cents) AS BIGINT) AS week_rev_c
      FROM e JOIN f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
    c AS (SELECT *, CAST(sum(week_rev_c) OVER (PARTITION BY cohort_week
        ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c
      FROM wr)
    SELECT cohort_week, week_offset, week_rev_c, cum_rev_c,
      CAST(cum_rev_c // sz.n0 AS BIGINT) AS ltv_per_user_c
    FROM c JOIN sz ON sz.w0 = c.cohort_week
    ORDER BY cohort_week, week_offset"""))

  /** First-order Markov transition matrix over per-user event
    * sequences — the behavioral-model estimate behind next-action
    * prediction and PageRank-style journey analysis (the same lead()
    * edge derivation [[Graphs.hits]] walks, aggregated to
    * probabilities): per (from, to) transition the count and row-
    * normalized probability in exact integer basis points. One window
    * pass + one partial-agg shuffle; the matrix is |event types|²
    * rows — model-sized, never data-sized.
    */
  val qMarkovTransitions: Q = Q("q_markov_transitions", (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = Tables.events(s, dir)
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type").as("from_type"), col("nxt").as("to_type"))
    val counts = trans.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("row_total"))
    counts.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("10000 * n DIV row_total").as("prob_bp"))
      .orderBy("from_type", "to_type")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
    t AS (SELECT event_type AS from_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
      FROM e QUALIFY to_type IS NOT NULL),
    c AS (SELECT from_type, to_type, count(*)::BIGINT AS n
      FROM t GROUP BY from_type, to_type),
    r AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
      FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
      CAST(10000 * c.n // r.row_total AS BIGINT) AS prob_bp
    FROM c JOIN r USING (from_type)
    ORDER BY from_type, to_type"""))

  /** RFM customer segmentation (Hughes, "Strategic Database
    * Marketing" — the classic warehouse recency/frequency/monetary
    * model) with FIXED policy thresholds, the scale-stable form (quota
    * tiers like quintiles need a data-sized global ranking; policy
    * thresholds are a broadcast constant): R = days since last order
    * before the corpus max date, F = order count, M = lifetime value in
    * exact cents. Segment = concatenated R/F/M tier digits plus the
    * standard named buckets. One groupBy(custkey) + a 1-row max-date
    * broadcast — no window anywhere.
    */
  val qRfmSegmentation: Q = Q("q_rfm_segmentation", (s, dir) => {
    val o = Tables.t(s, dir, "orders")
      .select(col("o_custkey"), expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("od_us"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mx = o.agg(max("od_us").as("mx_us"))
    val rfm = o.crossJoin(broadcast(mx))
      .groupBy("o_custkey")
      .agg(min(expr("(mx_us - od_us) DIV 86400000000")).as("recency_days"),
        count(lit(1)).as("frequency"),
        sum("cents").as("monetary_c"))
      .withColumn("r_tier", expr(
        "CASE WHEN recency_days <= 100 THEN 3 WHEN recency_days <= 400 THEN 2 ELSE 1 END"))
      .withColumn("f_tier", expr(
        "CASE WHEN frequency >= 20 THEN 3 WHEN frequency >= 10 THEN 2 ELSE 1 END"))
      .withColumn("m_tier", expr(
        "CASE WHEN monetary_c >= 300000000 THEN 3 WHEN monetary_c >= 100000000 THEN 2 ELSE 1 END"))
      .withColumn("segment", expr(
        """CASE WHEN r_tier = 3 AND f_tier = 3 AND m_tier = 3 THEN 'champion'
             WHEN r_tier >= 2 AND f_tier >= 2 THEN 'loyal'
             WHEN r_tier = 3 THEN 'recent'
             WHEN f_tier >= 2 OR m_tier >= 2 THEN 'at_risk'
             ELSE 'hibernating' END"""))
    rfm.groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum("monetary_c").as("segment_value_c"),
        min(expr("r_tier * 100 + f_tier * 10 + m_tier")).as("min_rfm"),
        max(expr("r_tier * 100 + f_tier * 10 + m_tier")).as("max_rfm"))
      .orderBy("segment")
  }, Some("""WITH o AS (
      SELECT o_custkey, epoch_us(o_orderdate) AS od_us,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    mx AS (SELECT max(od_us) AS mx_us FROM o),
    rfm AS (SELECT o_custkey,
        min((mx.mx_us - od_us) // 86400000000) AS recency_days,
        count(*)::BIGINT AS frequency,
        CAST(sum(cents) AS BIGINT) AS monetary_c
      FROM o, mx GROUP BY o_custkey, mx.mx_us),
    t AS (SELECT *,
        CASE WHEN recency_days <= 100 THEN 3 WHEN recency_days <= 400 THEN 2 ELSE 1 END AS r_tier,
        CASE WHEN frequency >= 20 THEN 3 WHEN frequency >= 10 THEN 2 ELSE 1 END AS f_tier,
        CASE WHEN monetary_c >= 300000000 THEN 3 WHEN monetary_c >= 100000000 THEN 2 ELSE 1 END AS m_tier
      FROM rfm),
    seg AS (SELECT *,
        CASE WHEN r_tier = 3 AND f_tier = 3 AND m_tier = 3 THEN 'champion'
          WHEN r_tier >= 2 AND f_tier >= 2 THEN 'loyal'
          WHEN r_tier = 3 THEN 'recent'
          WHEN f_tier >= 2 OR m_tier >= 2 THEN 'at_risk'
          ELSE 'hibernating' END AS segment
      FROM t)
    SELECT segment, count(*)::BIGINT AS n_customers,
      CAST(sum(monetary_c) AS BIGINT) AS segment_value_c,
      min(r_tier * 100 + f_tier * 10 + m_tier) AS min_rfm,
      max(r_tier * 100 + f_tier * 10 + m_tier) AS max_rfm
    FROM seg GROUP BY segment ORDER BY segment"""))

  /** Marketing attribution over the event stream: every purchase is
    * credited to the LAST non-purchase touch before it and to the FIRST
    * touch in the user's history (the two standard single-touch models)
    * via IGNORE NULLS window folds — one per-user ordered pass, no self
    * join. Output: per (model, touch type) conversions and attributed
    * revenue in exact integer cents; purchases with no prior touch fall
    * into the '(none)' bucket so the two models' totals provably
    * reconcile to the same conversion count.
    */
  val qAttribution: Q = Q("q_attribution", (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = Tables.events(s, dir)
      .withColumn("touch", when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("last_touch", last("touch", ignoreNulls = true).over(w))
      .withColumn("first_touch", first("touch", ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("rev_c", expr("CAST(round(value * 100) AS BIGINT)"))
    val lastM = touched.groupBy(coalesce(col("last_touch"), lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("conversions"), sum("rev_c").as("revenue_c"))
      .withColumn("model", lit("last"))
    val firstM = touched.groupBy(coalesce(col("first_touch"), lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("conversions"), sum("rev_c").as("revenue_c"))
      .withColumn("model", lit("first"))
    lastM.unionByName(firstM)
      .select("model", "touch_type", "conversions", "revenue_c")
      .orderBy("model", "touch_type")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
      FROM events),
    t AS (SELECT *,
        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
        first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
      FROM e),
    p AS (SELECT *, CAST(round(value * 100) AS BIGINT) AS rev_c
      FROM t WHERE event_type = 'purchase')
    SELECT 'last' AS model, coalesce(last_touch, '(none)') AS touch_type,
      count(*)::BIGINT AS conversions, CAST(sum(rev_c) AS BIGINT) AS revenue_c
    FROM p GROUP BY 2
    UNION ALL
    SELECT 'first', coalesce(first_touch, '(none)'),
      count(*)::BIGINT, CAST(sum(rev_c) AS BIGINT)
    FROM p GROUP BY 2
    ORDER BY model, touch_type"""))

  /** TPC-H Q16 shape (supplier breadth per part class): how many
    * DISTINCT suppliers ship each (brand, size-band) part class,
    * excluding one brand — the assortment-coverage query a sourcing
    * team runs. Scale shape: the part dim is filtered and BROADCAST
    * into the lineitem scan, the distinct-supplier count groups by the
    * class key with partial aggregation; no row-level self-joins.
    * Size bands are integer quartiles of p_size (size DIV 13 — fixed
    * width, no data-dependent breakpoints).
    */
  val q16SupplierBreadth: Q = Q("q16_supplier_breadth", (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_brand") =!= "Brand#1")
      .select(col("p_partkey"), col("p_brand"),
        expr("p_size DIV 13").as("size_band"))
    Tables.t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "size_band")
      .agg(countDistinct("l_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(col("n_suppliers").desc, col("p_brand"), col("size_band"))
  }, Some("""SELECT p_brand, p_size // 13 AS size_band,
      count(DISTINCT l_suppkey)::BIGINT AS n_suppliers,
      count(*)::BIGINT AS n_lineitems
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
    GROUP BY p_brand, size_band
    ORDER BY n_suppliers DESC, p_brand, size_band"""))

  /** TPC-H Q9 shape (product-line revenue by supplier nation and
    * year): the 5-way star join — lineitem at the center, part
    * (filtered on type) and supplier→nation broadcast in, the order
    * date supplying the year — grouped by (nation, year). The 100-TB
    * discipline: every dimension is broadcast, lineitem is touched
    * once, revenue is exact cents × discount-bp floor math, and the
    * only shuffle is the final small group-by. (No partsupp table in
    * this corpus, so profit reduces to discounted revenue.)
    */
  val q9NationYearRevenue: Q = Q("q9_nation_year_revenue", (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_type").startsWith("STANDARD"))
      .select("p_partkey")
    val sn = Tables.t(s, dir, "supplier")
      .join(broadcast(Tables.t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.t(s, dir, "lineitem")
      .withColumn("rev_c", expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) DIV 10000"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name", "yr")
      .agg(sum("rev_c").as("revenue_c"), count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), col("yr").desc)
  }, Some("""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) // 10000) AS BIGINT) AS revenue_c,
      count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_type LIKE 'STANDARD%'
    GROUP BY n_name, yr
    ORDER BY n_name, yr DESC"""))

  /** TPC-H Q18 shape (large-volume customers): orders whose total line
    * quantity clears a threshold, joined back to their customers — the
    * canonical HAVING-driven semi-reduction: the lineitem table (the
    * 100-TB one) is aggregated FIRST and only qualifying order keys
    * (a tiny set) ever join orders/customer, both as broadcast-scale
    * probes. Quantities are exact integers; revenue in cents. Top 100
    * by (total_qty desc, o_orderkey) via TakeOrderedAndProject.
    */
  val q18LargeOrders: Q = Q("q18_large_orders", (s, dir) => {
    val big = Tables.t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(expr("CAST(sum(l_quantity) AS BIGINT)").as("total_qty"),
        expr("CAST(sum(round(l_extendedprice * 100)) AS BIGINT)").as("rev_c"))
      .filter(col("total_qty") > 150)
    Tables.t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("total_qty"), col("rev_c"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }, Some("""WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty,
        CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150)
    SELECT c_custkey, c_name, o_orderkey, total_qty, rev_c
    FROM big JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_qty DESC, o_orderkey LIMIT 100"""))

  /** TPC-H Q10 shape (returned-item revenue): which customers returned
    * the most value in a quarter, with their nation — the classic
    * 4-way join whose SCALE discipline is that lineitem is filtered on
    * return flag + the orders quarter BEFORE joining (predicate
    * pushdown does the quarter cut at the scan), and nation is a
    * broadcast dim. Revenue = extendedprice·(1−discount) kept exact by
    * integer cents × integer discount-bp / 10⁴ with floor division.
    * Top 20 by revenue, key tie-break.
    */
  val q10ReturnedRevenue: Q = Q("q10_returned_revenue", (s, dir) => {
    val l = Tables.t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .withColumn("rev_c", expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) DIV 10000"))
    val o = Tables.t(s, dir, "orders").filter(
      expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum("rev_c").as("revenue_c"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue_c").desc, col("c_custkey"))
      .limit(20)
  }, Some("""SELECT c_custkey, c_name, n_name,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) // 10000) AS BIGINT) AS revenue_c,
      count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_c DESC, c_custkey LIMIT 20"""))

  /** Exact rolling-window distinct users — DAU alongside trailing-7-day
    * WAU and the DAU/WAU stickiness ratio, the product-analytics pair
    * every engagement dashboard leads with. COUNT DISTINCT over a
    * SLIDING window has no window-function form (distinct state can't
    * fold frame-incrementally); the scale-correct exact shape is the
    * contribution expansion: dedupe to (user, active-day), fan each
    * row out to the ≤7 window-ends it contributes to, dedupe (user,
    * window-end), count — bounded 7× fan-out of the DEDUPED activity
    * table (not raw events), every stage map-side partial. Stickiness
    * in exact integer bp. Window-ends past the observed range are
    * clipped so every reported day aggregates a full real window.
    */
  val qRollingDistinct: Q = Q("q_rolling_distinct", (s, dir) => {
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("ts_us DIV 86400000000").as("d"))
      .distinct()
    val dau = days.groupBy("d").agg(countDistinct("user_id").as("dau"))
    val span = days.agg(max("d").as("dmax"))
    val wau = days
      .select(col("user_id"), explode(expr("sequence(d, d + 6)")).as("wd"))
      .distinct()
      .crossJoin(broadcast(span))
      .filter(col("wd") <= col("dmax"))
      .groupBy("wd").agg(countDistinct("user_id").as("wau"))
    dau.join(wau, dau("d") === wau("wd"))
      .select(col("d"), col("dau"), col("wau"),
        expr("10000 * dau DIV wau").as("stickiness_bp"))
      .orderBy("d")
  }, Some("""WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
    dau AS (SELECT d, count(DISTINCT user_id)::BIGINT AS dau FROM days GROUP BY d),
    span AS (SELECT max(d) AS dmax FROM days),
    ww AS (SELECT DISTINCT user_id, d + t.i AS wd
      FROM days CROSS JOIN (SELECT unnest(range(0, 7)) AS i) t),
    wau AS (SELECT wd, count(DISTINCT user_id)::BIGINT AS wau
      FROM ww, span WHERE wd <= span.dmax GROUP BY wd)
    SELECT dau.d, dau.dau, wau.wau,
      CAST(10000 * dau.dau // wau.wau AS BIGINT) AS stickiness_bp
    FROM dau JOIN wau ON wau.wd = dau.d
    ORDER BY dau.d"""))

  /** 2-D skyline (Pareto frontier) of customers over (total spend,
    * order count) — the classic Börzsönyi et al. 2001 SKYLINE OF
    * operator, absent from both engines' SQL surfaces, computed by the
    * sort-scan identity: after sorting by spend DESC (ties broken so
    * the order is total), a point is Pareto-optimal iff its order count
    * STRICTLY exceeds the running maximum of everything before it —
    * one window pass, no dominance self-join (the naive NOT EXISTS
    * formulation is the O(n²) pair blow-up the repo's join lint
    * exists to catch). Exact: spend in cents, counts integer; the
    * running max over the (spend desc, n desc, cust) total order is
    * engine-independent. Scale: one aggregate + one global-ORDER
    * window over the CUSTOMER aggregate (key-count-sized, not
    * row-count-sized — the same bounded-input contract as every top-k
    * presentation sort here).
    */
  val qSkyline: Q = Q("q_skyline", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(expr("CAST(sum(round(o_totalprice * 100)) AS BIGINT)").as("spend_c"),
        count(lit(1)).as("n_orders"))
    // strict dominance needs BOTH checks: beat every strictly-richer
    // point's order count (RANGE frame — integer cents make 1 PRECEDING
    // on the DESC order exactly "spend > mine"), and be the max of the
    // equal-spend tie group (an equal-spend point with strictly more
    // orders dominates; an exact (spend, n) twin does not — both stay)
    val wStrict = Window.orderBy(col("spend_c").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wTie = Window.partitionBy("spend_c")
    per.withColumn("strict_max_n", max("n_orders").over(wStrict))
      .withColumn("tie_max_n", max("n_orders").over(wTie))
      .filter(col("n_orders") === col("tie_max_n") &&
        (col("strict_max_n").isNull || col("n_orders") > col("strict_max_n")))
      .select(col("o_custkey"), col("spend_c"), col("n_orders"))
      .orderBy(col("spend_c").desc, col("o_custkey"))
  }, Some("""WITH per AS (
      SELECT o_custkey, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend_c,
        count(*)::BIGINT AS n_orders
      FROM orders GROUP BY 1),
    sk AS (SELECT o_custkey, spend_c, n_orders,
        max(n_orders) OVER (ORDER BY spend_c DESC
          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strict_max_n,
        max(n_orders) OVER (PARTITION BY spend_c) AS tie_max_n
      FROM per)
    SELECT o_custkey, spend_c, n_orders FROM sk
    WHERE n_orders = tie_max_n
      AND (strict_max_n IS NULL OR n_orders > strict_max_n)
    ORDER BY spend_c DESC, o_custkey"""))

  /** Incremental view maintenance: a per-customer (order count, revenue)
    * materialized view kept current by MERGING a delta batch into the
    * base snapshot — the self-maintainable-aggregate algebra (count/sum
    * merge by addition over a full outer join on the key) every
    * warehouse's IVM engine implements, with the correctness proof IN
    * the query: the merged view is full-outer-joined against a from-
    * scratch recompute and every row carries `matches_full`. Output is
    * the per-merge-case rollup (base_only / delta_only / both): customer
    * counts, merged order counts and cent revenue, and the all-true
    * match flag — at 100 TB the delta path aggregates ONLY the delta
    * partition and one key-partitioned merge join, which is the entire
    * point of IVM vs the full scan it replaces (the recompute here is
    * the embedded oracle of the technique, not part of the maintained
    * path). All integer: order counts and exact cent sums.
    */
  val qIvmDelta: Q = Q("q_ivm_delta", (s, dir) => {
    val o = Tables.t(s, dir, "orders")
      .withColumn("rev_c", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .withColumn("is_delta", expr("o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"))
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("rev_c").as("rev"))
    val base = agg(o.filter(!col("is_delta")))
      .select(col("o_custkey"), col("n").as("n_b"), col("rev").as("rev_b"))
    val delta = agg(o.filter(col("is_delta")))
      .select(col("o_custkey"), col("n").as("n_d"), col("rev").as("rev_d"))
    val merged = base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        when(col("n_b").isNotNull && col("n_d").isNotNull, lit("both"))
          .when(col("n_b").isNotNull, lit("base_only"))
          .otherwise(lit("delta_only")).as("mcase"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
        (coalesce(col("rev_b"), lit(0L)) + coalesce(col("rev_d"), lit(0L))).as("rev"))
    val full = agg(o).select(col("o_custkey"), col("n").as("n_f"), col("rev").as("rev_f"))
    merged.join(full, Seq("o_custkey"), "full_outer")
      .groupBy("mcase")
      .agg(count(lit(1)).as("n_cust"), sum("n").as("n_orders"),
        sum("rev").as("revenue_c"),
        min(col("n") === col("n_f") && col("rev") === col("rev_f")).as("matches_full"))
      .orderBy("mcase")
  }, Some("""WITH o AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS rev_c,
        o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AS is_delta
      FROM orders),
    base AS (SELECT o_custkey, count(*)::BIGINT AS n_b, sum(rev_c)::BIGINT AS rev_b
      FROM o WHERE NOT is_delta GROUP BY 1),
    delta AS (SELECT o_custkey, count(*)::BIGINT AS n_d, sum(rev_c)::BIGINT AS rev_d
      FROM o WHERE is_delta GROUP BY 1),
    merged AS (SELECT coalesce(base.o_custkey, delta.o_custkey) AS o_custkey,
        CASE WHEN n_b IS NOT NULL AND n_d IS NOT NULL THEN 'both'
             WHEN n_b IS NOT NULL THEN 'base_only' ELSE 'delta_only' END AS mcase,
        coalesce(n_b, 0) + coalesce(n_d, 0) AS n,
        coalesce(rev_b, 0) + coalesce(rev_d, 0) AS rev
      FROM base FULL OUTER JOIN delta ON base.o_custkey = delta.o_custkey),
    full_v AS (SELECT o_custkey, count(*)::BIGINT AS n_f, sum(rev_c)::BIGINT AS rev_f
      FROM o GROUP BY 1)
    SELECT mcase, count(*)::BIGINT AS n_cust,
      CAST(sum(n) AS BIGINT) AS n_orders, CAST(sum(rev) AS BIGINT) AS revenue_c,
      min(n = n_f AND rev = rev_f) AS matches_full
    FROM merged FULL OUTER JOIN full_v ON merged.o_custkey = full_v.o_custkey
    GROUP BY mcase ORDER BY mcase"""))

  /** TPC-H Q13 shape (customer order-count distribution): customers
    * LEFT OUTER joined to a filtered orders side, counted per customer
    * (zero-order customers survive as c_count=0 — the whole point of
    * the outer join), then the count-of-counts histogram. Pure
    * integer counting. The scale discipline: the outer join shuffles
    * on custkey once; both aggregations are partial-agg combinable,
    * and the final histogram is ≤ max-orders-per-customer rows.
    */
  val q13CustomerDistribution: Q = Q("q13_customer_distribution", (s, dir) => {
    val c = Tables.t(s, dir, "customer").select("c_custkey")
    val o = Tables.t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }, Some("""WITH cc AS (
      SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM cc GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""))

  /** TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
    * brand whose quantity is below 20% of their part's average order
    * quantity. The correlated avg is decorrelated into one per-part
    * aggregate joined back, and the 0.2·avg comparison is EXACT
    * integer cross-multiplication (qty·5·cnt &lt; Σqty — quantities are
    * integral by construction), so no float ever decides membership.
    * Revenue in exact cents, "avg yearly" as the canonical /7 — one
    * truncating division at the very end. The brand filter is a
    * broadcast part-key probe; the per-part agg shuffles the (bounded)
    * brand slice only.
    */
  val q17SmallQuantity: Q = Q("q17_small_quantity", (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_brand") === "Brand#2")
      .select("p_partkey")
    val l = Tables.t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
    val avgq = l.groupBy(col("l_partkey").as("pk"))
      .agg(sum("qty").as("sum_q"), count(lit(1)).as("cnt"))
    l.join(avgq, col("l_partkey") === col("pk"))
      .filter(expr("qty * 5 * cnt < sum_q"))
      .agg(sum("price_c").as("small_rev_c"), count(lit(1)).as("n_small"))
      .select(expr("small_rev_c DIV 7").as("avg_yearly_c"), col("n_small"))
  }, Some("""WITH l AS (
      SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#2'),
    a AS (SELECT l_partkey AS pk, CAST(sum(qty) AS BIGINT) AS sum_q,
        count(*)::BIGINT AS cnt
      FROM l GROUP BY l_partkey)
    SELECT CAST(sum(price_c) // 7 AS BIGINT) AS avg_yearly_c,
      count(*)::BIGINT AS n_small
    FROM l JOIN a ON l.l_partkey = a.pk
    WHERE qty * 5 * cnt < sum_q"""))

  /** TPC-H Q2 shape (min-cost supplier per part): the correlated
    * "cost = (SELECT min(cost) ... WHERE same part)" subquery,
    * decorrelated the scalable way — one per-part min aggregate joined
    * back on the part key, keeping only suppliers that achieve it
    * (ties all qualify, as in Q2). With no partsupp table in this
    * corpus, supply cost is the observed min unit price per
    * (part, supplier) from lineitem — unit cents by truncating
    * division of exact cents by the integral quantity. Output: top
    * 100 by supplier account balance (exact cents), nation, supplier,
    * part — the Q2 sort — via TakeOrderedAndProject; supplier→nation
    * is a broadcast dim join on a small filtered part side.
    */
  val q2MinCostSupplier: Q = Q("q2_min_cost_supplier", (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_size") < 10)
      .select("p_partkey")
    val ps = Tables.t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) DIV CAST(l_quantity AS BIGINT)"))
        .as("cost_c"))
    val mn = ps.groupBy(col("l_partkey").as("pk"))
      .agg(min("cost_c").as("min_c"))
    val sn = Tables.t(s, dir, "supplier")
      .join(broadcast(Tables.t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("acctbal_c"))
    ps.join(mn, col("l_partkey") === col("pk"))
      .filter(col("cost_c") === col("min_c"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .select(col("acctbal_c"), col("n_name"), col("s_name"),
        col("l_partkey").as("p_partkey"), col("cost_c"))
      .orderBy(col("acctbal_c").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }, Some("""WITH p AS (SELECT p_partkey FROM part WHERE p_size < 10),
    ps AS (SELECT l_partkey, l_suppkey,
        min(CAST(round(l_extendedprice * 100) AS BIGINT)
          // CAST(l_quantity AS BIGINT)) AS cost_c
      FROM lineitem JOIN p ON l_partkey = p_partkey
      GROUP BY l_partkey, l_suppkey),
    mn AS (SELECT l_partkey AS pk, min(cost_c) AS min_c
      FROM ps GROUP BY l_partkey),
    sn AS (SELECT s_suppkey, s_name, n_name,
        CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_c
      FROM supplier JOIN nation ON s_nationkey = n_nationkey)
    SELECT acctbal_c, n_name, s_name, l_partkey AS p_partkey, cost_c
    FROM ps JOIN mn ON ps.l_partkey = mn.pk AND ps.cost_c = mn.min_c
    JOIN sn ON ps.l_suppkey = sn.s_suppkey
    ORDER BY acctbal_c DESC, n_name, s_name, p_partkey
    LIMIT 100"""))

  /** TPC-H Q4 shape (order-priority checking): orders in one quarter
    * having at least one SLOW lineitem — shipped more than 60 days
    * after the order date — counted per priority. The correlated
    * EXISTS becomes a LEFT SEMI join whose predicate compares columns
    * ACROSS the two tables (the shape that forces the join before the
    * filter can run); the date window prunes orders first so the semi
    * probe is the small side. Date arithmetic in whole µs-epoch days —
    * exact integers, no interval/calendar semantics to diverge on.
    */
  val q4OrderPriority: Q = Q("q4_order_priority", (s, dir) => {
    val o = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000").as("o_day"))
    val l = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000000").as("ship_day"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("ship_day") > col("o_day") + 60, "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }, Some("""SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND epoch_us(l_shipdate) // 86400000000
            > epoch_us(o_orderdate) // 86400000000 + 60)
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** TPC-H Q22 shape (global sales opportunity): customers with
    * above-average account balance and NO urgent order — a scalar
    * aggregate subquery feeding a filter plus an ANTI join, grouped by
    * market segment (every customer in this corpus has SOME order, so
    * the idle predicate is priority-scoped to keep the anti side
    * selective, same plan shape as Q22's no-order test). The
    * above-average test is EXACT integer cross-multiplication
    * (bal_c · n &gt; Σbal_c over the positive-balance population — no
    * float mean ever materializes), the average is a broadcast 1-row
    * agg, and the anti join probes the filtered orders side once on
    * custkey. Output: per-segment count and total idle balance in
    * cents.
    */
  val q22IdleCustomers: Q = Q("q22_idle_customers", (s, dir) => {
    val c = Tables.t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_c"))
    val avgPos = c.filter(col("bal_c") > 0)
      .agg(sum("bal_c").as("sum_c"), count(lit(1)).as("n_pos"))
    val o = Tables.t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgPos))
      .filter(expr("bal_c * n_pos > sum_c"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"), sum("bal_c").as("totacctbal_c"))
      .orderBy("c_mktsegment")
  }, Some("""WITH c AS (
      SELECT c_custkey, c_mktsegment,
        CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer),
    a AS (SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c, count(*)::BIGINT AS n_pos
      FROM c WHERE bal_c > 0)
    SELECT c_mktsegment, count(*)::BIGINT AS numcust,
      CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
    FROM c, a
    WHERE bal_c * n_pos > sum_c
      AND NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** A/B mean-difference test (Welch, "The generalization of Student's
    * problem", Biometrika 1947 — public; the default two-sample gate in
    * every experimentation pipeline): users split by id parity into
    * arms A/B, per event type the difference of mean values and the
    * Welch t² statistic — EXACT integers throughout. Means truncate
    * (μ = S DIV n), variances use the centered-expansion identity
    * around the truncating mean (v = (Σx² − 2μS + nμ²) DIV n, the
    * GapStats discipline), and t² is one cross-multiplied rational:
    * t²·10⁴ = 10⁴·d²·n_a·n_b DIV (v_a·n_b + v_b·n_a). Significance at
    * 5% is t² > 1.96² (38416 in e4) — the same fixed-point threshold
    * convention as ts_runs_test. Headroom: d²·n_a·n_b < 2⁶³ up to
    * ~10⁷ rows per arm at 5·10⁴-cent effects; beyond that pre-scale d
    * DIV 10. Shape: one map-side-combining (type, arm) aggregate, a
    * 1:1 self-merge of the two #type-sized arm rows.
    */
  val qAbWelch: Q = Q("q_ab_welch", (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("user_id % 2").as("arm"),
      expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val mo = e.groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum("c").as("sc"), sum(expr("c * c")).as("scc"))
      .withColumn("mu", expr("sc DIV n"))
      .withColumn("v", expr("(scc - 2 * mu * sc + n * mu * mu) DIV n"))
    val a = mo.filter(col("arm") === 0)
      .select(col("event_type"), col("n").as("n_a"), col("mu").as("mu_a"), col("v").as("v_a"))
    val b = mo.filter(col("arm") === 1)
      .select(col("event_type"), col("n").as("n_b"), col("mu").as("mu_b"), col("v").as("v_b"))
    a.join(b, "event_type")
      .withColumn("d", expr("mu_a - mu_b"))
      .withColumn("t2_e4", expr(
        "10000 * d * d * n_a * n_b DIV nullif(v_a * n_b + v_b * n_a, 0)"))
      .withColumn("significant_5pct", expr("t2_e4 > 38416"))
      .select("event_type", "n_a", "n_b", "mu_a", "mu_b", "d", "v_a", "v_b",
        "t2_e4", "significant_5pct")
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, user_id % 2 AS arm,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    mo AS (SELECT event_type, arm, count(*)::BIGINT AS n,
        CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
      FROM e GROUP BY event_type, arm),
    mv AS (SELECT event_type, arm, n, sc // n AS mu,
        (scc - 2 * (sc // n) * sc + n * (sc // n) * (sc // n)) // n AS v
      FROM mo)
    SELECT a.event_type, a.n AS n_a, b.n AS n_b, a.mu AS mu_a, b.mu AS mu_b,
      CAST(a.mu - b.mu AS BIGINT) AS d, a.v AS v_a, b.v AS v_b,
      CAST(10000 * (a.mu - b.mu) * (a.mu - b.mu) * a.n * b.n
        // nullif(a.v * b.n + b.v * a.n, 0) AS BIGINT) AS t2_e4,
      (10000 * (a.mu - b.mu) * (a.mu - b.mu) * a.n * b.n
        // nullif(a.v * b.n + b.v * a.n, 0)) > 38416 AS significant_5pct
    FROM mv a JOIN mv b ON a.event_type = b.event_type
      AND a.arm = 0 AND b.arm = 1
    ORDER BY a.event_type"""))

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, "Improving
    * the sensitivity of online controlled experiments by utilizing
    * pre-experiment data", WSDM 2013 — public): the adjustment every
    * mature experimentation platform applies before the t-test. Per
    * event type: X = a user's PRE-period spend (hours below the
    * per-type midpoint), Y = post-period spend, θ = cov(X,Y)/var(X)
    * pooled across arms, adjusted effect d_adj = d_raw − θ·(μXa − μXb).
    * EXACT integers: user metrics in whole dollars (cents DIV 100 —
    * bounds every cross-moment square under 2⁶³), covariance/variance
    * via the centered-expansion identity around truncating pooled
    * means, θ and the variance-reduction fraction ρ² as single
    * cross-multiplied rationals (θ·10⁴ = 10⁴·cov DIV vx; ρ²·10⁴ =
    * 10⁴·cov² DIV (vx·vy)), and d_adj through one scaled subtraction
    * (vx·d_raw − cov·dX) DIV vx. A sample-ratio-mismatch χ² column
    * guards the randomization itself: χ²·10⁴ = 10⁴·(n_a−n_b)² DIV
    * (n_a+n_b), >38416 ⟹ the split is broken and no test below is
    * valid. Shapes: one (type,user) agg, one (type,arm) moment agg,
    * one #type-sized reduce — map-side combining end to end.
    */
  val qAbCuped: Q = Q("q_ab_cuped", (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      expr("CAST(round(value * 100) AS BIGINT) DIV 100").as("d"),
      expr("ts_us DIV 3600000000").as("h"))
    val split = e.groupBy("event_type")
      .agg(expr("(min(h) + max(h) + 1) DIV 2").as("hsplit"))
    val per = e.join(broadcast(split), "event_type")
      .groupBy("event_type", "user_id")
      .agg(sum(expr("CASE WHEN h < hsplit THEN d ELSE 0L END")).as("x"),
        sum(expr("CASE WHEN h >= hsplit THEN d ELSE 0L END")).as("y"))
      .withColumn("arm", expr("user_id % 2"))
    val mo = per.groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
    val pooled = mo.groupBy("event_type")
      .agg(sum("n").as("np"), sum("sx").as("sxp"), sum("sy").as("syp"),
        sum("sxx").as("sxxp"), sum("syy").as("syyp"), sum("sxy").as("sxyp"))
      .withColumn("mxp", expr("sxp DIV np"))
      .withColumn("myp", expr("syp DIV np"))
      .withColumn("vx", expr("(sxxp - 2 * mxp * sxp + np * mxp * mxp) DIV np"))
      .withColumn("vy", expr("(syyp - 2 * myp * syp + np * myp * myp) DIV np"))
      .withColumn("cov", expr("(sxyp - mxp * syp - myp * sxp + np * mxp * myp) DIV np"))
    val a = mo.filter(col("arm") === 0).select(col("event_type"), col("n").as("n_a"),
      expr("sx DIV n").as("mxa"), expr("sy DIV n").as("mya"))
    val b = mo.filter(col("arm") === 1).select(col("event_type"), col("n").as("n_b"),
      expr("sx DIV n").as("mxb"), expr("sy DIV n").as("myb"))
    a.join(b, "event_type").join(broadcast(pooled), "event_type")
      .withColumn("d_raw", expr("mya - myb"))
      .withColumn("theta_e4", expr("10000 * cov DIV nullif(vx, 0)"))
      .withColumn("rho2_bp", expr("10000 * cov * cov DIV nullif(vx * vy, 0)"))
      .withColumn("d_adj", expr("(vx * (mya - myb) - cov * (mxa - mxb)) DIV nullif(vx, 0)"))
      .withColumn("srm_chi2_e4", expr("10000 * (n_a - n_b) * (n_a - n_b) DIV (n_a + n_b)"))
      .select("event_type", "n_a", "n_b", "d_raw", "theta_e4", "rho2_bp",
        "d_adj", "srm_chi2_e4")
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, user_id,
        CAST(round(value * 100) AS BIGINT) // 100 AS d,
        epoch_us(ts) // 3600000000 AS h
      FROM events),
    sp AS (SELECT event_type, (min(h) + max(h) + 1) // 2 AS hsplit
      FROM e GROUP BY event_type),
    per AS (SELECT e.event_type, user_id, user_id % 2 AS arm,
        CAST(sum(CASE WHEN h < hsplit THEN d ELSE 0 END) AS BIGINT) AS x,
        CAST(sum(CASE WHEN h >= hsplit THEN d ELSE 0 END) AS BIGINT) AS y
      FROM e JOIN sp USING (event_type)
      GROUP BY e.event_type, user_id),
    mo AS (SELECT event_type, arm, count(*)::BIGINT AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        CAST(sum(x * y) AS BIGINT) AS sxy
      FROM per GROUP BY event_type, arm),
    pl AS (SELECT event_type,
        CAST(sum(n) AS BIGINT) AS np, CAST(sum(sx) AS BIGINT) AS sxp,
        CAST(sum(sy) AS BIGINT) AS syp, CAST(sum(sxx) AS BIGINT) AS sxxp,
        CAST(sum(syy) AS BIGINT) AS syyp, CAST(sum(sxy) AS BIGINT) AS sxyp
      FROM mo GROUP BY event_type),
    pv AS (SELECT event_type,
        (sxxp - 2 * (sxp // np) * sxp + np * (sxp // np) * (sxp // np)) // np AS vx,
        (syyp - 2 * (syp // np) * syp + np * (syp // np) * (syp // np)) // np AS vy,
        (sxyp - (sxp // np) * syp - (syp // np) * sxp
          + np * (sxp // np) * (syp // np)) // np AS cov
      FROM pl)
    SELECT a.event_type, a.n AS n_a, b.n AS n_b,
      CAST(a.sy // a.n - b.sy // b.n AS BIGINT) AS d_raw,
      CAST(10000 * cov // nullif(vx, 0) AS BIGINT) AS theta_e4,
      CAST(10000 * cov * cov // nullif(vx * vy, 0) AS BIGINT) AS rho2_bp,
      CAST((vx * (a.sy // a.n - b.sy // b.n) - cov * (a.sx // a.n - b.sx // b.n))
        // nullif(vx, 0) AS BIGINT) AS d_adj,
      CAST(10000 * (a.n - b.n) * (a.n - b.n) // (a.n + b.n) AS BIGINT) AS srm_chi2_e4
    FROM mo a JOIN mo b ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
    JOIN pv ON pv.event_type = a.event_type
    ORDER BY a.event_type"""))

  /** TPC-H Q21 shape (waiting orders): suppliers who shipped LAST on
    * multi-supplier orders — the benchmark's hardest correlated
    * EXISTS + NOT EXISTS pair. The decorrelation: "no other supplier
    * shipped strictly later" ⟺ this supplier's max ship date equals
    * the order's max (ties all qualify, exactly the correlated
    * semantics), and "exists another supplier" is a per-order distinct
    * count ≥ 2 — so both subqueries collapse into one (order, supplier)
    * aggregate plus one order aggregate, joined back on the SAME order
    * key (co-partitioned, no extra shuffle). The oracle deliberately
    * keeps the ORIGINAL correlated form — bit-equality proves the
    * rewrite, not just the numbers.
    */
  val q21WaitingShape: Q = Q("q21_waiting_shape", (s, dir) => {
    val li = Tables.t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val perSupp = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("smax"))
    val perOrder = perSupp.groupBy("l_orderkey")
      .agg(max("smax").as("omax"), count(lit(1)).as("nsupp"))
    perSupp.join(perOrder, "l_orderkey")
      .filter(col("nsupp") >= 2 && col("smax") === col("omax"))
      .join(broadcast(Tables.t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(countDistinct("l_orderkey").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(25)
  }, Some("""SELECT s_name, count(DISTINCT l1.l_orderkey)::BIGINT AS numwait
    FROM supplier
    JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 25"""))

  /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier as
    * a derived view, then the suppliers achieving the GLOBAL maximum —
    * the correlated `= (SELECT max(...))` decorrelated into a 1-row
    * broadcast max joined back by equality (ties all qualify). Revenue
    * is exact cents × discount basis points, floored once per line —
    * associative, so partial aggregation reproduces it identically on
    * any partitioning. The 100-TB shape: lineitem is aggregated FIRST;
    * only the (bounded) supplier revenue view ever meets the max row.
    */
  val q15TopSupplier: Q = Q("q15_top_supplier", (s, dir) => {
    val rev = Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) DIV 10000"))
        .as("total_rev_c"))
    val mx = rev.agg(max("total_rev_c").as("max_rev_c"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev_c") === col("max_rev_c"))
      .join(broadcast(Tables.t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
      .orderBy("s_suppkey")
  }, Some("""WITH rev AS (
      SELECT l_suppkey,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
          * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) // 10000) AS BIGINT)
          AS total_rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey),
    mx AS (SELECT max(total_rev_c) AS max_rev_c FROM rev)
    SELECT s_suppkey, s_name, total_rev_c
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    CROSS JOIN mx WHERE total_rev_c = max_rev_c
    ORDER BY s_suppkey"""))

  /** TPC-H Q7 shape (volume shipping): revenue flowing between two
    * specific nations — supplier nation × customer nation pairs in
    * both directions, by year. The nation dim joins TWICE under two
    * aliases (the self-referenced-dimension shape a star schema hits
    * constantly); both alias sides broadcast, lineitem→orders is the
    * only big join, and the pair filter prunes before the final tiny
    * group-by. Exact cents-bp revenue.
    */
  val q7VolumeShipping: Q = Q("q7_volume_shipping", (s, dir) => {
    val n = Tables.t(s, dir, "nation").select("n_nationkey", "n_name")
    val sup = Tables.t(s, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.t(s, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.t(s, dir, "lineitem")
      .withColumn("rev_c", expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) DIV 10000"))
      .join(Tables.t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(sum("rev_c").as("revenue_c"), count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }, Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      CAST(year(l_shipdate) AS BIGINT) AS l_year,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) // 10000) AS BIGINT)
        AS revenue_c,
      count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
       OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** TPC-H Q8 shape (national market share): one nation's share of a
    * region's revenue per order year — the conditional-sum-over-sum
    * ratio aggregate. Share is EXACT basis points: both numerator
    * (CASE-gated cents) and denominator are bigint sums of the same
    * floored per-line revenue, divided once, truncating — no float
    * ratio. Region→nation→customer is the broadcast probe chain on
    * the orders side; supplier nation tags the numerator.
    */
  val q8MarketShare: Q = Q("q8_market_share", (s, dir) => {
    val rn = Tables.t(s, dir, "nation")
      .join(broadcast(Tables.t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.t(s, dir, "customer")
      .join(broadcast(rn), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val sup = Tables.t(s, dir, "supplier")
      .join(broadcast(Tables.t(s, dir, "nation").select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.t(s, dir, "lineitem")
      .withColumn("rev_c", expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) DIV 10000"))
      .join(Tables.t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("bigint").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(sum(expr("CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0L END")).as("nation_rev_c"),
        sum("rev_c").as("total_rev_c"))
      .withColumn("mkt_share_bp", expr("nation_rev_c * 10000 DIV total_rev_c"))
      .orderBy("o_year")
  }, Some("""WITH eu AS (
      SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    l AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(round(l_extendedprice * 100) AS BIGINT)
          * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) // 10000 AS rev_c,
        sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE o_custkey IN (
        SELECT c_custkey FROM customer JOIN eu ON c_nationkey = n_nationkey))
    SELECT o_year,
      CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0 END) AS BIGINT)
        AS nation_rev_c,
      CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
      CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0 END) AS BIGINT)
        * 10000 // CAST(sum(rev_c) AS BIGINT) AS mkt_share_bp
    FROM l GROUP BY o_year ORDER BY o_year"""))

  /** TPC-H Q6 shape (forecast revenue change): the pure scan-filter-
    * aggregate — one year of shipments, a narrow discount band, small
    * quantities, and the would-have-been revenue Σ price·discount. The
    * filters are on RAW columns (shipdate range, discount band,
    * quantity cap) so all three reach the parquet scan as PushedFilters
    * with a 3-column ReadSchema; the exact integer products (cents ×
    * discount basis points) are computed only on surviving rows. At
    * 100 TB this is the min-over-data query: zero joins, zero shuffles
    * beyond the final 1-row partial-agg merge.
    */
  val q6ForecastRevenue: Q = Q("q6_forecast_revenue", (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 10000) AS BIGINT)"))
        .as("revenue_cbp"), count(lit(1)).as("n_lines"))
  }, Some("""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        * CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT) AS revenue_cbp,
      count(*)::BIGINT AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24"""))

  /** TPC-H Q11 shape (important stock), re-based onto lineitem since
    * the testdata has no partsupp: per-part shipped value from the
    * suppliers of one nation, keeping parts whose value exceeds TWICE
    * the mean part value — the HAVING-against-a-global-scalar
    * decorrelated into a 1-row broadcast joined back. The mean-based
    * threshold (value·n_parts > 2·total) is scale-INVARIANT, unlike
    * Q11's literal fraction, so the query returns a stable head at any
    * SF. Supplier set broadcasts; lineitem aggregates before meeting
    * the scalar.
    */
  val q11ImportantStock: Q = Q("q11_important_stock", (s, dir) => {
    val sup = Tables.t(s, dir, "supplier")
      .join(broadcast(Tables.t(s, dir, "nation")
        .filter(col("n_name") === "NATION_9")), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val pv = Tables.t(s, dir, "lineitem")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("value_c"))
    val tot = pv.agg(sum("value_c").as("total_c"), count(lit(1)).as("n_parts"))
    pv.crossJoin(broadcast(tot))
      .filter(expr("value_c * n_parts > 2 * total_c"))
      .select("l_partkey", "value_c")
      .orderBy(col("value_c").desc, col("l_partkey"))
  }, Some("""WITH pv AS (
      SELECT l_partkey,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_c
      FROM lineitem
      WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_9')
      GROUP BY l_partkey),
    tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c,
      count(*)::BIGINT AS n_parts FROM pv)
    SELECT l_partkey, value_c FROM pv CROSS JOIN tot
    WHERE value_c * n_parts > 2 * total_c
    ORDER BY value_c DESC, l_partkey"""))

  /** TPC-H Q19 shape (discounted revenue): three disjunctive
    * brand/size/quantity brackets OR'd across the lineitem×part join.
    * The OR cannot be pushed as-is, so both sides carry the manually
    * derived envelope (part: the 3 brands + size ≤ 15; lineitem:
    * quantity ≤ 30) — the classic Q19 optimization, giving the scan
    * real PushedFilters while the bracket residual evaluates after the
    * broadcast join. Exact cents-bp revenue, one output row.
    */
  val q19DisjunctiveRevenue: Q = Q("q19_disjunctive_revenue", (s, dir) => {
    val p = Tables.t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
        col("p_size") >= 1 && col("p_size") <= 15)
      .select("p_partkey", "p_brand", "p_size")
    Tables.t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size") <= 5 &&
          col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
        (col("p_brand") === "Brand#2" && col("p_size") <= 10 &&
          col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#3" &&
          col("l_quantity") >= 20 && col("l_quantity") <= 30))
      .agg(sum(expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) DIV 10000"))
        .as("revenue_c"), count(lit(1)).as("n_lines"))
  }, Some("""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) // 10000) AS BIGINT)
        AS revenue_c,
      count(*)::BIGINT AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        AND l_quantity BETWEEN 1 AND 11)
      OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        AND l_quantity BETWEEN 10 AND 20)
      OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 20 AND 30)"""))

  /** TPC-H Q20 shape (potential part promotion), re-based onto
    * lineitem shipping history since the testdata has no partsupp: for
    * red parts, (supplier, part) pairs whose 1996 shipments exceed
    * HALF their all-time shipments — the correlated availqty>½·shipped
    * subquery becomes ONE conditional aggregate per pair (no second
    * scan, no correlated re-execution) — then the suppliers holding
    * such a pair, restricted to one nation. Part filter broadcasts;
    * the semi join keeps supplier output distinct by construction.
    */
  val q20ExcessSuppliers: Q = Q("q20_excess_suppliers", (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_name").like("red%"))
      .select("p_partkey")
    val pairs = Tables.t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(expr(
        "CASE WHEN year(l_shipdate) = 1996 THEN CAST(l_quantity AS BIGINT) ELSE 0L END"))
        .as("qty96"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_tot"))
      .filter(expr("qty96 * 2 > qty_tot"))
      .select("l_suppkey")
    Tables.t(s, dir, "supplier")
      .join(broadcast(Tables.t(s, dir, "nation")
        .filter(col("n_name") === "NATION_9")), col("s_nationkey") === col("n_nationkey"))
      .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }, Some("""WITH pairs AS (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY l_suppkey, l_partkey
      HAVING CAST(sum(CASE WHEN year(l_shipdate) = 1996
          THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) * 2
        > CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT))
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_9'
      AND s_suppkey IN (SELECT l_suppkey FROM pairs)
    ORDER BY s_suppkey"""))

  /** Closed-form ridge regression from ONE-PASS distributed sufficient
    * statistics (the linear-probe / quality-regressor fit a training
    * pipeline runs at corpus scale): per returnflag, fit
    * price_cents ≈ b0 + b1·quantity + b2·discount_bp from nine exact
    * BIGINT moments — n, Σx, Σx², Σxy — aggregated map-side in a
    * single scan, then solved on metadata-sized state in the quantized
    * integer dialect of [[graft.ops.Fit]] (truncating-mean centered
    * moments via the exact cross-moment identity, per-row quantization
    * before any product, ridge λ on the quantized diagonal). Scale
    * shape: one shuffle on a 3-value key, zero joins, zero windows;
    * the same nine sums stream (RidgeProcessor twin — associative
    * state, bit-exact emission). Slopes are in milli-cents per unit;
    * intercept in milli-cents.
    */
  val qRidgeFit: Q = Q("q_ridge_fit", (s, dir) => {
    import graft.ops.Fit
    val m = Tables.t(s, dir, "lineitem")
      .selectExpr("l_returnflag",
        "CAST(l_quantity AS BIGINT) AS x1",
        "CAST(round(l_discount * 10000) AS BIGINT) AS x2",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS y")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum("y").as("sy"), sum(expr("x1 * x1")).as("s11"),
        sum(expr("x1 * x2")).as("s12"), sum(expr("x2 * x2")).as("s22"),
        sum(expr("x1 * y")).as("s1y"), sum(expr("x2 * y")).as("s2y"))
    Fit.ridgeSolve(m)
      .select("l_returnflag", "n", "a1", "a2", "det_q",
        "b1_milli", "b2_milli", "b0_milli")
      .orderBy("l_returnflag")
  }, Some {
    import graft.ops.Fit
    s"""WITH r AS (SELECT l_returnflag,
        CAST(l_quantity AS BIGINT) AS x1,
        CAST(round(l_discount * 10000) AS BIGINT) AS x2,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    m AS (SELECT l_returnflag, count(*)::BIGINT AS n,
        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x1 * x1) AS BIGINT) AS s11,
        CAST(sum(x1 * x2) AS BIGINT) AS s12, CAST(sum(x2 * x2) AS BIGINT) AS s22,
        CAST(sum(x1 * y) AS BIGINT) AS s1y, CAST(sum(x2 * y) AS BIGINT) AS s2y
      FROM r GROUP BY l_returnflag),
    ${Fit.ridgeSolveSqlFrom("m")}
    SELECT l_returnflag, n, a1, a2, det_q, b1_milli, b2_milli, b0_milli
    FROM ${Fit.ridgeFinalRef} ORDER BY l_returnflag"""
  })

  /** Fisher LDA classifier, trained AND evaluated in two scans (the
    * linear-probe companion to [[qRidgeFit]]): one conditional
    * aggregate collects both classes' 6 moments (map-side combined, 12
    * longs cross the wire), the pooled-scatter 2×2 solve runs on that
    * metadata-sized row in the quantized integer dialect
    * ([[graft.ops.Fit.ldaStages]]: w ∝ S_w⁻¹(μ₁−μ₀), threshold at the
    * projected-mean midpoint, `flip` carrying the comparison
    * direction), and a second scan joins the broadcast 1-row model
    * back for the exact integer confusion matrix. Deterministic
    * cross-engine end to end; planted-separation accuracy is pinned in
    * OpsSpec (the lineitem label here is class-prior-dominated — the
    * query certifies the MACHINERY, the spec certifies the math).
    */
  val qLdaClassifier: Q = Q("q_lda_classifier", (s, dir) => {
    import graft.ops.Fit
    val f = Tables.t(s, dir, "lineitem").selectExpr(
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
      "CAST(l_quantity AS BIGINT) AS x1",
      "CAST(round(l_discount * 10000) AS BIGINT) AS x2")
    def cm(cls: Int, e: String, nm: String) =
      sum(expr(s"CASE WHEN y = $cls THEN $e ELSE 0L END")).as(nm)
    val m = f.agg(
      cm(0, "1L", "n0"), cm(0, "x1", "s1_0"), cm(0, "x2", "s2_0"),
      cm(0, "x1 * x1", "s11_0"), cm(0, "x1 * x2", "s12_0"), cm(0, "x2 * x2", "s22_0"),
      cm(1, "1L", "n1"), cm(1, "x1", "s1_1"), cm(1, "x2", "s2_1"),
      cm(1, "x1 * x1", "s11_1"), cm(1, "x1 * x2", "s12_1"), cm(1, "x2 * x2", "s22_1"))
    val model = Fit.ldaSolve(m)
      .select("w1_milli", "w2_milli", "thr", "flip", "det_q")
    f.crossJoin(broadcast(model))
      .withColumn("score", expr("w1_milli * x1 + w2_milli * x2"))
      .withColumn("pred", expr("CASE WHEN flip THEN score < thr ELSE score > thr END"))
      .groupBy("w1_milli", "w2_milli", "thr", "det_q")
      .agg(count(lit(1)).as("n"),
        sum(expr("CASE WHEN pred AND y = 1 THEN 1L ELSE 0L END")).as("tp"),
        sum(expr("CASE WHEN pred AND y = 0 THEN 1L ELSE 0L END")).as("fp"),
        sum(expr("CASE WHEN NOT pred AND y = 1 THEN 1L ELSE 0L END")).as("fn"),
        sum(expr("CASE WHEN NOT pred AND y = 0 THEN 1L ELSE 0L END")).as("tn"))
      .withColumn("acc_bp", expr("(tp + tn) * 10000 DIV n"))
      .select("w1_milli", "w2_milli", "thr", "det_q", "n", "tp", "fp", "fn", "tn", "acc_bp")
  }, Some {
    import graft.ops.Fit
    def cm(cls: Int, e: String, nm: String) =
      s"CAST(sum(CASE WHEN y = $cls THEN $e ELSE 0 END) AS BIGINT) AS $nm"
    s"""WITH f AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        CAST(l_quantity AS BIGINT) AS x1,
        CAST(round(l_discount * 10000) AS BIGINT) AS x2
      FROM lineitem),
    m AS (SELECT ${cm(0, "1", "n0")}, ${cm(0, "x1", "s1_0")}, ${cm(0, "x2", "s2_0")},
        ${cm(0, "x1 * x1", "s11_0")}, ${cm(0, "x1 * x2", "s12_0")}, ${cm(0, "x2 * x2", "s22_0")},
        ${cm(1, "1", "n1")}, ${cm(1, "x1", "s1_1")}, ${cm(1, "x2", "s2_1")},
        ${cm(1, "x1 * x1", "s11_1")}, ${cm(1, "x1 * x2", "s12_1")}, ${cm(1, "x2 * x2", "s22_1")}
      FROM f),
    ${Fit.ldaSolveSqlFrom("m")},
    model AS (SELECT w1_milli, w2_milli, thr, flip, det_q FROM ${Fit.ldaFinalRef}),
    sc AS (SELECT y, w1_milli, w2_milli, thr, det_q,
        CASE WHEN flip THEN w1_milli * x1 + w2_milli * x2 < thr
          ELSE w1_milli * x1 + w2_milli * x2 > thr END AS pred
      FROM f, model)
    SELECT w1_milli, w2_milli, thr, det_q, count(*)::BIGINT AS n,
      CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      (CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
        + CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT))
        * 10000 // count(*) AS acc_bp
    FROM sc GROUP BY 1, 2, 3, 4"""
  })

  /** CLASSIFIER CALIBRATION (reliability diagram) for the LDA model —
    * the eval primitive between a trained score and a deployed
    * threshold (DeGroot &amp; Fienberg 1983; Niculescu-Mizil &amp;
    * Caruana 2005 — public): bucket the signed decision margin into 8
    * equal-width bins over its observed range and report the POSITIVE
    * RATE per bin — a well-calibrated monotone score shows the rate
    * rising with the margin, and the bin table says which margin band
    * is trustworthy enough to auto-route. Everything exact integer:
    * margin = ±(w·x − thr) in the model's milli units, bucket =
    * ((margin − mn)·8) DIV (mx − mn + 1) ∈ [0, 7], rates in bp. Scale
    * shape: the q_lda_classifier one-aggregate train pass, a broadcast
    * model + broadcast 2-long range row, one final 8-group aggregate —
    * zero windows, zero data-sized joins.
    */
  val qLdaCalibration: Q = Q("q_lda_calibration", (s, dir) => {
    import graft.ops.Fit
    val f = Tables.t(s, dir, "lineitem").selectExpr(
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
      "CAST(l_quantity AS BIGINT) AS x1",
      "CAST(round(l_discount * 10000) AS BIGINT) AS x2")
    def cm(cls: Int, e: String, nm: String) =
      sum(expr(s"CASE WHEN y = $cls THEN $e ELSE 0L END")).as(nm)
    val m = f.agg(
      cm(0, "1L", "n0"), cm(0, "x1", "s1_0"), cm(0, "x2", "s2_0"),
      cm(0, "x1 * x1", "s11_0"), cm(0, "x1 * x2", "s12_0"), cm(0, "x2 * x2", "s22_0"),
      cm(1, "1L", "n1"), cm(1, "x1", "s1_1"), cm(1, "x2", "s2_1"),
      cm(1, "x1 * x1", "s11_1"), cm(1, "x1 * x2", "s12_1"), cm(1, "x2 * x2", "s22_1"))
    val model = Fit.ldaSolve(m).select("w1_milli", "w2_milli", "thr", "flip")
    val scored = f.crossJoin(broadcast(model))
      .withColumn("margin", expr(
        """CASE WHEN flip THEN thr - (w1_milli * x1 + w2_milli * x2)
           ELSE (w1_milli * x1 + w2_milli * x2) - thr END"""))
    val rng = scored.agg(min("margin").as("mn"), max("margin").as("mx"))
    scored.crossJoin(broadcast(rng))
      .withColumn("bucket", expr("((margin - mn) * 8) DIV (mx - mn + 1)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(expr("CAST(y AS BIGINT)")).as("n_pos"),
        min("margin").as("margin_lo"), max("margin").as("margin_hi"))
      .withColumn("pos_rate_bp", expr("(n_pos * 10000) DIV n"))
      .orderBy("bucket")
  }, Some {
    import graft.ops.Fit
    def cm(cls: Int, e: String, nm: String) =
      s"CAST(sum(CASE WHEN y = $cls THEN $e ELSE 0 END) AS BIGINT) AS $nm"
    s"""WITH f AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        CAST(l_quantity AS BIGINT) AS x1,
        CAST(round(l_discount * 10000) AS BIGINT) AS x2
      FROM lineitem),
    m AS (SELECT ${cm(0, "1", "n0")}, ${cm(0, "x1", "s1_0")}, ${cm(0, "x2", "s2_0")},
        ${cm(0, "x1 * x1", "s11_0")}, ${cm(0, "x1 * x2", "s12_0")}, ${cm(0, "x2 * x2", "s22_0")},
        ${cm(1, "1", "n1")}, ${cm(1, "x1", "s1_1")}, ${cm(1, "x2", "s2_1")},
        ${cm(1, "x1 * x1", "s11_1")}, ${cm(1, "x1 * x2", "s12_1")}, ${cm(1, "x2 * x2", "s22_1")}
      FROM f),
    ${Fit.ldaSolveSqlFrom("m")},
    model AS (SELECT w1_milli, w2_milli, thr, flip FROM ${Fit.ldaFinalRef}),
    sc AS (SELECT y,
        CASE WHEN flip THEN thr - (w1_milli * x1 + w2_milli * x2)
          ELSE (w1_milli * x1 + w2_milli * x2) - thr END AS margin
      FROM f, model),
    rg AS (SELECT min(margin) AS mn, max(margin) AS mx FROM sc),
    bk AS (SELECT y, margin, ((margin - mn) * 8) // (mx - mn + 1) AS bucket
      FROM sc, rg)
    SELECT bucket, count(*)::BIGINT AS n, CAST(sum(y) AS BIGINT) AS n_pos,
      CAST(min(margin) AS BIGINT) AS margin_lo,
      CAST(max(margin) AS BIGINT) AS margin_hi,
      (CAST(sum(y) AS BIGINT) * 10000) // count(*) AS pos_rate_bp
    FROM bk GROUP BY 1 ORDER BY 1"""
  })

  /** HILBERT vs Z-ORDER data-skipping comparison — the second half of
    * the OPTIMIZE decision ledger beside [[qZonemapSkip]]: bucket the
    * same quantized (partkey, suppkey) grid into ~85 771-cell files
    * (65536 DIV 771 + 1) under (a) a
    * Morton interleave and (b) a Hilbert index
    * ([[graft.ops.Layout.hilbertStages]] — the continuous space-filling
    * curve: consecutive cells are always grid-adjacent, so equal
    * d-ranges tile compact blobs with none of Z-order's cross-grid
    * jumps), then replay the fixed 4×4 rectangle workload against each
    * layout's zone maps. The file size is deliberately NOT
    * 4^k-aligned (771 cells): at aligned sizes both curves cut into
    * identical squares and the comparison is degenerate; real writers
    * cut files at row-count targets, i.e. arbitrary curve positions,
    * where Z-order's discontinuities blow up the straddling file's
    * bbox while Hilbert's stay adjacent (measured here: 37 vs 62
    * scanned files over the workload). `span_z`/`span_h` carry the
    * direct locality diagnostic (Σ per-file bbox half-perimeter —
    * smaller = tighter files). Scale shape identical to the zonemap
    * query: one 1-row
    * range aggregate, per-file metadata-sized aggregates, a 64×16
    * broadcast cross; the Hilbert chain is 8 stage-batched integer
    * projections per row, embarrassingly parallel.
    */
  val qHilbertSkip: Q = Q("layout_hilbert_skip", (s, dir) => {
    import graft.ops.{Geo, Layout}
    val li = Tables.t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    val rng = li.agg(
      min("l_partkey").as("mn_p"), max("l_partkey").as("mx_p"),
      min("l_suppkey").as("mn_s"), max("l_suppkey").as("mx_s"))
    val q0 = li.crossJoin(broadcast(rng))
      .withColumn("p_q", expr(Layout.quantizeSql("DIV", "l_partkey", "mn_p", "mx_p", 8)))
      .withColumn("s_q", expr(Layout.quantizeSql("DIV", "l_suppkey", "mn_s", "mx_s", 8)))
      .withColumn("file_z", expr(s"(${Layout.zorderSql(Seq("p_q", "s_q"), 8)}) DIV 771"))
    val q = Geo.applyStages(q0, Layout.hilbertStages("hb_", "p_q", "s_q", 8))
      .withColumn("file_h", expr("hb_d DIV 771"))
    // each layout's zone-map relation feeds TWO consumers (the rectangle
    // replay and the span diagnostic): checkpoint the 64-row aggregate so
    // lineitem is scanned once per layout, not twice (the house rule —
    // aggregate-bounded + >=2 downstream references => checkpoint)
    def zones(fcol: String) = q.groupBy(col(fcol).as("f")).agg(
      min("p_q").as("zp0"), max("p_q").as("zp1"),
      min("s_q").as("zs0"), max("s_q").as("zs1")).localCheckpoint(true)
    val (zonesZ, zonesH) = (zones("file_z"), zones("file_h"))
    def span(z: DataFrame, nm: String) =
      z.agg(sum(expr("zp1 - zp0 + zs1 - zs0 + 2")).as(nm))
    val rects = s.range(16).select(col("id").as("rect_id"),
      expr("(id DIV 4) * 64").as("lo_p"), expr("(id DIV 4) * 64 + 31").as("hi_p"),
      expr("(id % 4) * 64").as("lo_s"), expr("(id % 4) * 64 + 31").as("hi_s"))
    def scans(z: DataFrame, n: String, sc: String) =
      z.crossJoin(broadcast(rects))
        .groupBy("rect_id")
        .agg(count(lit(1)).as(n),
          sum(when(expr("zp0 <= hi_p AND zp1 >= lo_p AND zs0 <= hi_s AND zs1 >= lo_s"),
            1L).otherwise(0L)).as(sc))
    scans(zonesZ, "n_files_z", "scan_z")
      .join(scans(zonesH, "n_files_h", "scan_h"), "rect_id")
      .crossJoin(broadcast(span(zonesZ, "span_z")))
      .crossJoin(broadcast(span(zonesH, "span_h")))
      .withColumn("skip_z_bp", expr("(n_files_z - scan_z) * 10000 DIV n_files_z"))
      .withColumn("skip_h_bp", expr("(n_files_h - scan_h) * 10000 DIV n_files_h"))
      .select("rect_id", "n_files_z", "scan_z", "skip_z_bp",
        "n_files_h", "scan_h", "skip_h_bp", "span_z", "span_h")
      .orderBy("rect_id")
  }, Some {
    import graft.ops.{Geo, Layout}
    val (chain, last) = Geo.duckStageChain("hb", "z",
      Layout.hilbertStages("hb_", "p_q", "s_q", 8))
    s"""WITH rng AS (SELECT min(l_partkey) AS mn_p, max(l_partkey) AS mx_p,
        min(l_suppkey) AS mn_s, max(l_suppkey) AS mx_s FROM lineitem),
    q AS (SELECT
        ${Layout.quantizeSql("//", "l_partkey", "mn_p", "mx_p", 8)} AS p_q,
        ${Layout.quantizeSql("//", "l_suppkey", "mn_s", "mx_s", 8)} AS s_q
      FROM lineitem, rng),
    z AS (SELECT p_q, s_q,
        (${Layout.zorderSql(Seq("p_q", "s_q"), 8)}) // 771 AS file_z FROM q),
    $chain,
    h AS (SELECT p_q, s_q, file_z, hb_d // 771 AS file_h FROM $last),
    zz AS (SELECT file_z AS f, min(p_q) AS zp0, max(p_q) AS zp1,
        min(s_q) AS zs0, max(s_q) AS zs1 FROM h GROUP BY 1),
    zh AS (SELECT file_h AS f, min(p_q) AS zp0, max(p_q) AS zp1,
        min(s_q) AS zs0, max(s_q) AS zs1 FROM h GROUP BY 1),
    spz AS (SELECT CAST(sum(zp1 - zp0 + zs1 - zs0 + 2) AS BIGINT) AS span_z FROM zz),
    sph AS (SELECT CAST(sum(zp1 - zp0 + zs1 - zs0 + 2) AS BIGINT) AS span_h FROM zh),
    r AS (SELECT range AS rect_id, (range // 4) * 64 AS lo_p,
        (range // 4) * 64 + 31 AS hi_p, (range % 4) * 64 AS lo_s,
        (range % 4) * 64 + 31 AS hi_s FROM range(16)),
    sz AS (SELECT rect_id, count(*)::BIGINT AS n_files_z,
        sum(CASE WHEN zp0 <= hi_p AND zp1 >= lo_p AND zs0 <= hi_s AND zs1 >= lo_s
          THEN 1 ELSE 0 END)::BIGINT AS scan_z
      FROM zz, r GROUP BY rect_id),
    sh AS (SELECT rect_id, count(*)::BIGINT AS n_files_h,
        sum(CASE WHEN zp0 <= hi_p AND zp1 >= lo_p AND zs0 <= hi_s AND zs1 >= lo_s
          THEN 1 ELSE 0 END)::BIGINT AS scan_h
      FROM zh, r GROUP BY rect_id)
    SELECT rect_id, n_files_z, scan_z,
      (n_files_z - scan_z) * 10000 // n_files_z AS skip_z_bp,
      n_files_h, scan_h,
      (n_files_h - scan_h) * 10000 // n_files_h AS skip_h_bp,
      span_z, span_h
    FROM sz JOIN sh USING (rect_id), spz, sph ORDER BY rect_id"""
  })
}
