package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Time-series smoothing / robust-outlier queries over the events table —
  * thin bindings of the generic [[graft.ops.Series]] primitives. The
  * reference's dataflow ends at its TSDB sink (core/warp.go:45 ships
  * series points); these are the first analytics a consumer of those
  * series runs.
  */
object Series {

  def all: Seq[Q] = Seq(tsEwma, tsMadAnomaly, tsSeasonalProfile,
    scd2Snapshot, tsSessionizeGap, tsInterpolate, tsEquidepthHistogram,
    tsRollingMedian, tsChangePoints, tsAutocorr, tsRollingSlope,
    tsHoltForecast, tsStlDecompose, tsOhlc, tsDownsampleLtb,
    tsAnomalyAgreement, tsPeakDetect, tsSloBurn, tsTheilSen, tsCrossCorr,
    tsHistogramQuantile, tsCusumAlarm, tsHoltWinters, tsHoltWintersMul,
    tsSpearman,
    tsForecastEval, scd2PitJoin, tsCompleteness, tsSax, tsOrdinalPatterns,
    tsPacf, tsBurstiness, tsGapMemory, tsMatrixProfile, tsDominantPeriod,
    tsHaarEnergy, tsMannKendall, tsStructureFunction, tsCounterRate,
    tsAlertFor, tsKalman, tsArForecast, tsDownsampleM4, tsLocfFill,
    tsStlAnomaly, qHoppingWindow, tsRunsTest, tsRecordStats,
    tsVarianceRatio, tsSeasonalStrength, tsDfa, tsMeanExcess,
    tsLjungBox, tsPageHinkley, tsSeasonalEsd, tsGrangerLite,
    tsExtremalIndex, tsAdfLite, tsCointLite, tsCointEval,
    tsForecastEnsemble)

  /** PromQL `histogram_quantile` semantics over cumulative le-buckets —
    * the quantile a Prometheus stack computes from bucketed COUNTERS
    * (never raw samples): per event type, cumulative counts at 10 fixed
    * cent thresholds, then for each φ the first bucket whose cumulative
    * count reaches rank ⌈φ·total⌉ and a LINEAR interpolation inside it
    * (prometheus/promql/quantile.go's published rule), all in exact
    * fixed point — rank and bucket counts are integers, the
    * interpolation is one bigint multiply/floor-divide (q_e4 = le·100
    * interpolated), so nothing floats. Output long-form (type, φ_bp,
    * q_e4). Scale: ONE conditional-aggregate pass builds the 10
    * counters per series (map-side combine); everything after runs on
    * the series×bucket grid.
    */
  val tsHistogramQuantile: Q = Q("ts_histogram_quantile", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val les = (1 to 10).map(_ * 1000L) // cents: 10.00, 20.00, … 100.00
    val phis = Seq(5000L, 9000L, 9900L)
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val aggCols = count(lit(1)).as("total") +:
      les.map(t => sum(when(col("cents") <= t, 1L).otherwise(0L)).as(s"c$t"))
    val agg = e.groupBy("event_type").agg(aggCols.head, aggCols.tail: _*)
    // +Inf bucket (cum = total), per promql: a quantile landing there
    // returns the highest FINITE bound instead of interpolating
    val inf = Long.MaxValue
    val melted = agg.selectExpr(Seq("event_type", "total",
      s"stack(${les.size + 1}, ${les.map(t => s"${t}L, c$t").mkString(", ")}, ${inf}L, total) AS (le, cum)"): _*)
    val w = Window.partitionBy("event_type").orderBy("le")
    val b = melted
      .withColumn("prev_le", coalesce(lag("le", 1).over(w), lit(0L)))
      .withColumn("prev_cum", coalesce(lag("cum", 1).over(w), lit(0L)))
    import s.implicits._
    val phiDf = phis.toDF("phi_bp")
    b.crossJoin(broadcast(phiDf))
      .withColumn("target", expr("(total * phi_bp + 9999) DIV 10000"))
      .filter(col("cum") >= col("target") && col("prev_cum") < col("target"))
      .select(col("event_type"), col("phi_bp"), col("total"),
        expr(s"""CASE WHEN le = ${inf}L THEN prev_le * 100
                ELSE prev_le * 100 + (le - prev_le) * 100 * (target - prev_cum)
                  DIV (cum - prev_cum) END""").as("q_e4"))
      .orderBy("event_type", "phi_bp")
  }, Some {
    val les = (1 to 10).map(_ * 1000L)
    val cumCols = les.map(t =>
      s"sum(CASE WHEN cents <= $t THEN 1 ELSE 0 END)::BIGINT AS c$t").mkString(",\n        ")
    val leCase = les.map(t => s"WHEN $t THEN c$t").mkString(" ")
    s"""WITH e AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    a AS (SELECT event_type, count(*)::BIGINT AS total,
        $cumCols
      FROM e GROUP BY event_type),
    m AS (SELECT event_type, total, t.le,
        CASE t.le $leCase ELSE total END AS cum
      FROM a CROSS JOIN (VALUES ${les.map(t => s"(CAST($t AS BIGINT))").mkString(", ")},
        (CAST(9223372036854775807 AS BIGINT))) t(le)),
    b AS (SELECT event_type, total, le, cum,
        coalesce(lag(le) OVER w, 0) AS prev_le,
        coalesce(lag(cum) OVER w, 0) AS prev_cum
      FROM m WINDOW w AS (PARTITION BY event_type ORDER BY le)),
    p AS (SELECT b.*, ph.phi_bp,
        (total * ph.phi_bp + 9999) // 10000 AS target
      FROM b CROSS JOIN (VALUES (CAST(5000 AS BIGINT)), (CAST(9000 AS BIGINT)),
        (CAST(9900 AS BIGINT))) ph(phi_bp))
    SELECT event_type, phi_bp, total,
      CAST(CASE WHEN le = 9223372036854775807 THEN prev_le * 100
        ELSE prev_le * 100 + (le - prev_le) * 100 * (target - prev_cum)
          // (cum - prev_cum) END AS BIGINT) AS q_e4
    FROM p
    WHERE cum >= target AND prev_cum < target
    ORDER BY event_type, phi_bp"""
  })

  /** Theil–Sen robust trend per event type (Theil '50 / Sen '68 —
    * public): the MEDIAN of all pairwise slopes of the hourly-mean
    * series, in PURE INTEGER fixed point — slope_e4 = Δc·10⁴ DIV Δh per
    * pair (both engines truncate toward zero, negatives included), and
    * the median picked by the rank-window trick (lower/upper middle by
    * row_number, floor-averaged) rather than an interpolating quantile,
    * so nothing floats. Breakdown point 29% — the trend estimate OLS
    * ([[tsRollingSlope]]) can't give under outliers. Scale: the pair
    * join is per-series over the HOURLY GRID (bounded by the time
    * range, not event volume) — the classical O(grid²) Theil–Sen bound;
    * everything is keyed on event_type.
    */
  val tsTheilSen: Q = Q("ts_theil_sen", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val a = hourly.select(col("event_type"), col("h").as("ha"), col("c").as("ca"))
    val b = hourly.select(col("event_type"), col("h").as("hb"), col("c").as("cb"))
    val slopes = a.join(b, "event_type").filter(col("ha") < col("hb"))
      .select(col("event_type"),
        expr("(cb - ca) * 10000 DIV (hb - ha)").as("sl"))
    val w = Window.partitionBy("event_type").orderBy("sl")
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("n").as("n_pairs"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("sl"))).as("m1"),
        max(when(col("rn") === expr("n DIV 2 + 1"), col("sl"))).as("m2"))
      .select(col("event_type"), col("n_pairs"),
        expr("(m1 + m2) DIV 2").as("theil_sen_e4"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    sl AS (SELECT a.event_type,
        CAST((b.c - a.c) * 10000 // (b.h - a.h) AS BIGINT) AS sl
      FROM hd a JOIN hd b ON a.event_type = b.event_type AND a.h < b.h),
    r AS (SELECT event_type, sl,
        row_number() OVER (PARTITION BY event_type ORDER BY sl) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM sl)
    SELECT event_type, max(n)::BIGINT AS n_pairs,
      CAST((max(CASE WHEN rn = (n + 1) // 2 THEN sl END)
          + max(CASE WHEN rn = n // 2 + 1 THEN sl END)) // 2 AS BIGINT)
        AS theil_sen_e4
    FROM r GROUP BY event_type ORDER BY event_type"""))

  /** Spearman rank correlation between each event type's hourly VOLUME
    * and hourly MEAN VALUE — "do busy hours run hot or cold?", the
    * monotone-association readout Pearson-style moments can't give
    * without floats. Ranks are row_number over (metric, hour): exact
    * integers with the time tie-break making the ranking total and
    * deterministic (the documented ties-broken-by-time Spearman
    * variant, not mid-rank averaging — averaging needs halves).
    * rho·10⁴ = 10000 − (60000·Σd²) DIV (n(n²−1)) is one truncating
    * division of exact bigints. Both rank windows partition by event
    * type over the HOURLY aggregate — rows bounded by the wall-clock
    * range, never the event volume; n up to ~300k hours (34 years)
    * stays inside bigint for the 60000·Σd² product.
    */
  val tsSpearman: Q = Q("ts_spearman", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("m"), count(lit(1)).as("c"))
    val wm = Window.partitionBy("event_type").orderBy(col("m"), col("h"))
    val wc = Window.partitionBy("event_type").orderBy(col("c"), col("h"))
    hourly
      .withColumn("rm", row_number().over(wm))
      .withColumn("rc", row_number().over(wc))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(expr("CAST(rm - rc AS BIGINT) * CAST(rm - rc AS BIGINT)")).as("sum_d2"))
      .withColumn("rho_bp", expr("""CASE WHEN n_hours >= 2
        THEN 10000 - (60000 * sum_d2) DIV (n_hours * (n_hours * n_hours - 1))
        ELSE 10000 END"""))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS m,
        count(*)::BIGINT AS c
      FROM e GROUP BY event_type, h),
    r AS (SELECT event_type,
        row_number() OVER (PARTITION BY event_type ORDER BY m, h) AS rm,
        row_number() OVER (PARTITION BY event_type ORDER BY c, h) AS rc
      FROM hd),
    g AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        CAST(sum((rm - rc) * (rm - rc)) AS BIGINT) AS sum_d2
      FROM r GROUP BY event_type)
    SELECT event_type, n_hours, sum_d2,
      CAST(CASE WHEN n_hours >= 2
        THEN 10000 - (60000 * sum_d2) // (n_hours * (n_hours * n_hours - 1))
        ELSE 10000 END AS BIGINT) AS rho_bp
    FROM g ORDER BY event_type"""))

  /** Lagged cross-correlation between every event-type PAIR's hourly
    * deviation series at lags 0–2 hours — the "does B follow A"
    * monitoring readout (deploys → errors, clicks → purchases) that
    * [[tsAutocorr]]'s self-correlation can't answer. Deviations and
    * their lags come from the SAME integer hourly machinery as
    * autocorr; r_k is the cosine of the matched deviation vectors —
    * exact bigint sums, one IEEE sqrt+division at the end (correctly
    * rounded on both engines), rounded at 4. Pair join is keyed on the
    * hour grid: |types|²·grid rows, bounded by the time range.
    */
  val tsCrossCorr: Q = Q("ts_crosscorr", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val hourly = e.groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val m = hourly.groupBy("event_type")
      .agg(expr("sum(c) DIV count(1)").as("mean_c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val d = hourly.join(m, "event_type")
      .withColumn("dev", col("c") - col("mean_c"))
      .withColumn("d1", lead("dev", 1).over(w))
      .withColumn("d2", lead("dev", 2).over(w))
    val a = d.select(col("event_type").as("ta"), col("h"), col("dev").as("da"))
    val b = d.select(col("event_type").as("tb"), col("h"),
      col("dev").as("db"), col("d1").as("db1"), col("d2").as("db2"))
    a.join(b, "h").filter(col("ta") < col("tb"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_hours"),
        sum(expr("da * db")).as("n0"), sum(expr("da * da")).as("saa"),
        sum(expr("db * db")).as("sbb"),
        sum(when(col("db1").isNotNull, expr("da * db1"))).as("n1"),
        sum(when(col("db1").isNotNull, expr("da * da"))).as("sa1"),
        sum(when(col("db1").isNotNull, expr("db1 * db1"))).as("sb1"),
        sum(when(col("db2").isNotNull, expr("da * db2"))).as("n2"),
        sum(when(col("db2").isNotNull, expr("da * da"))).as("sa2"),
        sum(when(col("db2").isNotNull, expr("db2 * db2"))).as("sb2"))
      .select(col("ta"), col("tb"), col("n_hours"),
        round(expr("n0 / sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE))"), 4).as("r0"),
        round(expr("n1 / sqrt(CAST(sa1 AS DOUBLE) * CAST(sb1 AS DOUBLE))"), 4).as("r1"),
        round(expr("n2 / sqrt(CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE))"), 4).as("r2"))
      .orderBy("ta", "tb")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    m AS (SELECT event_type, CAST(sum(c) // count(*) AS BIGINT) AS mean_c
      FROM hd GROUP BY event_type),
    d AS (SELECT hd.event_type, hd.h, hd.c - m.mean_c AS dev,
        lead(hd.c - m.mean_c, 1) OVER w AS d1,
        lead(hd.c - m.mean_c, 2) OVER w AS d2
      FROM hd JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY hd.event_type ORDER BY hd.h)),
    j AS (SELECT a.event_type AS ta, b.event_type AS tb,
        a.dev AS da, b.dev AS db, b.d1 AS db1, b.d2 AS db2
      FROM d a JOIN d b ON a.h = b.h AND a.event_type < b.event_type),
    g AS (SELECT ta, tb, count(*)::BIGINT AS n_hours,
        CAST(sum(da * db) AS BIGINT) AS n0,
        CAST(sum(da * da) AS BIGINT) AS saa,
        CAST(sum(db * db) AS BIGINT) AS sbb,
        CAST(sum(CASE WHEN db1 IS NOT NULL THEN da * db1 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN db1 IS NOT NULL THEN da * da END) AS BIGINT) AS sa1,
        CAST(sum(CASE WHEN db1 IS NOT NULL THEN db1 * db1 END) AS BIGINT) AS sb1,
        CAST(sum(CASE WHEN db2 IS NOT NULL THEN da * db2 END) AS BIGINT) AS n2,
        CAST(sum(CASE WHEN db2 IS NOT NULL THEN da * da END) AS BIGINT) AS sa2,
        CAST(sum(CASE WHEN db2 IS NOT NULL THEN db2 * db2 END) AS BIGINT) AS sb2
      FROM j GROUP BY ta, tb)
    SELECT ta, tb, n_hours,
      round(n0 / sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 4) AS r0,
      round(n1 / sqrt(CAST(sa1 AS DOUBLE) * CAST(sb1 AS DOUBLE)), 4) AS r1,
      round(n2 / sqrt(CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE)), 4) AS r2
    FROM g ORDER BY ta, tb"""))

  /** Multi-window error-budget burn-rate monitor (the SRE-workbook
    * alerting pattern — public: alert when BOTH a fast and a slow
    * window burn hot, so spikes page quickly but blips don't):
    * per-hour error fraction of the event stream against a 20% error
    * budget, burn = rate ÷ budget in integer basis points (10000 =
    * exactly consuming budget), the 6-hour trailing burn from one
    * window sum, `page` = fast ≥ 2× AND slow ≥ 1.5×, `ticket` = slow ≥
    * 1×. All integer floor division — nothing to diverge cross-engine.
    * Scale shape: the data-sized pass is ONE partial-aggregated
    * groupBy onto the hour grid (bounded by the time range, not the
    * volume); the trailing window runs on that grid — the sanctioned
    * global-window-over-Aggregate shape.
    */
  val tsSloBurn: Q = Q("ts_slo_burn", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val h = Tables.events(s, dir)
      .groupBy(expr("ts_us DIV 3600000000").as("h"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"))
    val w6 = Window.orderBy("h").rowsBetween(-5, Window.currentRow)
    h.withColumn("n6", sum("n").over(w6))
      .withColumn("ne6", sum("ne").over(w6))
      // burn_bp = (ne/n) / 0.20 in bp = ne·50000 DIV n
      .select(col("h"), col("n"), col("ne"),
        expr("ne * 50000 DIV n").as("burn1_bp"),
        expr("ne6 * 50000 DIV n6").as("burn6_bp"))
      .withColumn("page", col("burn1_bp") >= 20000 && col("burn6_bp") >= 15000)
      .withColumn("ticket", col("burn6_bp") >= 10000)
      .orderBy("h")
  }, Some("""WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS n,
        sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS ne
      FROM events GROUP BY 1),
    r AS (SELECT h, n, ne,
        sum(n) OVER w AS n6, sum(ne) OVER w AS ne6
      FROM h WINDOW w AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT h, n, ne,
      CAST(ne * 50000 // n AS BIGINT) AS burn1_bp,
      CAST(ne6 * 50000 // n6 AS BIGINT) AS burn6_bp,
      (ne * 50000 // n >= 20000) AND (ne6 * 50000 // n6 >= 15000) AS page,
      ne6 * 50000 // n6 >= 10000 AS ticket
    FROM r ORDER BY h"""))

  /** Prominence-gated peak detection on each event type's hourly series:
    * a peak is a strict local maximum over its ±1 neighbors whose
    * PROMINENCE (height above the higher shoulder) clears a fixed cent
    * threshold — the alert-worthy-spike primitive (plain local maxima
    * fire on every jitter; the prominence gate is what monitoring
    * systems actually ship). All integer: hourly mean cents by floor
    * division, lag/lead comparisons, strict &gt; on the left and ≥ on
    * the right breaks plateaus deterministically toward their first
    * sample. One per-type window on one shuffle.
    */
  val tsPeakDetect: Q = Q("ts_peak_detect", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val Prom = 500L // 5.00 in cents
    val w = Window.partitionBy("event_type").orderBy("h")
    Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
      .withColumn("pc", lag("c", 1).over(w))
      .withColumn("nc", lead("c", 1).over(w))
      .filter(col("pc").isNotNull && col("nc").isNotNull)
      .filter(col("c") > col("pc") && col("c") >= col("nc"))
      .withColumn("prominence", col("c") - greatest(col("pc"), col("nc")))
      .filter(col("prominence") >= Prom)
      .select(col("event_type"), col("h"), col("c"), col("pc"), col("nc"),
        col("prominence"))
      .orderBy("event_type", "h")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    nb AS (SELECT event_type, h, c,
        lag(c) OVER w AS pc, lead(c) OVER w AS nc
      FROM hd WINDOW w AS (PARTITION BY event_type ORDER BY h))
    SELECT event_type, h, c, pc, nc, c - greatest(pc, nc) AS prominence
    FROM nb
    WHERE pc IS NOT NULL AND nc IS NOT NULL
      AND c > pc AND c >= nc AND c - greatest(pc, nc) >= 500
    ORDER BY event_type, h"""))

  /** Largest-triangle downsampling with BUCKET-AVERAGE anchors — the
    * relational variant of LTTB (Steinarsson, "Downsampling Time Series
    * for Visual Representation", MSc thesis U. Iceland 2013 — public):
    * classic LTTB anchors each bucket's choice on the PREVIOUSLY
    * SELECTED point, a sequential dependency; anchoring on the previous/
    * next bucket MEANS instead makes every bucket's argmax independent —
    * embarrassingly parallel, same visual intent (keep the point that
    * subtends the largest triangle against its neighborhood trend).
    * All EXACT integer math: 12-point buckets by per-series row number,
    * anchor means as floor-divided (x̄·n, ȳ·n kept as exact sums with
    * the common denominator multiplied through the cross product), area
    * = |cross product| in bigint, ties → earliest event. One shuffle on
    * the series key; one window for bucketing, one argmax window per
    * bucket.
    */
  val tsDownsampleLtb: Q = Q("ts_downsample_ltb", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    val e = Tables.events(s, dir)
      .withColumn("y", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("x", row_number().over(ord).cast("bigint"))
      .withColumn("b", expr("(x - 1) DIV 12"))
    val anchors = e.groupBy("event_type", "b")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"))
    val wb = Window.partitionBy("event_type").orderBy("b")
    val withNbr = anchors
      .withColumn("pn", lag("n", 1).over(wb))
      .withColumn("psx", lag("sx", 1).over(wb))
      .withColumn("psy", lag("sy", 1).over(wb))
      .withColumn("nn", lead("n", 1).over(wb))
      .withColumn("nsx", lead("sx", 1).over(wb))
      .withColumn("nsy", lead("sy", 1).over(wb))
    // cross product with the mean denominators multiplied through:
    // area ∝ |(px̄−x)(nȳ−y) − (nx̄−x)(pȳ−y)| · pn·nn — drop the common
    // positive factor, compare (psx−x·pn)(nsy−y·nn)−(nsx−x·nn)(psy−y·pn)
    val cand = e.join(withNbr, Seq("event_type", "b"))
      .filter(col("pn").isNotNull && col("nn").isNotNull)
      .withColumn("area", abs(expr(
        "(psx - x * pn) * (nsy - y * nn) - (nsx - x * nn) * (psy - y * pn)")))
    val pick = Window.partitionBy("event_type", "b")
      .orderBy(col("area").desc, col("event_id").asc)
    cand.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
      .select(col("event_type"), col("b"), col("event_id"), col("x"), col("y"),
        col("area"))
      .orderBy("event_type", "b")
  }, Some("""WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS y
      FROM events),
    x AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        ORDER BY ts_us, event_id) AS BIGINT) AS x FROM e),
    bk AS (SELECT *, (x - 1) // 12 AS b FROM x),
    a AS (SELECT event_type, b, count(*)::BIGINT AS n,
        sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy
      FROM bk GROUP BY event_type, b),
    nb AS (SELECT event_type, b, n, sx, sy,
        lag(n) OVER w AS pn, lag(sx) OVER w AS psx, lag(sy) OVER w AS psy,
        lead(n) OVER w AS nn, lead(sx) OVER w AS nsx, lead(sy) OVER w AS nsy
      FROM a WINDOW w AS (PARTITION BY event_type ORDER BY b)),
    c AS (SELECT bk.event_type, bk.b, bk.event_id, bk.x, bk.y,
        abs((psx - bk.x * pn) * (nsy - bk.y * nn)
          - (nsx - bk.x * nn) * (psy - bk.y * pn)) AS area
      FROM bk JOIN nb ON nb.event_type = bk.event_type AND nb.b = bk.b
      WHERE pn IS NOT NULL AND nn IS NOT NULL)
    SELECT event_type, b, event_id, x, y, area FROM c
    QUALIFY row_number() OVER (PARTITION BY event_type, b
      ORDER BY area DESC, event_id ASC) = 1
    ORDER BY event_type, b"""))

  /** Hour-of-day seasonality profile per event type: per-(type, hour)
    * volume and mean value, plus the hour's deviation from the type's
    * overall mean — the seasonal baseline a monitoring/anomaly stack
    * subtracts before thresholding. Means are computed from EXACT
    * integer cent sums (value has 2-decimal granularity) floor-divided
    * to fixed-point ten-thousandths, so neither float-summation order
    * nor round()-at-half-boundary semantics can diverge cross-engine;
    * the only float op is the final exact /10000.0 presentation scale.
    * Two partial-aggregated shuffles (hour grid, then type totals),
    * output is the tiny profile grid.
    */
  val tsSeasonalProfile: Q = Q("ts_seasonal_profile", (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("hr", expr("(ts_us DIV 3600000000) % 24"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val byHour = e.groupBy("event_type", "hr")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
    val byType = byHour.groupBy("event_type")
      .agg(sum("sc").as("tc"), sum("n").as("tn"))
    // means in FIXED-POINT ten-thousandths (cents·100 DIV n): sc/(100·n)
    // can land exactly on a .00005 boundary (e.g. 55143/800) where Spark
    // and DuckDB round() disagree — floor-divide integers instead
    byHour.join(byType, "event_type")
      .select(col("event_type"), col("hr"), col("n"),
        (expr("sc * 100 DIV n") / 10000.0).as("hour_mean"),
        (expr("sc * 100 DIV n - tc * 100 DIV tn") / 10000.0)
          .as("dev_from_type_mean"))
      .orderBy("event_type", "hr")
  }, Some("""WITH e AS (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hr,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    h AS (SELECT event_type, hr, count(*)::BIGINT AS n, sum(cents) AS sc
      FROM e GROUP BY event_type, hr),
    t AS (SELECT event_type, sum(sc) AS tc, sum(n) AS tn FROM h GROUP BY event_type)
    SELECT event_type, hr, n,
      (sc * 100 // n) / 10000.0 AS hour_mean,
      (sc * 100 // n - tc * 100 // tn) / 10000.0 AS dev_from_type_mean
    FROM h JOIN t USING (event_type)
    ORDER BY event_type, hr"""))

  /** Per-user EWMA level of `value` at two smoothing factors (α = 0.25,
    * 0.5), computed as a sorted sequential fold — bit-exact vs the
    * DuckDB `list_reduce` twin because both engines fold the identical
    * order with identical IEEE ops. One shuffle; fold is linear per
    * series inside the aggregate (no window, no O(n²)).
    */
  val tsEwma: Q = Q("ts_ewma", (s, dir) => {
    graft.ops.Series.ewmaLast(
      Tables.events(s, dir),
      keyCol = "user_id", orderCol = "ts_us", tieCol = "event_id",
      valCol = "value", alphas = Seq(0.25, 0.5))
      .select(col("user_id"), col("n_points"),
        round(col("ewma_25"), 4).as("ewma_25"),
        round(col("ewma_50"), 4).as("ewma_50"))
      .orderBy("user_id")
  }, Some(s"""SELECT user_id, count(*)::BIGINT AS n_points,
      round(${graft.ops.Series.ewmaSql("value", "ts_us, event_id", 0.25)}, 4) AS ewma_25,
      round(${graft.ops.Series.ewmaSql("value", "ts_us, event_id", 0.5)}, 4) AS ewma_50
    FROM (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events)
    GROUP BY user_id ORDER BY user_id"""))

  /** Robust anomaly detection: per-event-type median/MAD, flag rows with
    * robust z-score > 3. The MAD-based twin of q_zscore_anomaly —
    * resistant to the outliers it is hunting (mean/σ are dragged by the
    * very points being flagged; median/MAD are not). Exact interpolated
    * percentiles both sides; boundary rows pinned by round(score, 6)
    * before the threshold compare.
    */
  val tsMadAnomaly: Q = Q("ts_mad_anomaly", (s, dir) => {
    graft.ops.Series.madOutliers(
      Tables.t(s, dir, "events"), keyCol = "event_type", valCol = "value", k = 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"),
        round(col("mad_score"), 4).as("mad_score"))
      .orderBy("event_id")
  }, Some("""WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, med.med,
        abs(e.value - med.med) AS dev
      FROM events e JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT event_id, event_type, value, round(med, 4) AS med,
      round(mad, 4) AS mad,
      round(dev / (mad * 1.4826), 4) AS mad_score
    FROM dev JOIN mad USING (event_type)
    WHERE mad > 0 AND round(dev / (mad * 1.4826), 6) > 3.0
    ORDER BY event_id"""))

  /** SCD2 change capture from the event log: per user, keep only events
    * where `event_type` CHANGES vs the previous event, then close each
    * change row's validity interval with the next change's timestamp —
    * the slowly-changing-dimension type-2 build every warehouse runs
    * (valid_from/valid_to in µs, open interval on the current row).
    * Two per-user windows (change detect, then interval close) — one
    * shuffle on user_id, parallelism = #users, all integer µs math.
    */
  val scd2Snapshot: Q = Q("scd2_snapshot", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val changes = Tables.events(s, dir).filter(col("user_id") < 20)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes
      .withColumn("valid_to_us", lead("ts_us", 1).over(w2))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      FROM events WHERE user_id < 20),
    c AS (SELECT *,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      FROM e QUALIFY prev_type IS NULL OR prev_type <> event_type),
    iv AS (SELECT user_id, event_type AS state, ts_us AS valid_from_us,
        lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
      FROM c)
    SELECT user_id, state, valid_from_us, valid_to_us,
      valid_to_us IS NULL AS is_current
    FROM iv ORDER BY user_id, valid_from_us"""))

  /** Gap-rule sessionization via windows: a session breaks after 30 min
    * of inactivity; session ids are the running count of breaks (the
    * classic lag + cumulative-sum pattern — the window-function twin of
    * q_session_window's session_window operator). Output: per-session
    * manifest. One shuffle on user_id; all integer µs arithmetic.
    */
  val tsSessionizeGap: Q = Q("ts_sessionize_gap", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val Gap = 1800000000L // 30 min in µs
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, dir).filter(col("user_id") < 20)
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > Gap, 1L).otherwise(0L))
      .withColumn("session_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
      .orderBy("user_id", "session_id")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us
      FROM events WHERE user_id < 20),
    g AS (SELECT *,
        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
      FROM e),
    b AS (SELECT *,
        CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM g),
    sid AS (SELECT *,
        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM b)
    SELECT user_id, session_id, count(*)::BIGINT AS n_events,
      min(ts_us) AS start_us, max(ts_us) AS end_us,
      (max(ts_us) - min(ts_us)) AS duration_us
    FROM sid GROUP BY user_id, session_id
    ORDER BY user_id, session_id"""))

  /** Linear-interpolation gap fill on the hourly per-user grid — the
    * interpolation twin of q_ts_resample's forward fill: gaps between
    * two known points take the time-weighted line between them; leading/
    * trailing gaps take the nearest known value. Four IGNORE-NULLS
    * window scans (prev/next value and hour) on one per-user shuffle;
    * the interpolation formula is the same expression text both engines
    * (identical IEEE ops), rounded at 4.
    */
  val tsInterpolate: Q = Q("ts_interpolate", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).filter(col("user_id") < 5)
      .withColumn("h", expr("ts_us DIV 3600000000"))
    val c = e.groupBy("user_id", "h")
      .agg(round(sum("value"), 4).as("raw_v"))
    val grid = c.groupBy("user_id").agg(min("h").as("mn"), max("h").as("mx"))
      .select(col("user_id").as("g_user"), explode(sequence(col("mn"), col("mx"))).as("g_h"))
    val j = grid.join(c, col("user_id") === col("g_user") && col("h") === col("g_h"), "left_outer")
      .select(col("g_user").as("user_id"), col("g_h").as("h"), col("raw_v"))
    val wb = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wf = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(0, Window.unboundedFollowing)
    j.withColumn("pv", last(col("raw_v"), ignoreNulls = true).over(wb))
      .withColumn("ph", last(when(col("raw_v").isNotNull, col("h")), ignoreNulls = true).over(wb))
      .withColumn("nv", first(col("raw_v"), ignoreNulls = true).over(wf))
      .withColumn("nh", first(when(col("raw_v").isNotNull, col("h")), ignoreNulls = true).over(wf))
      // FIXED-POINT interpolation: pv/nv are 4-decimal values, so their
      // ten-thousandths are exact integers; the line evaluation is then
      // pure bigint multiply/floor-divide — a float formula lands on
      // exact .00005 boundaries here and Spark's round (shortest-repr
      // HALF_UP) disagrees with DuckDB's (binary-value) on them
      .withColumn("pvi", expr("CAST(round(pv * 10000) AS BIGINT)"))
      .withColumn("nvi", expr("CAST(round(nv * 10000) AS BIGINT)"))
      .select(col("user_id"), col("h"), col("raw_v").isNotNull.as("known"),
        (expr("""CASE WHEN raw_v IS NOT NULL THEN CAST(round(raw_v * 10000) AS BIGINT)
            WHEN pvi IS NOT NULL AND nvi IS NOT NULL
              THEN (pvi * (nh - ph) + (nvi - pvi) * (h - ph)) DIV (nh - ph)
            ELSE coalesce(pvi, nvi, 0) END""") / 10000.0).as("interp_v"))
      .orderBy("user_id", "h")
  }, Some("""WITH c AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h,
        round(sum(value), 4) AS raw_v
      FROM events WHERE user_id < 5 GROUP BY 1, 2),
    s AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM c GROUP BY 1),
    g AS (SELECT user_id, unnest(generate_series(mn, mx)) AS h FROM s),
    j AS (SELECT g.user_id, g.h, c.raw_v
      FROM g LEFT JOIN c ON c.user_id = g.user_id AND c.h = g.h),
    w AS (SELECT user_id, h, raw_v,
        last_value(raw_v IGNORE NULLS) OVER pre AS pv,
        last_value(CASE WHEN raw_v IS NOT NULL THEN h END IGNORE NULLS) OVER pre AS ph,
        first_value(raw_v IGNORE NULLS) OVER post AS nv,
        first_value(CASE WHEN raw_v IS NOT NULL THEN h END IGNORE NULLS) OVER post AS nh
      FROM j
      WINDOW pre AS (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        post AS (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    i AS (SELECT user_id, h, raw_v,
        CAST(round(pv * 10000) AS BIGINT) AS pvi,
        CAST(round(nv * 10000) AS BIGINT) AS nvi, ph, nh
      FROM w)
    SELECT user_id, h, raw_v IS NOT NULL AS known,
      (CASE WHEN raw_v IS NOT NULL THEN CAST(round(raw_v * 10000) AS BIGINT)
        WHEN pvi IS NOT NULL AND nvi IS NOT NULL
          THEN (pvi * (nh - ph) + (nvi - pvi) * (h - ph)) // (nh - ph)
        ELSE coalesce(pvi, nvi, 0) END) / 10000.0 AS interp_v
    FROM i ORDER BY user_id, h"""))

  /** Equi-DEPTH histogram per event type (quartile edges from exact
    * interpolated percentiles, then per-bin volume and extent) — the
    * adaptive-binning twin of q_value_histogram's fixed-width bins, and
    * what query optimizers/monitors actually keep as column statistics.
    * Edges are computed from the identical doubles on both engines, so
    * bin membership (<= edge) needs no rounding screen; one stats
    * aggregate + one broadcast join + one partial-agg shuffle.
    */
  val tsEquidepthHistogram: Q = Q("ts_equidepth_histogram", (s, dir) => {
    val e = Tables.t(s, dir, "events")
    val edges = e.groupBy("event_type").agg(
      expr("percentile(value, 0.25)").as("q1"),
      expr("percentile(value, 0.5)").as("q2"),
      expr("percentile(value, 0.75)").as("q3"))
    e.join(broadcast(edges), "event_type")
      .withColumn("bin", expr(
        "CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1 WHEN value <= q3 THEN 2 ELSE 3 END"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"),
        round(min("value"), 4).as("bin_min"), round(max("value"), 4).as("bin_max"))
      .orderBy("event_type", "bin")
  }, Some("""WITH edges AS (
      SELECT event_type, quantile_cont(value, 0.25) AS q1,
        quantile_cont(value, 0.5) AS q2, quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type)
    SELECT e.event_type,
      CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1
        WHEN value <= q3 THEN 2 ELSE 3 END AS bin,
      count(*)::BIGINT AS n,
      round(min(value), 4) AS bin_min, round(max(value), 4) AS bin_max
    FROM events e JOIN edges USING (event_type)
    GROUP BY 1, 2 ORDER BY event_type, bin"""))

  /** Rolling robust stats in PURE INTEGER arithmetic: per-user trailing
    * 21-point (current + 20 prior) median and MAD of `value`, carried in
    * fixed-point ten-thousandths — cent values make the two-middle
    * average exact ((a+b)·50), and the MAD's even-median uses integer
    * floor halving, so there is NO float anywhere in the output: the
    * streaming twin ([[graft.streaming.MedianProcessor]]) reproduces it
    * bit-for-bit from a 21-slot ring. One shuffle on user_id; the
    * per-row sorted window is O(w log w) on a bounded frame.
    */
  val tsRollingMedian: Q = Q("ts_rolling_median", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(-20, Window.currentRow)
    Tables.events(s, dir).filter(col("user_id") < 50)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
      .withColumn("n_window", size(col("arr")).cast("bigint"))
      .withColumn("med_e4", expr(
        """IF(n_window % 2 = 1, element_at(arr, CAST((n_window + 1) / 2 AS INT)) * 100,
            (element_at(arr, CAST(n_window / 2 AS INT)) +
             element_at(arr, CAST(n_window / 2 AS INT) + 1)) * 50)"""))
      .withColumn("devs", array_sort(expr("transform(arr, x -> abs(x * 100 - med_e4))")))
      .withColumn("mad_e4", expr(
        """IF(n_window % 2 = 1, element_at(devs, CAST((n_window + 1) / 2 AS INT)),
            (element_at(devs, CAST(n_window / 2 AS INT)) +
             element_at(devs, CAST(n_window / 2 AS INT) + 1)) DIV 2)"""))
      .select(col("user_id"), col("event_id"), col("n_window"),
        col("med_e4"), col("mad_e4"))
      .orderBy("user_id", "event_id")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 50),
    a AS (SELECT user_id, event_id,
        list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)) AS arr
      FROM e),
    m AS (SELECT user_id, event_id, arr, CAST(len(arr) AS BIGINT) AS n_window,
        CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2] * 100
          ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) * 50 END AS med_e4
      FROM a),
    d AS (SELECT user_id, event_id, n_window, med_e4,
        list_sort(list_transform(arr, x -> abs(x * 100 - med_e4))) AS devs
      FROM m)
    SELECT user_id, event_id, n_window, med_e4,
      CASE WHEN n_window % 2 = 1 THEN devs[(n_window + 1) // 2]
        ELSE (devs[n_window // 2] + devs[n_window // 2 + 1]) // 2 END AS mad_e4
    FROM d ORDER BY user_id, event_id"""))

  /** CUSUM change-point detection per user, in PURE INTEGER fixed point:
    * cumulative sum of (value − series mean) in ten-thousandths along
    * event order; the change point is the event where |CUSUM| peaks
    * (Page 1954 — the standard offline CUSUM estimate). Integer mean
    * via floor division, integer prefix sums, deterministic tie-break —
    * nothing can diverge cross-engine. Shape: one per-user aggregate
    * (mean) joined back + two per-user windows (prefix sum, argmax);
    * one shuffle on user_id.
    */
  val tsChangePoints: Q = Q("ts_change_points", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val m = e.groupBy("user_id")
      .agg(count(lit(1)).as("n"), expr("sum(cents) * 100 DIV count(1)").as("mean_e4"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val cs = e.join(m, "user_id")
      .withColumn("dev_e4", expr("cents * 100 - mean_e4"))
      .withColumn("cusum_e4", sum("dev_e4").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rankW = Window.partitionBy("user_id")
      .orderBy(abs(col("cusum_e4")).desc, col("event_id").asc)
    cs.withColumn("rn", row_number().over(rankW)).filter(col("rn") === 1)
      .select(col("user_id"), col("n"), col("event_id").as("cp_event_id"),
        col("cusum_e4").as("peak_cusum_e4"))
      .orderBy("user_id")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    m AS (SELECT user_id, count(*)::BIGINT AS n,
        sum(cents) * 100 // count(*) AS mean_e4
      FROM e GROUP BY user_id),
    cs AS (SELECT e.user_id, e.event_id, m.n,
        sum(e.cents * 100 - m.mean_e4) OVER (PARTITION BY e.user_id
          ORDER BY e.ts_us, e.event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_e4
      FROM e JOIN m USING (user_id)),
    r AS (SELECT user_id, n, event_id, cusum_e4,
        row_number() OVER (PARTITION BY user_id
          ORDER BY abs(cusum_e4) DESC, event_id ASC) AS rn
      FROM cs)
    SELECT user_id, n, event_id AS cp_event_id,
      CAST(cusum_e4 AS BIGINT) AS peak_cusum_e4
    FROM r WHERE rn = 1 ORDER BY user_id"""))

  /** Autocorrelation of each event type's hourly mean series at lags
    * 1–3, in PURE INTEGER basis points: hourly mean cents by floor
    * division, integer deviations from the (floored) series mean, and
    * r_k = 10000·Σ(d_i·d_{i+k}) ⁄ Σd_i² by integer truncating division —
    * both engines truncate toward zero, so negative correlations are
    * exact too. The seasonality screen run before committing to a
    * seasonal model ([[tsSeasonalProfile]]); lag pairs come from three
    * lead() scans on ONE per-type window, then a per-type partial-agg —
    * two shuffles total, output is one row per series.
    */
  val tsAutocorr: Q = Q("ts_autocorr", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val hourly = e.groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val m = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), expr("sum(c) DIV count(1)").as("mean_c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val d = hourly.join(m, "event_type")
      .withColumn("dev", col("c") - col("mean_c"))
      .withColumn("d1", lead("dev", 1).over(w))
      .withColumn("d2", lead("dev", 2).over(w))
      .withColumn("d3", lead("dev", 3).over(w))
    d.groupBy("event_type")
      .agg(max("n_hours").as("n_hours"),
        expr("10000 * sum(dev * d1) DIV nullif(sum(dev * dev), 0)").as("acf1_bp"),
        expr("10000 * sum(dev * d2) DIV nullif(sum(dev * dev), 0)").as("acf2_bp"),
        expr("10000 * sum(dev * d3) DIV nullif(sum(dev * dev), 0)").as("acf3_bp"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, sum(cents) // count(*) AS c
      FROM e GROUP BY event_type, h),
    m AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        sum(c) // count(*) AS mean_c
      FROM hd GROUP BY event_type),
    d AS (SELECT hd.event_type, m.n_hours, hd.c - m.mean_c AS dev,
        lead(hd.c - m.mean_c, 1) OVER w AS d1,
        lead(hd.c - m.mean_c, 2) OVER w AS d2,
        lead(hd.c - m.mean_c, 3) OVER w AS d3
      FROM hd JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY hd.event_type ORDER BY hd.h))
    SELECT event_type, max(n_hours) AS n_hours,
      CAST(10000 * sum(dev * d1) // nullif(sum(dev * dev), 0) AS BIGINT) AS acf1_bp,
      CAST(10000 * sum(dev * d2) // nullif(sum(dev * dev), 0) AS BIGINT) AS acf2_bp,
      CAST(10000 * sum(dev * d3) // nullif(sum(dev * dev), 0) AS BIGINT) AS acf3_bp
    FROM d GROUP BY event_type ORDER BY event_type"""))

  /** Rolling least-squares TREND per user: the OLS slope of cent values
    * against event index over a trailing 12-point frame, in PURE INTEGER
    * fixed point — slope_e4 = 10⁴·(w·Σxy − Σx·Σy) ⁄ (w·Σx² − (Σx)²)
    * with x = the per-user row number, every term an exact bigint window
    * sum, one truncating division at the end (both engines truncate).
    * The local-trend detector behind "is this series ramping" alerts —
    * [[tsEwma]] smooths level, this measures direction. One shuffle on
    * user_id; five window sums share a single sort.
    */
  val tsRollingSlope: Q = Q("ts_rolling_slope", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val frame = ord.rowsBetween(-11, Window.currentRow)
    Tables.events(s, dir).filter(col("user_id") < 50)
      .withColumn("y", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("x", row_number().over(ord).cast("bigint"))
      .withColumn("w", count(lit(1)).over(frame))
      .withColumn("sx", sum("x").over(frame))
      .withColumn("sy", sum("y").over(frame))
      .withColumn("sxy", sum(expr("x * y")).over(frame))
      .withColumn("sxx", sum(expr("x * x")).over(frame))
      .select(col("user_id"), col("event_id"), col("w").as("n_window"),
        expr("10000 * (w * sxy - sx * sy) DIV nullif(w * sxx - sx * sx, 0)")
          .as("slope_e4"))
      .orderBy("user_id", "event_id")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS y
      FROM events WHERE user_id < 50),
    x AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        ORDER BY ts_us, event_id) AS BIGINT) AS x FROM e),
    f AS (SELECT user_id, event_id,
        count(*) OVER fr AS w, sum(x) OVER fr AS sx, sum(y) OVER fr AS sy,
        sum(x * y) OVER fr AS sxy, sum(x * x) OVER fr AS sxx
      FROM x
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us, event_id
        ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, w::BIGINT AS n_window,
      CAST(10000 * (w * sxy - sx * sy) // nullif(w * sxx - sx * sx, 0) AS BIGINT) AS slope_e4
    FROM f ORDER BY user_id, event_id"""))

  /** Holt double-exponential smoothing (level + trend) per user, in PURE
    * INTEGER basis-point arithmetic over cent values: l_t = (α·y_t +
    * (1−α)·(l+b)) ÷ 10⁴, b_t = (β·(l_t−l) + (1−β)·b) ÷ 10⁴ with α=0.3,
    * β=0.1, seeded l₁=y₁, b₁=0 — plus the 3-step-ahead forecast l+3b
    * (the capacity-planning output). The recurrence is ORDER-DEPENDENT,
    * so it runs as a sorted sequential fold — both engines fold the
    * IDENTICAL packed-bigint step ([[graft.ops.Series.holtStepSql]]:
    * (l, b) offset-packed into one bigint, because DuckDB 1.0
    * miscompiles struct accumulators in list_reduce) in the identical
    * order. One shuffle; linear fold per series inside the aggregate.
    */
  val tsHoltForecast: Q = Q("ts_holt_forecast", (s, dir) => {
    val step = graft.ops.Series.holtStepSql("DIV", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("DIV", "fin")
    Tables.events(s, dir)
      .withColumn("y", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_points"),
        expr("""transform(array_sort(collect_list(struct(ts_us, event_id, y))),
            s -> s.y)""").as("ys"))
      // loud domain gate on the packed-fold input (ADVICE r3): values
      // outside the encodable cents box raise instead of mis-packing
      .withColumn("ys", expr(graft.ops.Series.holtGuardSql("ys")))
      .withColumn("fin", expr(
        s"aggregate(slice(ys, 2, size(ys) - 1), element_at(ys, 1), (acc, x) -> $step)"))
      .select(col("user_id"), col("n_points"),
        expr(dl).as("level_c"), expr(db).as("trend_c"),
        expr(s"$dl + 3 * $db").as("fc3_c"))
      .orderBy("user_id")
  }, Some {
    val step = graft.ops.Series.holtStepSql("//", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("//", "fin")
    s"""WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        CAST(round(value * 100) AS BIGINT) AS y
      FROM events),
    g AS (SELECT user_id, count(*)::BIGINT AS n_points,
        list(y ORDER BY ts_us, event_id) AS ys
      FROM e GROUP BY user_id),
    f AS (SELECT user_id, n_points,
        list_reduce(ys, (acc, x) -> $step) AS fin
      FROM g)
    SELECT user_id, n_points, $dl AS level_c, $db AS trend_c,
      $dl + 3 * $db AS fc3_c
    FROM f ORDER BY user_id"""
  })

  /** STL-style decomposition of each event type's hourly series into
    * trend + seasonal + residual, all in EXACT integer cents: trend is a
    * centered ±12-row rolling mean (integer floor), the seasonal
    * component is the hour-of-day mean of the DETRENDED series, and the
    * residual closes the identity y = trend + seasonal + resid + ε with
    * ε absorbed into resid — the decomposition a monitoring stack plots
    * and alerts on (Cleveland et al.'s STL, JOS 1990, loess swapped for
    * integer rolling means to stay bit-exact cross-engine). Shape: one
    * hour-grid partial agg, one per-type window, one 24-row-per-type
    * seasonal agg joined back broadcast-style.
    */
  val tsStlDecompose: Q = Q("ts_stl_decompose", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("y"))
    val wt = Window.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    val withTrend = hourly
      .withColumn("tsum", sum("y").over(wt))
      .withColumn("tcnt", count(lit(1)).over(wt))
      .withColumn("trend", expr("tsum DIV tcnt"))
      .withColumn("det", col("y") - col("trend"))
      .withColumn("hod", expr("h % 24"))
    val seasonal = withTrend.groupBy("event_type", "hod")
      .agg(expr("sum(det) DIV count(1)").as("seasonal"))
    withTrend.join(seasonal, Seq("event_type", "hod"))
      .select(col("event_type"), col("h"), col("y"), col("trend"),
        col("seasonal"), (col("det") - col("seasonal")).as("resid"))
      .orderBy("event_type", "h")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS y
      FROM e GROUP BY event_type, h),
    t AS (SELECT event_type, h, y,
        CAST(sum(y) OVER w // count(*) OVER w AS BIGINT) AS trend
      FROM hd
      WINDOW w AS (PARTITION BY event_type ORDER BY h
        ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    d AS (SELECT *, y - trend AS det, h % 24 AS hod FROM t),
    se AS (SELECT event_type, hod, CAST(sum(det) // count(*) AS BIGINT) AS seasonal
      FROM d GROUP BY event_type, hod)
    SELECT d.event_type, d.h, d.y, d.trend, se.seasonal,
      d.det - se.seasonal AS resid
    FROM d JOIN se USING (event_type, hod)
    ORDER BY event_type, h"""))

  /** Seasonal-residual anomaly detection — the composition every
    * production anomaly system runs (decompose, THEN threshold the
    * residual): the [[tsStlDecompose]] integer pipeline strips trend
    * and hour-of-day seasonality, and hours whose residual robust-z
    * clears 3σ are flagged — so a spike at 3am fires even when its raw
    * value is ordinary, and the daily rush never fires. Exactness: the
    * residual median and MAD are DISCRETE rank-based medians
    * (row_number = (n+1) DIV 2 over the per-series order — the
    * q_funnel_latency discipline, no data-sized collect), and the 3σ
    * gate is the integer cross-multiplication dev·10⁴ &gt; 44478·MAD
    * (1.4826·3 e4-scaled), so no float ever appears. Scale: two
    * rank-median windows per series plus broadcast-sized stat joins —
    * all partitioned on the series key.
    */
  val tsStlAnomaly: Q = Q("ts_stl_anomaly", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("y"))
    val wt = Window.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    val withTrend = hourly
      .withColumn("trend", expr("sum(y) OVER (PARTITION BY event_type ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) DIV count(1) OVER (PARTITION BY event_type ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)"))
      .withColumn("det", col("y") - col("trend"))
      .withColumn("hod", expr("h % 24"))
    val seasonal = withTrend.groupBy("event_type", "hod")
      .agg(expr("sum(det) DIV count(1)").as("seasonal"))
    val d = withTrend.join(seasonal, Seq("event_type", "hod"))
      .withColumn("resid", col("det") - col("seasonal"))
    val wMed = Window.partitionBy("event_type").orderBy("resid", "h")
    val wAll = Window.partitionBy("event_type")
    val med = d.withColumn("rn", row_number().over(wMed))
      .withColumn("nn", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(nn + 1) DIV 2"))
      .select(col("event_type"), col("resid").as("med"))
    val dv = d.join(med, "event_type").withColumn("dev", abs(col("resid") - col("med")))
    val wDev = Window.partitionBy("event_type").orderBy("dev", "h")
    val mad = dv.withColumn("rn", row_number().over(wDev))
      .withColumn("nn", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(nn + 1) DIV 2"))
      .select(col("event_type"), col("dev").as("mad"))
    dv.join(mad, "event_type")
      .filter(col("mad") > 0 && expr("dev * 10000 > 44478 * mad"))
      .select(col("event_type"), col("h"), col("y"), col("resid"),
        col("med"), col("mad"))
      .orderBy("event_type", "h")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS y
      FROM e GROUP BY event_type, h),
    t AS (SELECT event_type, h, y,
        CAST(sum(y) OVER w // count(*) OVER w AS BIGINT) AS trend
      FROM hd
      WINDOW w AS (PARTITION BY event_type ORDER BY h
        ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    d0 AS (SELECT *, y - trend AS det, h % 24 AS hod FROM t),
    se AS (SELECT event_type, hod, CAST(sum(det) // count(*) AS BIGINT) AS seasonal
      FROM d0 GROUP BY event_type, hod),
    d AS (SELECT d0.event_type, d0.h, d0.y, d0.det - se.seasonal AS resid
      FROM d0 JOIN se USING (event_type, hod)),
    med AS (SELECT event_type, resid AS med FROM (
        SELECT event_type, resid,
          row_number() OVER (PARTITION BY event_type ORDER BY resid, h) AS rn,
          count(*) OVER (PARTITION BY event_type) AS nn
        FROM d) WHERE rn = (nn + 1) // 2),
    dv AS (SELECT d.event_type, d.h, d.y, d.resid, med.med,
        abs(d.resid - med.med) AS dev
      FROM d JOIN med USING (event_type)),
    mad AS (SELECT event_type, dev AS mad FROM (
        SELECT event_type, dev,
          row_number() OVER (PARTITION BY event_type ORDER BY dev, h) AS rn,
          count(*) OVER (PARTITION BY event_type) AS nn
        FROM dv) WHERE rn = (nn + 1) // 2)
    SELECT dv.event_type, dv.h, dv.y, dv.resid, dv.med, mad.mad
    FROM dv JOIN mad USING (event_type)
    WHERE mad.mad > 0 AND dv.dev * 10000 > 44478 * mad.mad
    ORDER BY dv.event_type, dv.h"""))

  /** Flink/KSQL HOP-window semantics — overlapping 6-hour windows
    * advancing every 2 hours, the standing-aggregation surface the
    * tumbling/session queries did not cover: each event contributes to
    * exactly the 3 window starts that contain it (window-start
    * expansion by a bounded explode — the scale-correct TVF lowering,
    * 3× fan-out then map-side-combinable aggregation; no range join).
    * Edge windows are partial, as HOP defines them. All integer.
    */
  val qHoppingWindow: Q = Q("q_hopping_window", (s, dir) => {
    Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("hh", expr("ts_us DIV 3600000000"))
      .withColumn("s0", expr("(hh DIV 2) * 2"))
      .select(col("event_type"), col("cents"), col("user_id"),
        explode(expr("sequence(s0 - 4, s0, 2)")).as("wstart"))
      .groupBy("wstart")
      .agg(count(lit(1)).as("n_events"),
        sum("cents").as("sum_c"),
        countDistinct("user_id").as("n_users"))
      .orderBy("wstart")
  }, Some("""WITH e AS (
      SELECT event_type, user_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        (epoch_us(ts) // 3600000000 // 2) * 2 AS s0
      FROM events),
    x AS (SELECT event_type, user_id, cents,
        unnest(range(s0 - 4, s0 + 2, 2)) AS wstart
      FROM e)
    SELECT wstart, count(*)::BIGINT AS n_events,
      sum(cents)::BIGINT AS sum_c,
      count(DISTINCT user_id)::BIGINT AS n_users
    FROM x GROUP BY wstart ORDER BY wstart"""))

  /** OHLC (candlestick) downsampling: per (event type, hour) the opening
    * value (first by event time), closing value (last), high, low, and
    * volume — the lossless-enough series reduction every dashboard and
    * every market-data pipeline ships instead of raw points. First/last
    * are picked by deterministic row_number over (ts, event_id) (min_by/
    * arg_min tie rules differ across engines; a total-order window does
    * not); one shuffle on the (type, hour) grid, conditional aggregates
    * on top, all integer cents.
    */
  val tsOhlc: Q = Q("ts_ohlc", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("h", expr("ts_us DIV 3600000000"))
    val w = Window.partitionBy("event_type", "h").orderBy("ts_us", "event_id")
    val wd = Window.partitionBy("event_type", "h")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(w))
      .withColumn("rn_d", row_number().over(wd))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("n"),
        max(when(col("rn_a") === 1, col("cents"))).as("open_c"),
        max(when(col("rn_d") === 1, col("cents"))).as("close_c"),
        max("cents").as("high_c"), min("cents").as("low_c"))
      .orderBy("event_type", "h")
  }, Some("""WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    r AS (SELECT *,
        row_number() OVER (PARTITION BY event_type, h
          ORDER BY ts_us, event_id) AS rn_a,
        row_number() OVER (PARTITION BY event_type, h
          ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM e)
    SELECT event_type, h, count(*)::BIGINT AS n,
      max(CASE WHEN rn_a = 1 THEN cents END) AS open_c,
      max(CASE WHEN rn_d = 1 THEN cents END) AS close_c,
      max(cents) AS high_c, min(cents) AS low_c
    FROM r GROUP BY event_type, h
    ORDER BY event_type, h"""))

  /** Detector-ensemble agreement report: the classical z-score detector
    * (q_zscore_anomaly — mean/σ over a trailing window) vs the robust
    * MAD detector (ts_mad_anomaly) on the same events, rolled up per
    * event type as flag counts, intersection, union, and Jaccard overlap
    * in integer basis points — the calibration readout that decides
    * whether an ensemble vote is worth its cost. Composes the two
    * REGISTERED queries (same Spark plans, same oracle subqueries), so
    * the report can never drift from the detectors it grades; one
    * full-outer join on event_id + one tiny rollup. (Sits after the
    * detector vals it interpolates — object-body init order.)
    */
  val tsAnomalyAgreement: Q = Q("ts_anomaly_agreement", (s, dir) => {
    val z = Analytics.qZscoreAnomaly.fn(s, dir)
      .select(col("event_id").as("zid"), col("event_type").as("ztype"))
    val m = tsMadAnomaly.fn(s, dir)
      .select(col("event_id").as("mid"), col("event_type").as("mtype"))
    z.join(m, col("zid") === col("mid"), "full_outer")
      .select(coalesce(col("ztype"), col("mtype")).as("event_type"),
        col("zid"), col("mid"))
      .groupBy("event_type")
      .agg(count(col("zid")).as("n_z"), count(col("mid")).as("n_mad"),
        sum(when(col("zid").isNotNull && col("mid").isNotNull, 1L).otherwise(0L))
          .as("n_both"),
        count(lit(1)).as("n_union"))
      .withColumn("overlap_bp", expr("n_both * 10000 DIV n_union"))
      .orderBy("event_type")
  }, Some(s"""WITH z AS (${Analytics.qZscoreAnomaly.oracle.get}),
    m AS (${tsMadAnomaly.oracle.get}),
    j AS (SELECT coalesce(z.event_type, m.event_type) AS event_type,
        z.event_id AS zid, m.event_id AS mid
      FROM z FULL OUTER JOIN m ON z.event_id = m.event_id)
    SELECT event_type, count(zid)::BIGINT AS n_z, count(mid)::BIGINT AS n_mad,
      sum(CASE WHEN zid IS NOT NULL AND mid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        AS n_both,
      count(*)::BIGINT AS n_union,
      sum(CASE WHEN zid IS NOT NULL AND mid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        * 10000 // count(*) AS overlap_bp
    FROM j GROUP BY event_type ORDER BY event_type"""))

  /** HOLT-WINTERS-style additive seasonal forecast (Winters, "
    * Forecasting sales by exponentially weighted moving averages",
    * Mgmt. Sci. 6, 1960 — public), made bit-exact cross-engine by
    * DECOMPOSING the seasonal state out of the fold: the classic triple
    * smoother carries (level, trend, seasonal[p]) — p+2 values, which
    * no offset-packed bigint can hold (the DuckDB list_reduce struct
    * bug rules struct accumulators out). Instead: (1) a FIXED additive
    * seasonal grid per (series, hour-of-day) — grid mean minus series
    * grand mean, exact integer cents (the ts_stl_decompose seasonal
    * shape); (2) the series deseasonalized per hour (broadcast 24-row
    * join); (3) the EXISTING packed Holt fold over the deseasonalized
    * values ([[graft.ops.Series.holtStepSql]], domain-guarded); (4) the
    * 3-hour-ahead forecast re-seasonalized with the target hour's grid
    * cell. Fixed seasonal indices + smoothed level/trend is the
    * standard "seasonal-adjustment + Holt" decomposition — the same
    * accuracy class as full HW when seasonality is stable, and exactly
    * reproducible.
    *
    * Shape: hour-grid partial agg, two broadcast-sized seasonal joins,
    * one per-series collect bounded by the hour count, per-row fold.
    */
  val tsHoltWinters: Q = Q("ts_holt_winters", (s, dir) => {
    val step = graft.ops.Series.holtStepSql("DIV", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("DIV", "fin")
    val hb = Tables.events(s, dir)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "h")
      .agg(expr("sum(cents) DIV count(1)").as("m"))
    val grand = hb.groupBy("event_type").agg(expr("sum(m) DIV count(1)").as("g"))
    val seas = hb.withColumn("hod", expr("h % 24"))
      .groupBy("event_type", "hod").agg(expr("sum(m) DIV count(1)").as("sh"))
      .join(grand, "event_type")
      .select(col("event_type"), col("hod"), expr("sh - g").as("sidx"))
    val d = hb.withColumn("hod", expr("h % 24"))
      .join(broadcast(seas), Seq("event_type", "hod"))
      .select(col("event_type"), col("h"), expr("m - sidx").as("d"))
    val ser = d.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), max("h").as("hlast"),
        expr("transform(array_sort(collect_list(struct(h, d))), s -> s.d)").as("ds"))
      .withColumn("ds", expr(graft.ops.Series.holtGuardSql("ds")))
      .withColumn("fin", expr(
        s"aggregate(slice(ds, 2, size(ds) - 1), element_at(ds, 1), (acc, x) -> $step)"))
      .withColumn("thod", expr("(hlast + 3) % 24"))
    ser.join(broadcast(seas), ser("event_type") === seas("event_type") &&
        ser("thod") === seas("hod"))
      .select(ser("event_type"), col("n_hours"),
        expr(dl).as("level_c"), expr(db).as("trend_c"), col("sidx").as("season_c"),
        expr(s"$dl + 3 * $db + sidx").as("fc3_c"))
      .orderBy("event_type")
  }, Some {
    val step = graft.ops.Series.holtStepSql("//", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("//", "fin")
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value*100) AS BIGINT) AS cents
      FROM events),
    hb AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS m
      FROM e GROUP BY 1, 2),
    gr AS (SELECT event_type, CAST(sum(m) // count(*) AS BIGINT) AS g
      FROM hb GROUP BY 1),
    se AS (SELECT hb.event_type, h % 24 AS hod,
        CAST(sum(m) // count(*) AS BIGINT) - any_value(g) AS sidx
      FROM hb JOIN gr ON gr.event_type = hb.event_type
      GROUP BY 1, 2),
    d AS (SELECT hb.event_type, h, m - sidx AS d
      FROM hb JOIN se ON se.event_type = hb.event_type AND se.hod = h % 24),
    g2 AS (SELECT event_type, count(*)::BIGINT AS n_hours, max(h) AS hlast,
        list(d ORDER BY h) AS ds
      FROM d GROUP BY 1),
    f AS (SELECT event_type, n_hours, hlast,
        list_reduce(ds, (acc, x) -> $step) AS fin
      FROM g2)
    SELECT f.event_type, n_hours, $dl AS level_c, $db AS trend_c,
      se.sidx AS season_c, $dl + 3 * $db + se.sidx AS fc3_c
    FROM f JOIN se ON se.event_type = f.event_type
      AND se.hod = (hlast + 3) % 24
    ORDER BY f.event_type"""
  })

  /** MULTIPLICATIVE Holt-Winters twin of [[tsHoltWinters]] (Winters
    * 1960 §4 — ratio seasonals; the variant for series whose seasonal
    * swing scales with the level). Same decomposition discipline, but
    * the seasonal index is a RATIO in basis points — sidx_bp =
    * (hour-of-day mean · 10⁴) DIV grand mean — the series is
    * deseasonalized by d = (m · 10⁴) DIV sidx_bp, Holt-folded with the
    * packed-bigint step, and the 3-hour forecast re-seasonalized by
    * fc3 = ((level + 3·trend) · sidx_bp) DIV 10⁴. Every step is bigint
    * multiply / truncating divide, so both engines agree bit-for-bit
    * (DIV ≡ // toward zero, negatives included).
    *
    * Domain gates, both LOUD: multiplicative seasonality needs strictly
    * positive data, so sidx_bp outside [1000, 100000] (ratio outside
    * [0.1, 10]) raises — and with sidx_bp ≥ 1000, d ≤ 10·m, re-checked
    * against the packed-fold box by the standard [[graft.ops.Series
    * .holtGuardSql]]. Shape: identical to the additive twin — hour-grid
    * partial agg, broadcast seasonal joins, bounded per-series fold.
    */
  val tsHoltWintersMul: Q = Q("ts_holt_winters_mul", (s, dir) => {
    val step = graft.ops.Series.holtStepSql("DIV", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("DIV", "fin")
    val hb = Tables.events(s, dir)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "h")
      .agg(expr("sum(cents) DIV count(1)").as("m"))
    val grand = hb.groupBy("event_type").agg(expr("sum(m) DIV count(1)").as("g"))
    val seas = hb.withColumn("hod", expr("h % 24"))
      .groupBy("event_type", "hod").agg(expr("sum(m) DIV count(1)").as("sh"))
      .join(grand, "event_type")
      .select(col("event_type"), col("hod"), expr("""CASE
          WHEN (sh * 10000) DIV g BETWEEN 1000 AND 100000 THEN (sh * 10000) DIV g
          ELSE CAST(raise_error(concat('ts_holt_winters_mul: seasonal ratio ',
            CAST((sh * 10000) DIV g AS STRING),
            'bp outside [0.1x, 10x] - multiplicative seasonality needs it')) AS BIGINT)
        END""").as("sidx_bp"))
    val d = hb.withColumn("hod", expr("h % 24"))
      .join(broadcast(seas), Seq("event_type", "hod"))
      .select(col("event_type"), col("h"), expr("(m * 10000) DIV sidx_bp").as("d"))
    val ser = d.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), max("h").as("hlast"),
        expr("transform(array_sort(collect_list(struct(h, d))), s -> s.d)").as("ds"))
      .withColumn("ds", expr(graft.ops.Series.holtGuardSql("ds")))
      .withColumn("fin", expr(
        s"aggregate(slice(ds, 2, size(ds) - 1), element_at(ds, 1), (acc, x) -> $step)"))
      .withColumn("thod", expr("(hlast + 3) % 24"))
    ser.join(broadcast(seas), ser("event_type") === seas("event_type") &&
        ser("thod") === seas("hod"))
      .select(ser("event_type"), col("n_hours"),
        expr(dl).as("level_c"), expr(db).as("trend_c"),
        col("sidx_bp").as("season_bp"),
        expr(s"(($dl + 3 * $db) * sidx_bp) DIV 10000").as("fc3_c"))
      .orderBy("event_type")
  }, Some {
    val step = graft.ops.Series.holtStepSql("//", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("//", "fin")
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value*100) AS BIGINT) AS cents
      FROM events),
    hb AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS m
      FROM e GROUP BY 1, 2),
    gr AS (SELECT event_type, CAST(sum(m) // count(*) AS BIGINT) AS g
      FROM hb GROUP BY 1),
    se AS (SELECT hb.event_type, h % 24 AS hod,
        (CAST(sum(m) // count(*) AS BIGINT) * 10000) // any_value(g) AS sidx_bp
      FROM hb JOIN gr ON gr.event_type = hb.event_type
      GROUP BY 1, 2),
    d AS (SELECT hb.event_type, h, (m * 10000) // sidx_bp AS d
      FROM hb JOIN se ON se.event_type = hb.event_type AND se.hod = h % 24),
    g2 AS (SELECT event_type, count(*)::BIGINT AS n_hours, max(h) AS hlast,
        list(d ORDER BY h) AS ds
      FROM d GROUP BY 1),
    f AS (SELECT event_type, n_hours, hlast,
        list_reduce(ds, (acc, x) -> $step) AS fin
      FROM g2)
    SELECT f.event_type, n_hours, $dl AS level_c, $db AS trend_c,
      se.sidx_bp AS season_bp,
      (($dl + 3 * $db) * se.sidx_bp) // 10000 AS fc3_c
    FROM f JOIN se ON se.event_type = f.event_type
      AND se.hod = (hlast + 3) % 24
    ORDER BY f.event_type"""
  })

  /** Page's SEQUENTIAL CUSUM alarm (Page, "Continuous inspection
    * schemes", Biometrika 41, 1954 — public; the SPC drift monitor):
    * per event-type hourly mean series, two one-sided CLAMPED sums
    * S⁺ᵢ = max(0, S⁺ᵢ₋₁ + xᵢ − μ − k) and S⁻ᵢ = max(0, S⁻ᵢ₋₁ + μ − k − xᵢ)
    * alarm when they exceed H — the ALERTING complement to
    * `ts_change_points` (which localizes the single best split offline
    * via the unclamped cusum peak). All arithmetic EXACT integers:
    * means in truncated cents, slack k = max(1, mad ⁄ 2) and threshold
    * H = 5·mad from the integer mean absolute deviation — the σ-free
    * noise scale, so the alarm density self-tunes per series (~5% of
    * hours on this data, not 0% or 90%).
    *
    * Cross-engine fold: the per-hour (S⁺, S⁻) trajectory is a
    * non-linear clamped prefix fold — Spark carries it in a struct
    * aggregate; the oracle packs both sides into ONE offset-encoded
    * bigint (S⁺ + S⁻·2³⁰ — the warehouse_clamped_balance recipe; DuckDB
    * list_reduce miscompiles struct accumulators) with a quadratic
    * prefix fold per hour. Shape: one hourly partial agg, one per-series
    * collect (bounded by the hour count, never event count), per-row
    * array fold, explode.
    */
  val tsCusumAlarm: Q = Q("ts_cusum_alarm", (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val hb = e.groupBy("event_type", "h")
      .agg(expr("sum(cents) DIV count(1)").as("m"))
    // per-series scalars through REAL aggregation boundaries: computing
    // mu/mad as array folds over the collected series lets Catalyst
    // inline them into every step of the big fold below (CollapseProject
    // re-evaluates the O(n) aggregate per element — O(n³) interpreted,
    // minutes at 680 hours). As agg attributes behind a broadcast join
    // each fold step reads them O(1).
    val muDf = hb.groupBy("event_type").agg(expr("sum(m) DIV count(1)").as("mu"))
    val stats = hb.join(muDf, "event_type").groupBy("event_type", "mu")
      .agg(expr("greatest(1L, sum(abs(m - mu)) DIV count(1))").as("mad"))
      .withColumn("k", expr("greatest(1L, mad DIV 2)"))
      .withColumn("hh", expr("5 * mad"))
    hb.groupBy("event_type")
      .agg(expr("array_sort(collect_list(struct(h, m)))").as("pts"))
      .join(broadcast(stats), "event_type")
      .withColumn("tr", expr("""
        aggregate(pts,
          named_struct('rows',
            array_repeat(named_struct('h', 0L, 'm', 0L, 'sh', 0L, 'sl', 0L), 0),
            'sh', 0L, 'sl', 0L),
          (acc, p) -> named_struct(
            'rows', array_append(acc.rows, named_struct('h', p.h, 'm', p.m,
              'sh', greatest(0L, acc.sh + p.m - mu - k),
              'sl', greatest(0L, acc.sl + mu - k - p.m))),
            'sh', greatest(0L, acc.sh + p.m - mu - k),
            'sl', greatest(0L, acc.sl + mu - k - p.m)),
          acc -> acc.rows)"""))
      .select(col("event_type"), col("hh"), posexplode(col("tr")).as(Seq("_i", "r")))
      .select(col("event_type"), col("r.h").as("h"), col("r.m").as("mean_cents"),
        col("r.sh").as("cusum_hi"), col("r.sl").as("cusum_lo"),
        (col("r.sh") > col("hh")).as("alarm_hi"),
        (col("r.sl") > col("hh")).as("alarm_lo"))
      .orderBy("event_type", "h")
  }, Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value*100) AS BIGINT) AS cents
      FROM events),
    hb AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS m
      FROM e GROUP BY 1, 2),
    s AS (SELECT event_type, list(m ORDER BY h) AS ms, list(h ORDER BY h) AS hs
      FROM hb GROUP BY 1),
    p AS (SELECT event_type, hs, ms,
        list_reduce(list_prepend(CAST(0 AS BIGINT), ms), (a, x) -> a + x) // len(ms) AS mu
      FROM s),
    p2 AS (SELECT *, greatest(CAST(1 AS BIGINT),
        list_reduce(list_prepend(CAST(0 AS BIGINT), ms),
          (a, x) -> a + abs(x - mu)) // len(ms)) AS mad
      FROM p),
    p3 AS (SELECT *, greatest(CAST(1 AS BIGINT), mad // 2) AS k, 5 * mad AS hh FROM p2),
    t AS (SELECT event_type, mu, k, hh, hs, ms,
        list_transform(range(1, len(ms)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), ms[1:i]), (acc, x) ->
            greatest(CAST(0 AS BIGINT), (acc % 1073741824) + x - mu - k)
            + greatest(CAST(0 AS BIGINT), (acc // 1073741824) + mu - k - x)
              * 1073741824)) AS st
      FROM p3),
    u AS (SELECT event_type, hh, unnest(hs) AS h, unnest(ms) AS m,
        unnest(st) AS sv FROM t)
    SELECT event_type, CAST(h AS BIGINT) AS h, m AS mean_cents,
      CAST(sv % 1073741824 AS BIGINT) AS cusum_hi,
      CAST(sv // 1073741824 AS BIGINT) AS cusum_lo,
      sv % 1073741824 > hh AS alarm_hi, sv // 1073741824 > hh AS alarm_lo
    FROM u ORDER BY event_type, h"""))

  /** Hourly completeness report — the "is the collector healthy"
    * audit every TSDB operator runs: per series (event type), the
    * expected hour grid (corpus min..max hour — a 1-row broadcast,
    * never data-sized), observed distinct hours, missing-hour count,
    * coverage in integer basis points, and the LONGEST outage run via
    * gaps-and-islands over the missing hours (h − row_number island
    * key, per-series window). Grid × series stays bounded by
    * time-range × cardinality — at 100 TB the grid explode is still
    * hours-sized, the one distinct pass over the data is the only
    * data-sized stage.
    */
  val tsCompleteness: Q = Q("ts_completeness", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
    val bounds = e.agg(min("h").as("h0"), max("h").as("h1"))
    val types = e.select("event_type").distinct()
    val grid = types.crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"),
        (col("h1") - col("h0") + 1).as("grid_n"))
    val obs = e.distinct()
    val missing = grid.join(obs, Seq("event_type", "h"), "left_anti")
    val w = Window.partitionBy("event_type").orderBy("h")
    val runs = missing
      .withColumn("isl", col("h") - row_number().over(w))
      .groupBy("event_type", "isl").agg(count(lit(1)).as("run_len"))
      .groupBy("event_type").agg(max("run_len").as("longest_gap_h"),
        sum("run_len").as("missing_n"))
    val observed = obs.groupBy("event_type").agg(count(lit(1)).as("observed_n"))
    types.crossJoin(broadcast(bounds))
      .select(col("event_type"), (col("h1") - col("h0") + 1).as("grid_n"))
      .join(observed, "event_type")
      .join(runs, Seq("event_type"), "left_outer")
      .na.fill(0L, Seq("missing_n", "longest_gap_h"))
      .select(col("event_type"), col("grid_n"), col("observed_n"),
        col("missing_n"), expr("10000 * observed_n DIV grid_n").as("coverage_bp"),
        col("longest_gap_h"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT DISTINCT event_type, epoch_us(ts) // 3600000000 AS h FROM events),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
    t AS (SELECT DISTINCT event_type FROM e),
    g AS (SELECT t.event_type, unnest(range(b.h0, b.h1 + 1)) AS h,
        b.h1 - b.h0 + 1 AS grid_n
      FROM t, b),
    m AS (SELECT g.event_type, g.h FROM g
      ANTI JOIN e ON e.event_type = g.event_type AND e.h = g.h),
    r AS (SELECT event_type,
        h - row_number() OVER (PARTITION BY event_type ORDER BY h) AS isl
      FROM m),
    rl AS (SELECT event_type, isl, count(*)::BIGINT AS run_len
      FROM r GROUP BY event_type, isl),
    rr AS (SELECT event_type, max(run_len) AS longest_gap_h,
        CAST(sum(run_len) AS BIGINT) AS missing_n
      FROM rl GROUP BY event_type),
    o AS (SELECT event_type, count(*)::BIGINT AS observed_n FROM e GROUP BY event_type),
    base AS (SELECT t.event_type, b.h1 - b.h0 + 1 AS grid_n FROM t, b)
    SELECT base.event_type, base.grid_n, o.observed_n,
      coalesce(rr.missing_n, 0) AS missing_n,
      CAST(10000 * o.observed_n // base.grid_n AS BIGINT) AS coverage_bp,
      coalesce(rr.longest_gap_h, 0) AS longest_gap_h
    FROM base
    JOIN o ON o.event_type = base.event_type
    LEFT JOIN rr ON rr.event_type = base.event_type
    ORDER BY base.event_type"""))

  /** Point-in-time (PIT) join against the SCD2 dimension — the
    * feature-store correctness primitive (no future leakage: each fact
    * row sees exactly the dimension version valid AT its timestamp,
    * Kimball type-2 semantics). Facts = every event of the tracked
    * users; dimension = the [[scd2Snapshot]] validity intervals,
    * COMPOSED from the registered query so the two can't drift. The
    * join is EQUI on the entity key with the validity range as a
    * post-join predicate — a keyed SortMergeJoin, never a nested loop
    * (dimension history per entity is bounded); at warehouse scale the
    * dimension side additionally prunes to entities present in the
    * fact batch. Output verifies every fact lands in EXACTLY one
    * interval (the n_matches guard column).
    */
  val scd2PitJoin: Q = Q("scd2_pit_join", (s, dir) => {
    val dim = scd2Snapshot.fn(s, dir)
      .select(col("user_id").as("d_uid"), col("state"),
        col("valid_from_us"), col("valid_to_us"))
    val facts = Tables.events(s, dir).filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
    facts.join(dim,
        col("user_id") === col("d_uid") &&
        col("valid_from_us") <= col("ts_us") &&
        (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")))
      .groupBy("user_id", "event_id", "ts_us")
      .agg(count(lit(1)).as("n_matches"),
        min("state").as("state_at"),
        min("valid_from_us").as("state_since_us"))
      .orderBy("user_id", "ts_us", "event_id")
  }, Some("""WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      FROM events WHERE user_id < 20),
    c AS (SELECT *,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      FROM e QUALIFY prev_type IS NULL OR prev_type <> event_type),
    iv AS (SELECT user_id, event_type AS state, ts_us AS valid_from_us,
        lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
      FROM c)
    SELECT e.user_id, e.event_id, e.ts_us,
      count(*)::BIGINT AS n_matches,
      min(iv.state) AS state_at,
      min(iv.valid_from_us) AS state_since_us
    FROM e JOIN iv ON iv.user_id = e.user_id
      AND iv.valid_from_us <= e.ts_us
      AND (iv.valid_to_us IS NULL OR e.ts_us < iv.valid_to_us)
    GROUP BY e.user_id, e.event_id, e.ts_us
    ORDER BY e.user_id, e.ts_us, e.event_id"""))

  /** Forecast backtest: hold out each user's LAST 3 points, fit the
    * packed-integer Holt fold ([[graft.ops.Series.holtStepSql]]) on the
    * prefix, forecast h=1..3 as level + h·trend, and grade against the
    * held-out actuals with the standard eval trio — all in exact
    * integer cents / basis points (Hyndman & Koehler, "Another look at
    * measures of forecast accuracy", IJF 2006 — public — for MASE):
    *   mae_c    = Σ|fc−act| DIV 3                  (cents)
    *   mase_bp  = 10⁴·Σ|fc−act| DIV Σ|naive−act|   (naive = last train value)
    *   smape_bp = (Σ_h 2·10⁴·|fc−act| DIV (|fc|+|act|)) DIV 3
    * Per-point integer division keeps sMAPE exact; MASE is NULL when
    * the naive error is 0 (flat holdout). One groupBy + per-row scalar
    * decode — the fold state is the same packed bigint the streaming
    * HoltProcessor carries, so this doubles as the batch grader for it.
    */
  val tsForecastEval: Q = Q("ts_forecast_eval", (s, dir) => {
    val step = graft.ops.Series.holtStepSql("DIV", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("DIV", "fin")
    Tables.events(s, dir)
      .withColumn("y", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_points"),
        expr("""transform(array_sort(collect_list(struct(ts_us, event_id, y))),
            s -> s.y)""").as("ys"))
      .filter(col("n_points") >= 6)
      .withColumn("ys", expr(graft.ops.Series.holtGuardSql("ys")))
      .withColumn("tr", expr("slice(ys, 1, CAST(size(ys) - 3 AS INT))"))
      .withColumn("fin", expr(
        s"aggregate(slice(tr, 2, size(tr) - 1), element_at(tr, 1), (acc, x) -> $step)"))
      .withColumn("lvl", expr(dl)).withColumn("tnd", expr(db))
      .withColumn("last_tr", expr("element_at(tr, -1)"))
      .withColumn("a1", expr("element_at(ys, CAST(size(ys) - 2 AS INT))"))
      .withColumn("a2", expr("element_at(ys, CAST(size(ys) - 1 AS INT))"))
      .withColumn("a3", expr("element_at(ys, CAST(size(ys) AS INT))"))
      .withColumn("e1", expr("abs(lvl + 1 * tnd - a1)"))
      .withColumn("e2", expr("abs(lvl + 2 * tnd - a2)"))
      .withColumn("e3", expr("abs(lvl + 3 * tnd - a3)"))
      .withColumn("n1", expr("abs(last_tr - a1)"))
      .withColumn("n2", expr("abs(last_tr - a2)"))
      .withColumn("n3", expr("abs(last_tr - a3)"))
      .withColumn("mae_c", expr("(e1 + e2 + e3) DIV 3"))
      .withColumn("mase_bp", expr(
        "CASE WHEN n1 + n2 + n3 > 0 THEN 10000 * (e1 + e2 + e3) DIV (n1 + n2 + n3) END"))
      .withColumn("smape_bp", expr(
        """(CASE WHEN abs(lvl + 1 * tnd) + abs(a1) > 0
             THEN 20000 * e1 DIV (abs(lvl + 1 * tnd) + abs(a1)) ELSE 0 END
          + CASE WHEN abs(lvl + 2 * tnd) + abs(a2) > 0
             THEN 20000 * e2 DIV (abs(lvl + 2 * tnd) + abs(a2)) ELSE 0 END
          + CASE WHEN abs(lvl + 3 * tnd) + abs(a3) > 0
             THEN 20000 * e3 DIV (abs(lvl + 3 * tnd) + abs(a3)) ELSE 0 END) DIV 3"""))
      .select("user_id", "n_points", "mae_c", "mase_bp", "smape_bp")
      .orderBy("user_id")
  }, Some {
    val step = graft.ops.Series.holtStepSql("//", "acc", "x")
    val (dl, db) = graft.ops.Series.holtDecodeSql("//", "fin")
    s"""WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        CAST(round(value * 100) AS BIGINT) AS y
      FROM events),
    g AS (SELECT user_id, count(*)::BIGINT AS n_points,
        list(y ORDER BY ts_us, event_id) AS ys
      FROM e GROUP BY user_id),
    q AS (SELECT user_id, n_points, ys,
        ys[1:CAST(n_points - 3 AS INT)] AS tr
      FROM g WHERE n_points >= 6),
    f AS (SELECT user_id, n_points, tr,
        ys[CAST(n_points - 2 AS INT)] AS a1,
        ys[CAST(n_points - 1 AS INT)] AS a2,
        ys[CAST(n_points AS INT)] AS a3,
        list_reduce(tr, (acc, x) -> $step) AS fin
      FROM q),
    d AS (SELECT user_id, n_points, a1, a2, a3, tr[-1] AS last_tr,
        $dl AS lvl, $db AS tnd
      FROM f),
    er AS (SELECT user_id, n_points, lvl, tnd, a1, a2, a3,
        abs(lvl + 1 * tnd - a1) AS e1, abs(lvl + 2 * tnd - a2) AS e2,
        abs(lvl + 3 * tnd - a3) AS e3,
        abs(last_tr - a1) AS n1, abs(last_tr - a2) AS n2,
        abs(last_tr - a3) AS n3
      FROM d)
    SELECT user_id, n_points,
      CAST((e1 + e2 + e3) // 3 AS BIGINT) AS mae_c,
      CAST(CASE WHEN n1 + n2 + n3 > 0
        THEN 10000 * (e1 + e2 + e3) // (n1 + n2 + n3) END AS BIGINT) AS mase_bp,
      CAST((CASE WHEN abs(lvl + 1 * tnd) + abs(a1) > 0
          THEN 20000 * e1 // (abs(lvl + 1 * tnd) + abs(a1)) ELSE 0 END
        + CASE WHEN abs(lvl + 2 * tnd) + abs(a2) > 0
          THEN 20000 * e2 // (abs(lvl + 2 * tnd) + abs(a2)) ELSE 0 END
        + CASE WHEN abs(lvl + 3 * tnd) + abs(a3) > 0
          THEN 20000 * e3 // (abs(lvl + 3 * tnd) + abs(a3)) ELSE 0 END) // 3 AS BIGINT) AS smape_bp
    FROM er ORDER BY user_id"""
  })

  /** SAX motif discovery (Lin/Keogh/Lonardi/Chiu DMKD'03 — public):
    * hourly means per series → PAA over 4-hour segments → alphabet-4
    * symbols → sliding 6-segment SAX words → repeated words (motifs).
    * Everything stays EXACT integer/rank arithmetic: PAA means are
    * fixed-point bigints (sum·100 DIV n), and instead of the Gaussian
    * breakpoints (which would need float z-normalization) symbols come
    * from per-series EMPIRICAL quartiles via `ntile(4)` over the total
    * order (paa, seg) — the adaptive-breakpoint SAX variant, rank-based
    * so cross-engine bit-exact. Words are built from `lead()` chains
    * (NULL past the series tail propagates through concat identically
    * in both engines). Scale: per-series windows and keyed aggregation
    * only — the word space is bounded (4^6) so the motif groupBy cannot
    * blow up; no self-join, no global window.
    */
  val tsSax: Q = Q("ts_sax", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val paa = hourly
      .groupBy(col("event_type"), expr("h DIV 4").as("g"))
      .agg(expr("sum(c) * 100 DIV count(1)").as("p"))
    val sym = paa.withColumn("sym", expr(
      "chr(96 + ntile(4) OVER (PARTITION BY event_type ORDER BY p, g))"))
    val ws = Window.partitionBy("event_type").orderBy("g")
    val word = sym.withColumn("word", concat(
      col("sym"), lead("sym", 1).over(ws), lead("sym", 2).over(ws),
      lead("sym", 3).over(ws), lead("sym", 4).over(ws), lead("sym", 5).over(ws)))
      .filter(col("word").isNotNull)
    word.groupBy("event_type", "word")
      .agg(count(lit(1)).as("n_occ"), min("g").as("first_seg"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("event_type"), col("n_occ").desc, col("word"))
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hr AS (SELECT event_type, h,
        CAST(sum(cents) AS BIGINT) // count(*) AS c
      FROM e GROUP BY event_type, h),
    paa AS (SELECT event_type, h // 4 AS g,
        CAST(sum(c) AS BIGINT) * 100 // count(*) AS p
      FROM hr GROUP BY event_type, h // 4),
    sym AS (SELECT event_type, g,
        chr(CAST(96 + ntile(4) OVER (PARTITION BY event_type ORDER BY p, g) AS INT)) AS sy
      FROM paa),
    wrd AS (SELECT event_type, g,
        sy || lead(sy, 1) OVER w || lead(sy, 2) OVER w || lead(sy, 3) OVER w
           || lead(sy, 4) OVER w || lead(sy, 5) OVER w AS word
      FROM sym WINDOW w AS (PARTITION BY event_type ORDER BY g))
    SELECT event_type, word, count(*)::BIGINT AS n_occ,
      min(g) AS first_seg
    FROM wrd WHERE word IS NOT NULL
    GROUP BY event_type, word HAVING count(*) >= 2
    ORDER BY event_type, n_occ DESC, word"""))

  /** Ordinal-pattern (permutation) analysis of each series — Bandt &
    * Pompe, "Permutation Entropy: A Natural Complexity Measure for Time
    * Series", PRL 88:174102 (2002, public), kept fully RANK-BASED so
    * nothing floats: every 3 consecutive hourly means map to one of the
    * 3! = 6 ordinal patterns (stable ties — equal values order by
    * position, the standard convention), and the per-series pattern
    * histogram comes out as exact counts + basis-point shares. The
    * entropy itself needs log(p) — instead the query reports the
    * integer sufficient statistics a monitor actually thresholds:
    * per-pattern share and the determinism score (dominant-pattern
    * share; 1667 bp ≈ white noise, 10000 = monotone). Scale: per-series
    * lead() windows + keyed aggs; the pattern space is 6.
    */
  val tsOrdinalPatterns: Q = Q("ts_ordinal_patterns", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val pat = hourly
      .withColumn("b", lead("c", 1).over(w))
      .withColumn("cc", lead("c", 2).over(w))
      .filter(col("cc").isNotNull)
      .withColumn("pattern", expr("""CASE
        WHEN c <= b AND b <= cc THEN '012'
        WHEN c <= cc AND cc < b THEN '021'
        WHEN b < c AND c <= cc THEN '102'
        WHEN b <= cc AND cc < c THEN '120'
        WHEN cc < c AND c <= b THEN '201'
        ELSE '210' END"""))
    val cnt = pat.groupBy("event_type", "pattern").agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("event_type").agg(sum("n").as("total"),
      max("n").as("dom_n"))
    cnt.join(tot, "event_type")
      .select(col("event_type"), col("pattern"), col("n"),
        expr("n * 10000 DIV total").as("share_bp"),
        expr("dom_n * 10000 DIV total").as("determinism_bp"))
      .orderBy("event_type", "pattern")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hr AS (SELECT event_type, h,
        CAST(sum(cents) AS BIGINT) // count(*) AS c
      FROM e GROUP BY event_type, h),
    tri AS (SELECT event_type, c,
        lead(c, 1) OVER w AS b, lead(c, 2) OVER w AS cc
      FROM hr WINDOW w AS (PARTITION BY event_type ORDER BY h)),
    pat AS (SELECT event_type, CASE
        WHEN c <= b AND b <= cc THEN '012'
        WHEN c <= cc AND cc < b THEN '021'
        WHEN b < c AND c <= cc THEN '102'
        WHEN b <= cc AND cc < c THEN '120'
        WHEN cc < c AND c <= b THEN '201'
        ELSE '210' END AS pattern
      FROM tri WHERE cc IS NOT NULL),
    cnt AS (SELECT event_type, pattern, count(*)::BIGINT AS n
      FROM pat GROUP BY event_type, pattern),
    tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
        max(n) AS dom_n
      FROM cnt GROUP BY event_type)
    SELECT cnt.event_type, pattern, n,
      n * 10000 // total AS share_bp,
      dom_n * 10000 // total AS determinism_bp
    FROM cnt JOIN tot ON tot.event_type = cnt.event_type
    ORDER BY cnt.event_type, pattern"""))

  /** Partial autocorrelation at lags 1–3 via the Durbin–Levinson
    * recursion (Durbin 1960 — public; the AR-order diagnostic beside
    * [[tsAutocorr]]'s ACF in any Box–Jenkins workflow), in QUANTIZED
    * fixed point: the ACF terms are exact integer ratios at 10⁶ scale,
    * and every DL step re-quantizes products back to e6 with one
    * truncating DIV — both engines run the IDENTICAL integer recursion,
    * so the (deliberately) quantized estimates are bit-equal, the same
    * discipline as the packed Holt folds. |r|≤10⁶ by Cauchy–Schwarz on
    * the lagged sums, so every product stays under 10¹⁸. Degenerate
    * denominators (|φ|→1) null out via nullif on both sides. Shape:
    * the ACF aggregation per series + per-type scalar math; no new
    * shuffle beyond tsAutocorr's.
    */
  val tsPacf: Q = Q("ts_pacf", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val hourly = e.groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val m = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), expr("sum(c) DIV count(1)").as("mean_c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val d = hourly.join(m, "event_type")
      .withColumn("dev", col("c") - col("mean_c"))
      .withColumn("d1", lead("dev", 1).over(w))
      .withColumn("d2", lead("dev", 2).over(w))
      .withColumn("d3", lead("dev", 3).over(w))
    val r = d.groupBy("event_type")
      .agg(max("n_hours").as("n_hours"),
        expr("1000000 * sum(dev * d1) DIV nullif(sum(dev * dev), 0)").as("r1"),
        expr("1000000 * sum(dev * d2) DIV nullif(sum(dev * dev), 0)").as("r2"),
        expr("1000000 * sum(dev * d3) DIV nullif(sum(dev * dev), 0)").as("r3"))
    r.withColumn("p11", col("r1"))
      .withColumn("a2", expr("r2 - (p11 * r1) DIV 1000000"))
      .withColumn("b2", expr("1000000 - (p11 * r1) DIV 1000000"))
      .withColumn("p22", expr("(a2 * 1000000) DIV nullif(b2, 0)"))
      .withColumn("p21", expr("p11 - (p22 * p11) DIV 1000000"))
      .withColumn("a3", expr(
        "r3 - (p21 * r2) DIV 1000000 - (p22 * r1) DIV 1000000"))
      .withColumn("b3", expr(
        "1000000 - (p21 * r1) DIV 1000000 - (p22 * r2) DIV 1000000"))
      .withColumn("p33", expr("(a3 * 1000000) DIV nullif(b3, 0)"))
      .select(col("event_type"), col("n_hours"),
        col("p11").as("pacf1_e6"), col("p22").as("pacf2_e6"),
        col("p33").as("pacf3_e6"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, sum(cents) // count(*) AS c
      FROM e GROUP BY event_type, h),
    m AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        sum(c) // count(*) AS mean_c
      FROM hd GROUP BY event_type),
    d AS (SELECT hd.event_type, m.n_hours, hd.c - m.mean_c AS dev,
        lead(hd.c - m.mean_c, 1) OVER w AS d1,
        lead(hd.c - m.mean_c, 2) OVER w AS d2,
        lead(hd.c - m.mean_c, 3) OVER w AS d3
      FROM hd JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY hd.event_type ORDER BY hd.h)),
    r AS (SELECT event_type, max(n_hours) AS n_hours,
        CAST(1000000 * sum(dev * d1) // nullif(sum(dev * dev), 0) AS BIGINT) AS r1,
        CAST(1000000 * sum(dev * d2) // nullif(sum(dev * dev), 0) AS BIGINT) AS r2,
        CAST(1000000 * sum(dev * d3) // nullif(sum(dev * dev), 0) AS BIGINT) AS r3
      FROM d GROUP BY event_type),
    s2 AS (SELECT *, r1 AS p11,
        r2 - (r1 * r1) // 1000000 AS a2,
        1000000 - (r1 * r1) // 1000000 AS b2
      FROM r),
    s2b AS (SELECT *, (a2 * 1000000) // nullif(b2, 0) AS p22 FROM s2),
    s3 AS (SELECT *, p11 - (p22 * p11) // 1000000 AS p21 FROM s2b),
    s3b AS (SELECT *,
        r3 - (p21 * r2) // 1000000 - (p22 * r1) // 1000000 AS a3,
        1000000 - (p21 * r1) // 1000000 - (p22 * r2) // 1000000 AS b3
      FROM s3)
    SELECT event_type, n_hours, p11 AS pacf1_e6, p22 AS pacf2_e6,
      CAST((a3 * 1000000) // nullif(b3, 0) AS BIGINT) AS pacf3_e6
    FROM s3b ORDER BY event_type"""))

  /** Burstiness coefficient per series — Goh & Barabási, "Burstiness
    * and memory in complex systems", EPL 81 (2008, public):
    * B = (σ−μ)/(σ+μ) over the inter-event gaps (−1 = perfectly
    * regular, 0 = Poisson, →1 = extreme bursts), in EXACT integer
    * arithmetic: gaps in whole seconds, μ = Σg DIV n, σ =
    * isqrt(Σ(g−μ)² DIV n) by the floor-sqrt-then-square-correct
    * discipline, and B in fixed-point e4 with one truncating DIV.
    * Second-granularity gaps keep every intermediate under 2⁶³ to
    * ~10⁸ gaps per series of any span (µs gaps would overflow the
    * square at one large gap). One lag window per series + one keyed
    * agg, then scalar math.
    */
  val tsBurstiness: Q = Q("ts_burstiness", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    val g = Tables.events(s, dir)
      .select(col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag("ts_us", 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("g", expr("(ts_us - prev) DIV 1000000"))
    val m = g.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), expr("sum(g) DIV count(1)").as("mu"))
    g.join(m, "event_type")
      .groupBy("event_type")
      .agg(max("n_gaps").as("n_gaps"), max("mu").as("mean_gap_s"),
        expr("sum((g - mu) * (g - mu)) DIV max(n_gaps)").as("v"))
      .withColumn("_k0", expr("CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT)"))
      .withColumn("sigma_gap_s", expr(
        """CASE WHEN (_k0 + 1) * (_k0 + 1) <= v THEN _k0 + 1
                WHEN _k0 * _k0 > v THEN _k0 - 1 ELSE _k0 END"""))
      .select(col("event_type"), col("n_gaps"), col("mean_gap_s"),
        col("sigma_gap_s"),
        expr("""(sigma_gap_s - mean_gap_s) * 10000
          DIV nullif(sigma_gap_s + mean_gap_s, 0)""").as("burstiness_e4"),
        expr("sigma_gap_s * 10000 DIV nullif(mean_gap_s, 0)").as("cv_e4"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) AS ts_us, event_id FROM events),
    g0 AS (SELECT event_type,
        lag(ts_us) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS prev,
        ts_us
      FROM e),
    g AS (SELECT event_type, (ts_us - prev) // 1000000 AS g
      FROM g0 WHERE prev IS NOT NULL),
    m AS (SELECT event_type, count(*)::BIGINT AS n_gaps,
        CAST(sum(g) AS BIGINT) // count(*) AS mu
      FROM g GROUP BY event_type),
    a AS (SELECT g.event_type, max(n_gaps) AS n_gaps, max(mu) AS mean_gap_s,
        CAST(sum((g.g - m.mu) * (g.g - m.mu)) AS BIGINT) // max(n_gaps) AS v
      FROM g JOIN m ON m.event_type = g.event_type
      GROUP BY g.event_type),
    k AS (SELECT *, CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS k0 FROM a),
    sg AS (SELECT event_type, n_gaps, mean_gap_s,
        CASE WHEN (k0 + 1) * (k0 + 1) <= v THEN k0 + 1
             WHEN k0 * k0 > v THEN k0 - 1 ELSE k0 END AS sigma_gap_s
      FROM k)
    SELECT event_type, n_gaps, mean_gap_s, sigma_gap_s,
      CAST((sigma_gap_s - mean_gap_s) * 10000
        // nullif(sigma_gap_s + mean_gap_s, 0) AS BIGINT) AS burstiness_e4,
      CAST(sigma_gap_s * 10000 // nullif(mean_gap_s, 0) AS BIGINT) AS cv_e4
    FROM sg ORDER BY event_type"""))

  /** The MEMORY coefficient that pairs with [[tsBurstiness]] in the
    * Goh–Barabási (B, M) plane: the Pearson correlation between
    * consecutive inter-event gaps (positive = long gaps follow long
    * gaps), exact integer throughout — centered sums over whole-second
    * gap pairs, σ's by the isqrt-correct-by-squaring discipline, and
    * the division arranged as cov DIV (σxσy DIV 10⁴) so no product
    * ever needs cov·10⁴ headroom (denominators under 10⁴ null out,
    * correlation is meaningless there anyway). Same lag windows as the
    * burstiness pass, one extra lag.
    */
  val tsGapMemory: Q = Q("ts_gap_memory", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    val g = Tables.events(s, dir)
      .select(col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag("ts_us", 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("y", expr("(ts_us - prev) DIV 1000000"))
      .withColumn("x", lag("y", 1).over(w))
      .filter(col("x").isNotNull)
    val m = g.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(x) DIV count(1)").as("mx"),
        expr("sum(y) DIV count(1)").as("my"))
    val agg = g.join(m, "event_type")
      .groupBy("event_type")
      .agg(max("n_pairs").as("n_pairs"),
        expr("sum((x - mx) * (y - my))").as("cov"),
        expr("sum((x - mx) * (x - mx))").as("vx"),
        expr("sum((y - my) * (y - my))").as("vy"))
    def isqrt(v: String, out: String) = Seq(
      s"CAST(floor(sqrt(CAST($v AS DOUBLE))) AS BIGINT)" -> s"_k$out",
      s"""CASE WHEN (_k$out + 1) * (_k$out + 1) <= $v THEN _k$out + 1
              WHEN _k$out * _k$out > $v THEN _k$out - 1 ELSE _k$out END""" -> out)
    val withS = (isqrt("vx", "sx") ++ isqrt("vy", "sy"))
      .foldLeft(agg) { case (df, (e, n)) => df.withColumn(n, expr(e)) }
    withS.select(col("event_type"), col("n_pairs"),
        expr("cov DIV nullif((sx * sy) DIV 10000, 0)").as("memory_e4"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) AS ts_us, event_id FROM events),
    g0 AS (SELECT event_type,
        lag(ts_us) OVER w AS prev, ts_us, event_id
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
    g1 AS (SELECT event_type, (ts_us - prev) // 1000000 AS y, ts_us, event_id
      FROM g0 WHERE prev IS NOT NULL),
    g AS (SELECT event_type, y,
        lag(y) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS x
      FROM g1),
    gp AS (SELECT event_type, x, y FROM g WHERE x IS NOT NULL),
    m AS (SELECT event_type, count(*)::BIGINT AS n_pairs,
        CAST(sum(x) AS BIGINT) // count(*) AS mx,
        CAST(sum(y) AS BIGINT) // count(*) AS my
      FROM gp GROUP BY event_type),
    a AS (SELECT gp.event_type, max(n_pairs) AS n_pairs,
        CAST(sum((gp.x - m.mx) * (gp.y - m.my)) AS BIGINT) AS cov,
        CAST(sum((gp.x - m.mx) * (gp.x - m.mx)) AS BIGINT) AS vx,
        CAST(sum((gp.y - m.my) * (gp.y - m.my)) AS BIGINT) AS vy
      FROM gp JOIN m ON m.event_type = gp.event_type
      GROUP BY gp.event_type),
    kx AS (SELECT *, CAST(floor(sqrt(CAST(vx AS DOUBLE))) AS BIGINT) AS k0x,
        CAST(floor(sqrt(CAST(vy AS DOUBLE))) AS BIGINT) AS k0y FROM a),
    sq AS (SELECT event_type, n_pairs, cov,
        CASE WHEN (k0x + 1) * (k0x + 1) <= vx THEN k0x + 1
             WHEN k0x * k0x > vx THEN k0x - 1 ELSE k0x END AS sx,
        CASE WHEN (k0y + 1) * (k0y + 1) <= vy THEN k0y + 1
             WHEN k0y * k0y > vy THEN k0y - 1 ELSE k0y END AS sy
      FROM kx)
    SELECT event_type, n_pairs,
      CAST(cov // nullif((sx * sy) // 10000, 0) AS BIGINT) AS memory_e4
    FROM sq ORDER BY event_type"""))

  /** First-order STRUCTURE FUNCTION (madogram) at dyadic lags — mean
    * |x_{i+L} − x_i| for L ∈ {1, 2, 4, …, 64} h (Matheron's variogram
    * family, order 1 — public; the roughness-vs-scale curve:
    * [[tsHaarEnergy]] integrates energy per band, this reads increment
    * magnitude directly and is robust to spikes). Exact integers
    * throughout: absolute cent differences summed, one truncating
    * division for the mean.
    *
    * Same keyed lag-join shape as [[tsDominantPeriod]] — the series
    * expands 7× onto (series, position+L), joins back on position; no
    * per-lag job loop, no global window.
    */
  val tsStructureFunction: Q = Q("ts_structure_function", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val d = hourly
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("h")).cast("bigint"))
      .select(col("event_type"), col("i"), col("c"))
    val lagged = d.withColumn("lg", explode(expr(
        "transform(array(1, 2, 4, 8, 16, 32, 64), x -> CAST(x AS BIGINT))")))
      .select(col("event_type"), (col("i") + col("lg")).as("i"),
        col("lg"), col("c").as("cx"))
    lagged.join(d.withColumnRenamed("c", "cy"), Seq("event_type", "i"))
      .groupBy("event_type", "lg")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs(cy - cx)) DIV count(1)").as("mad_c"))
      .select(col("event_type"), col("lg").as("lag_h"), col("n_pairs"), col("mad_c"))
      .orderBy("event_type", "lag_h")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    d AS (SELECT event_type,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS i,
        c
      FROM hd),
    px AS (SELECT a.event_type, t.lg, a.c AS cx, b.c AS cy
      FROM d a
      CROSS JOIN (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64]) AS BIGINT) AS lg) t
      JOIN d b ON b.event_type = a.event_type AND b.i = a.i + t.lg)
    SELECT event_type, lg AS lag_h, count(*)::BIGINT AS n_pairs,
      CAST(sum(abs(cy - cx)) // count(*) AS BIGINT) AS mad_c
    FROM px GROUP BY 1, 2 ORDER BY event_type, lag_h"""))

  /** MANN-KENDALL trend test over the trailing 256 hourly means (Mann
    * 1945, Kendall 1975 — public; the nonparametric "is it trending"
    * complement to [[tsRollingSlope]]'s parametric OLS and
    * [[tsTheilSen]]'s robust slope): S = Σ_{i&lt;j} sign(xⱼ − xᵢ) over
    * every pair in the window, with the tie count and the tau-a
    * normalization 10⁴·S / C(n,2) — sign sums and counts are exact
    * integers, the one division truncates identically in both engines
    * (negatives included).
    *
    * Scale shape: the window filter BOUNDS the pair space by
    * construction — ≤ C(256,2) pairs per series from a keyed self-join
    * over ≤ 256-row groups; the quadratic blow-up hazard of a pair
    * statistic is capped by the trailing window, not by hoping series
    * stay short. Both join sides descend from the hourly aggregate.
    */
  val tsMannKendall: Q = Q("ts_mann_kendall", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val last = hourly
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("h").desc)).cast("bigint"))
      .filter(col("rn") <= 256)
    val a = last.select(col("event_type"), col("rn").as("ra"), col("c").as("ca"))
    val b = last.select(col("event_type"), col("rn").as("rb"), col("c").as("cb"))
    // rn 1 = newest; pair (earlier a, later b) <=> ra > rb
    a.join(b, "event_type").filter(col("ra") > col("rb"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CASE WHEN cb > ca THEN 1L WHEN cb < ca THEN -1L ELSE 0L END")).as("s"),
        sum(expr("CASE WHEN cb = ca THEN 1L ELSE 0L END")).as("n_ties"))
      .withColumn("tau_bp", expr("10000 * s DIV nullif(n_pairs, 0)"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    l AS (SELECT event_type, rn, c FROM (
      SELECT event_type, c,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY h DESC) AS BIGINT) AS rn
      FROM hd) WHERE rn <= 256),
    p AS (SELECT a.event_type,
        CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg,
        CASE WHEN b.c = a.c THEN 1 ELSE 0 END AS tie
      FROM l a JOIN l b ON b.event_type = a.event_type AND a.rn > b.rn)
    SELECT event_type, count(*)::BIGINT AS n_pairs,
      CAST(sum(sg) AS BIGINT) AS s, CAST(sum(tie) AS BIGINT) AS n_ties,
      CAST(10000 * sum(sg) // nullif(count(*), 0) AS BIGINT) AS tau_bp
    FROM p GROUP BY event_type ORDER BY event_type"""))

  /** Multi-scale HAAR wavelet energy profile over the first 128 hourly
    * means per series (Haar 1910; the scaleogram/multi-resolution-
    * variance feature — public). UNNORMALIZED Haar keeps every
    * coefficient an exact integer: level k pairs the previous approx
    * (a, b) → approx a+b, detail a−b; energy(k) = Σ detail² — the
    * variance of the series at scale 2^k hours — plus the final DC
    * approx² as level 0. Spike-heavy series load the fine levels,
    * trend/seasonal series the coarse ones; [[tsDominantPeriod]] names
    * the period, this says how much energy lives at each scale.
    *
    * Shape: 7 chained bucket-halving aggregations (each map-side
    * combinable, table size halves per level — 128→1 rows per series),
    * zero joins, zero windows beyond the initial per-series
    * row_number. The oracle mirrors the identical chain as
    * MATERIALIZED pair CTEs.
    */
  val tsHaarEnergy: Q = Q("ts_haar_energy", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val n = 128
    val levels = 7
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    var cur = hourly
      .withColumn("p", (row_number().over(
        Window.partitionBy("event_type").orderBy("h")) - 1).cast("bigint"))
      .filter(col("p") < n)
      .select(col("event_type"), col("p"), col("c").as("v"))
    val energies = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    for (lvl <- 1 to levels) {
      val paired = cur.groupBy(col("event_type"), expr("p DIV 2").as("p"))
        .agg(sum(expr("CASE WHEN p % 2 = 0 THEN v ELSE 0 END")).as("a"),
          sum(expr("CASE WHEN p % 2 = 1 THEN v ELSE 0 END")).as("b"))
      energies += paired.groupBy("event_type")
        .agg(sum(expr("(a - b) * (a - b)")).as("energy"))
        .select(col("event_type"), lit(lvl.toLong).as("level"), col("energy"))
      cur = paired.select(col("event_type"), col("p"), expr("a + b").as("v"))
    }
    val dc = cur.groupBy("event_type")
      .agg(sum(expr("v * v")).as("energy"))
      .select(col("event_type"), lit(0L).as("level"), col("energy"))
    energies.reduce(_ union _).union(dc).orderBy("event_type", "level")
  }, Some {
    val steps = (1 to 7).map { k =>
      s""",
    pk$k AS MATERIALIZED (SELECT event_type, p // 2 AS p,
        CAST(sum(CASE WHEN p % 2 = 0 THEN v ELSE 0 END) AS BIGINT) AS a,
        CAST(sum(CASE WHEN p % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS b
      FROM l${k - 1} GROUP BY 1, 2),
    e$k AS (SELECT event_type, CAST($k AS BIGINT) AS level,
        CAST(sum((a - b) * (a - b)) AS BIGINT) AS energy
      FROM pk$k GROUP BY 1),
    l$k AS (SELECT event_type, p, a + b AS v FROM pk$k)"""
    }.mkString
    s"""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    l0 AS (SELECT event_type, p, v FROM (
      SELECT event_type,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS BIGINT) AS p,
        c AS v
      FROM hd) WHERE p < 128)$steps,
    dc AS (SELECT event_type, CAST(0 AS BIGINT) AS level,
        CAST(sum(v * v) AS BIGINT) AS energy
      FROM l7 GROUP BY 1)
    SELECT event_type, level, energy FROM (
      ${(1 to 7).map(k => s"SELECT * FROM e$k").mkString(" UNION ALL ")}
      UNION ALL SELECT * FROM dc)
    ORDER BY event_type, level"""
  })

  /** Dominant seasonality PERIOD per series by integer-ACF argmax
    * (the autocorrelation periodogram — Box & Jenkins' identification
    * step, public; [[tsAutocorr]] reports fixed lags 1..3, this scans
    * lags 2..168 h and returns the maximizer, i.e. "is this series
    * daily, weekly, or something odd"). All arithmetic exact:
    * deviations are integer cents around the truncated mean,
    * acf_bp(L) = 10⁴·Σ devᵢ·devᵢ₊L DIV Σ dev² (biased estimator —
    * full-series denominator like tsAutocorr), argmax ties to the
    * SMALLEST lag.
    *
    * Scale shape: the lag scan is a KEYED equi-join — the series
    * table expands 167× onto (series, position+L) and joins back on
    * (series, position); no window wider than the series, no
    * per-lag job loop. 167·n rows per series is the transparent cost
    * of scanning 167 candidate periods at once.
    */
  val tsDominantPeriod: Q = Q("ts_dominant_period", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val m = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), expr("sum(c) DIV count(1)").as("mean_c"))
    val d = hourly.join(broadcast(m), "event_type")
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("h")).cast("bigint"))
      .select(col("event_type"), col("i"), (col("c") - col("mean_c")).as("dev"))
    val den = d.groupBy("event_type")
      .agg(sum(expr("dev * dev")).as("sxx"))
    val lagged = d.withColumn("lg", explode(expr(
        "sequence(CAST(2 AS BIGINT), CAST(168 AS BIGINT))")))
      .select(col("event_type"), (col("i") + col("lg")).as("i"),
        col("lg"), col("dev").as("dx"))
    val num = lagged.join(d.withColumnRenamed("dev", "dy"), Seq("event_type", "i"))
      .groupBy("event_type", "lg")
      .agg(sum(expr("dx * dy")).as("sxy"), count(lit(1)).as("n_pairs"))
    val acf = num.join(broadcast(den), "event_type")
      .withColumn("acf_bp", expr("10000 * sxy DIV nullif(sxx, 0)"))
    acf.withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("acf_bp").desc, col("lg").asc)))
      .filter(col("rn") === 1)
      .join(broadcast(m.select("event_type", "n_hours")), "event_type")
      .select(col("event_type"), col("n_hours"), col("lg").as("period_h"),
        col("n_pairs"), col("acf_bp"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    m AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        CAST(sum(c) // count(*) AS BIGINT) AS mean_c
      FROM hd GROUP BY event_type),
    d AS (SELECT hd.event_type,
        CAST(row_number() OVER (PARTITION BY hd.event_type ORDER BY h) AS BIGINT) AS i,
        hd.c - m.mean_c AS dev
      FROM hd JOIN m USING (event_type)),
    den AS (SELECT event_type, CAST(sum(dev * dev) AS BIGINT) AS sxx
      FROM d GROUP BY event_type),
    px AS (SELECT a.event_type, t.lg, a.dev AS dx, b.dev AS dy
      FROM d a CROSS JOIN range(2, 169) t(lg)
      JOIN d b ON b.event_type = a.event_type AND b.i = a.i + t.lg),
    num AS (SELECT event_type, lg, CAST(sum(dx * dy) AS BIGINT) AS sxy,
        count(*)::BIGINT AS n_pairs
      FROM px GROUP BY 1, 2),
    acf AS (SELECT num.event_type, num.lg, num.n_pairs,
        CAST(10000 * sxy // nullif(sxx, 0) AS BIGINT) AS acf_bp
      FROM num JOIN den USING (event_type))
    SELECT acf.event_type, m.n_hours, lg AS period_h, n_pairs, acf_bp
    FROM acf JOIN m USING (event_type)
    QUALIFY row_number() OVER (PARTITION BY acf.event_type
      ORDER BY acf_bp DESC, lg ASC) = 1
    ORDER BY event_type"""))

  /** BANDED matrix profile with SAD distance (Yeh et al., "Matrix
    * Profile I", ICDM 2016 — public; SAD instead of z-normalized
    * Euclidean keeps every distance an exact bigint). Per event-type
    * hourly mean-cent series: subsequences of length 4 at consecutive
    * rank positions, profile(i) = min over j with |j−i| ∈ [4, 48] of
    * Σₖ|xᵢ₊ₖ − xⱼ₊ₖ| — exclusion zone = window length (no trivial
    * match), band = 48 h (motifs/discords against the local two days,
    * the streaming-monitor shape). Output: each series' top MOTIF
    * (minimum profile — its most repeated shape) and top DISCORD
    * (maximum profile — its most anomalous window), with the
    * neighbor position and distance; ties break on (pos, nn).
    *
    * Scale shape: the O(n·band) pair space is generated by a BLOCK-
    * bucketed self-join — positions bucket by i DIV 48, the left side
    * explodes its 3 candidate blocks, the join keys on (series, block)
    * so every key matches ≤ 3·48 rows; never an unkeyed range join.
    * Both join inputs descend from the hourly AGGREGATE (bounded),
    * and the per-position argmin is a struct-min aggregation, not a
    * window over pairs.
    */
  val tsMatrixProfile: Q = Q("ts_matrix_profile", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val ord = Window.partitionBy("event_type").orderBy("h")
    val sub = hourly
      .withColumn("i", row_number().over(ord).cast("bigint"))
      .withColumn("v0", col("c"))
      .withColumn("v1", lead("c", 1).over(ord))
      .withColumn("v2", lead("c", 2).over(ord))
      .withColumn("v3", lead("c", 3).over(ord))
      .filter(col("v3").isNotNull)
      .select("event_type", "i", "v0", "v1", "v2", "v3")
      // sub feeds both band-join sides, pairs both union arms, prof both
      // rank passes: unpersisted, the hourly window re-ran up to 8x (r13)
      .persist()
    val left = sub.withColumn("blk",
        explode(expr("array(i DIV 48 - 1, i DIV 48, i DIV 48 + 1)")))
    val right = sub.withColumn("blk", expr("i DIV 48"))
      .withColumnRenamed("i", "j")
      .withColumnRenamed("v0", "w0").withColumnRenamed("v1", "w1")
      .withColumnRenamed("v2", "w2").withColumnRenamed("v3", "w3")
    // blocked band self-join: SelfJoinAudit-exempt by the Aggregate
    // boundary (both sides descend from the hourly groupBy)
    val pairs = left.join(right, Seq("event_type", "blk"))
      .filter(col("j") - col("i") >= 4 && col("j") - col("i") <= 48)
      .withColumn("sad", expr(
        "abs(v0 - w0) + abs(v1 - w1) + abs(v2 - w2) + abs(v3 - w3)"))
      .select(col("event_type"), col("i"), col("j"), col("sad"))
      .persist()
    val both = pairs.union(
      pairs.select(col("event_type"), col("j").as("i"), col("i").as("j"), col("sad")))
    val prof = both.groupBy("event_type", "i")
      .agg(min(struct(col("sad"), col("j"))).as("mn"))
      .select(col("event_type"), col("i").as("pos"),
        col("mn.sad").as("sad"), col("mn.j").as("nn"))
      .persist()
    val wMot = Window.partitionBy("event_type")
      .orderBy(col("sad").asc, col("pos").asc, col("nn").asc)
    val wDis = Window.partitionBy("event_type")
      .orderBy(col("sad").desc, col("pos").asc, col("nn").asc)
    val motif = prof.withColumn("rn", row_number().over(wMot))
      .filter(col("rn") === 1).withColumn("kind", lit("motif"))
    val discord = prof.withColumn("rn", row_number().over(wDis))
      .filter(col("rn") === 1).withColumn("kind", lit("discord"))
    motif.union(discord)
      .select("event_type", "kind", "pos", "nn", "sad")
      .orderBy("event_type", "kind")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    sub AS (SELECT event_type,
        CAST(row_number() OVER w AS BIGINT) AS i,
        c AS v0, lead(c, 1) OVER w AS v1,
        lead(c, 2) OVER w AS v2, lead(c, 3) OVER w AS v3
      FROM hd WINDOW w AS (PARTITION BY event_type ORDER BY h)),
    sb AS (SELECT * FROM sub WHERE v3 IS NOT NULL),
    pr AS (SELECT a.event_type, a.i, b.i AS j,
        abs(a.v0 - b.v0) + abs(a.v1 - b.v1) + abs(a.v2 - b.v2)
          + abs(a.v3 - b.v3) AS sad
      FROM sb a JOIN sb b ON b.event_type = a.event_type
        AND b.i - a.i BETWEEN 4 AND 48),
    bo AS (SELECT event_type, i, j, sad FROM pr
      UNION ALL SELECT event_type, j, i, sad FROM pr),
    prof AS (SELECT event_type, i AS pos, sad, j AS nn FROM bo
      QUALIFY row_number() OVER (PARTITION BY event_type, i
        ORDER BY sad, j) = 1)
    SELECT event_type, kind, pos, nn, sad FROM (
      SELECT event_type, 'motif' AS kind, pos, nn, sad FROM prof
      QUALIFY row_number() OVER (PARTITION BY event_type
        ORDER BY sad ASC, pos ASC, nn ASC) = 1
      UNION ALL
      SELECT event_type, 'discord' AS kind, pos, nn, sad FROM prof
      QUALIFY row_number() OVER (PARTITION BY event_type
        ORDER BY sad DESC, pos ASC, nn ASC) = 1)
    ORDER BY event_type, kind"""))

  /** PromQL-style counter `increase()` with reset correction — the one
    * query every Prometheus recording rule runs and the repo did not yet
    * cover. A cumulative counter is synthesized per event type (running
    * cent sum modulo 10,000.00 — the modulus plays the role of a process
    * restart, giving deterministic resets at every SF), then per hourly
    * bucket the increase is recovered the way promql/functions.go's
    * extrapolatedRate corrects for resets: a negative adjacent delta
    * means the counter restarted from 0, so the sample's own value IS
    * its contribution (delta >= 0 ? delta : v_curr). All bigint: cents,
    * running sums, modulo — nothing floats, so Spark and DuckDB agree
    * bit-for-bit. rate_e4 is the per-second rate in 1e-4 cent units by
    * floor division (exact). Scale: one window partitioned by series
    * (shuffle on event_type), then a map-side-combinable groupBy — the
    * shape survives any row count; series cardinality is the
    * parallelism, as in any TSDB rollup.
    */
  val tsCounterRate: Q = Q("ts_counter_rate", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val Cap = 1000000L // counter wraps at 10,000.00
    val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("ctr", expr(s"sum(cents) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) % $Cap"))
      .withColumn("prev", lag("ctr", 1).over(w))
      .withColumn("adj", expr("CASE WHEN prev IS NULL THEN 0 WHEN ctr >= prev THEN ctr - prev ELSE ctr END"))
      .withColumn("reset", expr("CASE WHEN prev IS NOT NULL AND ctr < prev THEN 1 ELSE 0 END"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(count(lit(1)).as("samples"),
        sum("adj").as("increase_cents"),
        sum("reset").as("resets"))
      .withColumn("rate_e4", expr("increase_cents * 10000 DIV 3600"))
      .orderBy("event_type", "h")
  }, Some("""WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    c AS (SELECT event_type, event_id, ts_us,
        sum(cents) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) % 1000000 AS ctr
      FROM e),
    d AS (SELECT event_type, ts_us, ctr,
        lag(ctr) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS prev
      FROM c)
    SELECT event_type, ts_us // 3600000000 AS h,
      count(*)::BIGINT AS samples,
      sum(CASE WHEN prev IS NULL THEN 0
               WHEN ctr >= prev THEN ctr - prev ELSE ctr END)::BIGINT AS increase_cents,
      sum(CASE WHEN prev IS NOT NULL AND ctr < prev THEN 1 ELSE 0 END)::BIGINT AS resets,
      sum(CASE WHEN prev IS NULL THEN 0
               WHEN ctr >= prev THEN ctr - prev ELSE ctr END)::BIGINT * 10000 // 3600 AS rate_e4
    FROM d GROUP BY event_type, h ORDER BY event_type, h"""))

  /** Bounded last-observation-carried-forward gap fill: each series is
    * projected onto the full hourly grid (the month's 720 buckets) and
    * every empty bucket takes the latest mean from AT MOST 3 hours back
    * — LOCF with a staleness bound, i.e. Prometheus staleness semantics
    * (a series stops answering after its lookback window) rather than
    * naive unbounded carry-forward. Exact: hourly means are truncating
    * integer division; the carry is a window `last(_, ignoreNulls)` over
    * a 3-row frame — both engines implement IGNORE NULLS identically on
    * the unique hour order. Output is the per-series fill report plus an
    * exact checksum of the filled signal, so one changed carry anywhere
    * flips the hash. Scale: grid fan-out is (series × hours) — the
    * DENSE representation a TSDB rollup materializes anyway; one window
    * per series, no joins beyond the broadcast grid bounds.
    */
  val tsLocfFill: Q = Q("ts_locf_fill", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("h", expr("ts_us DIV 3600000000"))
    val hourly = e.groupBy("event_type", "h")
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val bounds = e.agg(min("h").as("h0"), max("h").as("h1"))
    val grid = e.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-3, Window.currentRow)
    val filled = grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("carry", last("c", ignoreNulls = true).over(w))
    filled.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("c").isNull && col("carry").isNotNull, 1L).otherwise(0L)).as("n_filled"),
        sum(when(col("carry").isNull, 1L).otherwise(0L)).as("n_unfilled"),
        sum(coalesce(col("carry"), lit(0L))).as("filled_checksum"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hourly AS (SELECT event_type, h, sum(cents) // count(*) AS c
      FROM e GROUP BY 1, 2),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
    grid AS (SELECT et.event_type, t.h
      FROM (SELECT DISTINCT event_type FROM e) et
      CROSS JOIN (SELECT unnest(range((SELECT h0 FROM b), (SELECT h1 FROM b) + 1)) AS h) t),
    f AS (SELECT grid.event_type, grid.h, hourly.c,
        last_value(hourly.c IGNORE NULLS) OVER (PARTITION BY grid.event_type
          ORDER BY grid.h ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS carry
      FROM grid LEFT JOIN hourly ON grid.event_type = hourly.event_type AND grid.h = hourly.h)
    SELECT event_type, count(*)::BIGINT AS n_hours,
      sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
      sum(CASE WHEN c IS NULL AND carry IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_filled,
      sum(CASE WHEN carry IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unfilled,
      CAST(sum(coalesce(carry, 0)) AS BIGINT) AS filled_checksum
    FROM f GROUP BY event_type ORDER BY event_type"""))

  /** M4 visual downsampling — Jugel et al., "M4: A Visualization-
    * Oriented Time Series Data Aggregation" (PVLDB 7(10), 2014,
    * public): per pixel-column bucket keep exactly the min, max, first
    * and last points, which provably preserves the rendered line at
    * that pixel width (the error-free downsample a dashboard backend
    * ships, vs the LTB heuristic already in [[tsDownsampleLtb]]).
    * 10-hour buckets ≈ 72 pixel columns over the month. Exactness:
    * min/max over bigint cents; first/last resolved by row_number over
    * the unique (ts, event_id) total order — no min_by/arg_min tie
    * ambiguity cross-engine. Scale: ONE window pass co-partitioned with
    * the following groupBy on (series, bucket) — a single shuffle, all
    * aggregation map-side combinable.
    */
  val tsDownsampleM4: Q = Q("ts_downsample_m4", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("b", expr("ts_us DIV 36000000000"))
    val wA = Window.partitionBy("event_type", "b").orderBy(col("ts_us").asc, col("event_id").asc)
    val wD = Window.partitionBy("event_type", "b").orderBy(col("ts_us").desc, col("event_id").desc)
    e.withColumn("ra", row_number().over(wA))
      .withColumn("rd", row_number().over(wD))
      .groupBy("event_type", "b")
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_c"), max("cents").as("max_c"),
        expr("max(CASE WHEN ra = 1 THEN cents END)").as("first_c"),
        expr("max(CASE WHEN rd = 1 THEN cents END)").as("last_c"))
      .orderBy("event_type", "b")
  }, Some("""WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents,
        epoch_us(ts) // 36000000000 AS b
      FROM events),
    r AS (SELECT event_type, b, cents,
        row_number() OVER (PARTITION BY event_type, b ORDER BY ts_us ASC, event_id ASC) AS ra,
        row_number() OVER (PARTITION BY event_type, b ORDER BY ts_us DESC, event_id DESC) AS rd
      FROM e)
    SELECT event_type, b, count(*)::BIGINT AS n,
      min(cents) AS min_c, max(cents) AS max_c,
      max(CASE WHEN ra = 1 THEN cents END) AS first_c,
      max(CASE WHEN rd = 1 THEN cents END) AS last_c
    FROM r GROUP BY event_type, b ORDER BY event_type, b"""))

  /** Prometheus alert-rule `for:` duration semantics: an alert whose
    * condition (hourly mean ≥ 50.00) first turns PENDING and only
    * starts FIRING once it has held for 3 consecutive hourly
    * evaluations — the rules/alerting.go state machine every alerting
    * stack implements, and the one piece of the alert pipeline the
    * repo's burn/CUSUM/peak detectors did not yet model. A missing
    * evaluation point (an hour with no samples for the series) resets
    * the streak, exactly as a failed PromQL eval resets `for` tracking.
    * All integer: the condition compares a floor-divided mean, streaks
    * are row_numbers inside consecutive-hour islands (h minus its rank
    * is the island key — the gaps-and-islands identity, so a gap in h
    * breaks the run with no extra pass). Output is only the non-idle
    * rows (pending/firing), trimmed like a real alertmanager feed.
    * Scale: two windows over the per-(series, hour) aggregate — state
    * is series×hours sized, never sample-sized; one shuffle key.
    */
  val tsAlertFor: Q = Q("ts_alert_for", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("mean_c"))
      .withColumn("cond", col("mean_c") >= 5000L)
    val w = Window.partitionBy("event_type").orderBy("h")
    // only cond rows survive, so an hour gap in the SURVIVING sequence is
    // either a missing eval or a false eval — both reset the streak,
    // which is exactly one gaps-and-islands pass on h
    val islands = hourly.filter(col("cond"))
      .withColumn("rk", row_number().over(w))
      .withColumn("grp", col("h") - col("rk")) // consecutive cond-hours share grp
    val wRun = Window.partitionBy("event_type", "grp").orderBy("h")
    islands
      .withColumn("streak", row_number().over(wRun))
      .select(col("event_type"), col("h"), col("mean_c"), col("streak"),
        when(col("streak") >= 3, lit("firing")).otherwise(lit("pending")).as("state"))
      .orderBy("event_type", "h")
  }, Some("""WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        sum(CAST(round(value * 100) AS BIGINT))::BIGINT // count(*) AS mean_c
      FROM events GROUP BY 1, 2),
    c AS (SELECT event_type, h, mean_c,
        h - row_number() OVER (PARTITION BY event_type ORDER BY h) AS grp
      FROM hourly WHERE mean_c >= 5000),
    r AS (SELECT event_type, h, mean_c,
        row_number() OVER (PARTITION BY event_type, grp ORDER BY h) AS streak
      FROM c)
    SELECT event_type, h, mean_c, CAST(streak AS INT) AS streak,
      CASE WHEN streak >= 3 THEN 'firing' ELSE 'pending' END AS state
    FROM r ORDER BY event_type, h"""))

  /** Exact fixed-point 1-D Kalman filter per series — the optimal
    * level estimator under a random-walk-plus-noise model, run entirely
    * in bigint arithmetic so Spark and DuckDB fold to the SAME final
    * state bit-for-bit (gain in ppm, truncating divisions — see
    * [[graft.ops.Series.kalmanStepSql]] for the packing and overflow
    * proof). Alongside the level it counts 3σ normalized-innovation
    * (NIS) alarms — the tracking-stack anomaly gate, which EWMA/MAD
    * detectors approximate and a Kalman gets for free from its own
    * predicted variance. Iterative float Kalman filters CANNOT be
    * oracle-checked across engines (divergence compounds per step);
    * the fixed-point design makes the whole 2000-step fold exact.
    * Scale: one sorted fold per series key (the [[graft.ops.Series.ewmaLast]]
    * contract — key by bounded-cardinality series id); state is one
    * bigint per series, never per sample.
    */
  val tsKalman: Q = Q("ts_kalman", (s, dir) => {
    val step = graft.ops.Series.kalmanStepSql("DIV", "acc", "z")
    val (aSql, xSql, pSql) = graft.ops.Series.kalmanDecodeSql("DIV", "_acc")
    // cents FLOORED at 1: the packed fold's raw-vs-packed discriminator
    // needs level >= 1 (a packed state with level 0 would read back as a
    // raw seed), and sub-cent readings sit below the fold's resolution
    // anyway — the r10 tri-SF sweep caught 6 zero-cent events at sf0.1
    // tripping the loud gate. The TOP of the domain stays loud (a value
    // regime change should fail, not clamp). Oracle mirrors the floor.
    Tables.events(s, dir)
      .withColumn("cents", expr("greatest(CAST(round(value * 100) AS BIGINT), 1L)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_points"),
        array_sort(collect_list(struct(col("ts_us"), col("event_id"),
          col("cents")))).as("_a"))
      .withColumn("_zs", expr(
        graft.ops.Series.kalmanGuardSql("transform(_a, r -> r.cents)")))
      .withColumn("_acc", expr(
        s"aggregate(slice(_zs, 2, size(_zs) - 1), element_at(_zs, 1), (acc, z) -> $step)"))
      .select(col("event_type"), col("n_points"),
        expr(s"CAST($aSql AS BIGINT)").as("nis_alarms"),
        expr(s"CAST($xSql AS BIGINT)").as("level_c"),
        expr(s"CAST($pSql AS BIGINT)").as("var_c2"))
      .orderBy("event_type")
  }, Some {
    val step = graft.ops.Series.kalmanStepSql("//", "acc", "z")
    val (aSql, xSql, pSql) = graft.ops.Series.kalmanDecodeSql("//", "acc")
    s"""WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        greatest(CAST(round(value * 100) AS BIGINT), 1) AS cents
      FROM events),
    f AS (SELECT event_type, count(*)::BIGINT AS n_points,
        list_reduce(list(cents ORDER BY ts_us, event_id),
          (acc, z) -> $step) AS acc
      FROM e GROUP BY event_type)
    SELECT event_type, n_points,
      CAST($aSql AS BIGINT) AS nis_alarms,
      CAST($xSql AS BIGINT) AS level_c,
      CAST($pSql AS BIGINT) AS var_c2
    FROM f ORDER BY event_type"""
  })

  /** AR(2) h-step forecast per series, fitted by the same quantized
    * Durbin–Levinson recursion as [[tsPacf]] (the order-2 coefficient
    * vector IS the recursion's second stage: φ₁ = p21, φ₂ = p22) and
    * rolled forward 6 hourly steps from the last two observed
    * deviations — the classic Box–Jenkins point forecast, in EXACT e6
    * fixed point so both engines produce identical paths (each step is
    * two bigint multiplies and one truncating DIV; negative numerators
    * truncate toward zero identically). Forecasts revert to the series
    * mean as φ powers decay — the visible sanity property of a
    * stationary AR fit. Scale: everything after the hourly rollup runs
    * on series-count-sized aggregates; the unrolled 6 steps are six
    * scalar expressions, not six passes over data.
    */
  val tsArForecast: Q = Q("ts_ar_forecast", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val hourly = e.groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val m = hourly.groupBy("event_type")
      .agg(expr("sum(c) DIV count(1)").as("mean_c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val wDesc = Window.partitionBy("event_type").orderBy(col("h").desc)
    val d = hourly.join(m, "event_type")
      .withColumn("dev", col("c") - col("mean_c"))
      .withColumn("d1", lead("dev", 1).over(w))
      .withColumn("d2", lead("dev", 2).over(w))
      .withColumn("rn", row_number().over(wDesc))
    val r = d.groupBy("event_type")
      .agg(max("mean_c").as("mean_c"),
        expr("1000000 * sum(dev * d1) DIV nullif(sum(dev * dev), 0)").as("r1"),
        expr("1000000 * sum(dev * d2) DIV nullif(sum(dev * dev), 0)").as("r2"),
        expr("max(CASE WHEN rn = 1 THEN dev END)").as("dev0"),
        expr("max(CASE WHEN rn = 2 THEN dev END)").as("dev1"))
    val phi = r
      .withColumn("p22", expr(
        "((r2 - (r1 * r1) DIV 1000000) * 1000000) DIV nullif(1000000 - (r1 * r1) DIV 1000000, 0)"))
      .withColumn("phi1", expr("r1 - (p22 * r1) DIV 1000000"))
      .withColumn("phi2", col("p22"))
    val steps = (1 to 6).foldLeft(phi) { (acc, k) =>
      val (prev1, prev2) =
        if (k == 1) ("dev0", "dev1")
        else if (k == 2) ("f1", "dev0")
        else (s"f${k - 1}", s"f${k - 2}")
      acc.withColumn(s"f$k", expr(s"(phi1 * $prev1 + phi2 * $prev2) DIV 1000000"))
    }
    steps.selectExpr("event_type", "mean_c", "phi1 AS phi1_e6", "phi2 AS phi2_e6",
      s"stack(6, ${(1 to 6).map(k => s"$k, mean_c + f$k").mkString(", ")}) AS (step, forecast_c)")
      .select(col("event_type"), col("phi1_e6"), col("phi2_e6"),
        col("step").cast("int").as("step"), col("forecast_c"))
      .orderBy("event_type", "step")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, sum(cents) // count(*) AS c
      FROM e GROUP BY event_type, h),
    m AS (SELECT event_type, sum(c) // count(*) AS mean_c
      FROM hd GROUP BY event_type),
    d AS (SELECT hd.event_type, m.mean_c, hd.c - m.mean_c AS dev,
        lead(hd.c - m.mean_c, 1) OVER w AS d1,
        lead(hd.c - m.mean_c, 2) OVER w AS d2,
        row_number() OVER (PARTITION BY hd.event_type ORDER BY hd.h DESC) AS rn
      FROM hd JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY hd.event_type ORDER BY hd.h)),
    r AS (SELECT event_type, max(mean_c) AS mean_c,
        CAST(1000000 * sum(dev * d1) // nullif(sum(dev * dev), 0) AS BIGINT) AS r1,
        CAST(1000000 * sum(dev * d2) // nullif(sum(dev * dev), 0) AS BIGINT) AS r2,
        max(CASE WHEN rn = 1 THEN dev END) AS dev0,
        max(CASE WHEN rn = 2 THEN dev END) AS dev1
      FROM d GROUP BY event_type),
    p AS (SELECT *,
        ((r2 - (r1 * r1) // 1000000) * 1000000)
          // nullif(1000000 - (r1 * r1) // 1000000, 0) AS p22
      FROM r),
    ph AS (SELECT *, r1 - (p22 * r1) // 1000000 AS phi1, p22 AS phi2 FROM p),
    f AS (SELECT *,
        (phi1 * dev0 + phi2 * dev1) // 1000000 AS f1 FROM ph),
    f2 AS (SELECT *, (phi1 * f1 + phi2 * dev0) // 1000000 AS f2 FROM f),
    f3 AS (SELECT *, (phi1 * f2 + phi2 * f1) // 1000000 AS f3 FROM f2),
    f4 AS (SELECT *, (phi1 * f3 + phi2 * f2) // 1000000 AS f4 FROM f3),
    f5 AS (SELECT *, (phi1 * f4 + phi2 * f3) // 1000000 AS f5 FROM f4),
    f6 AS (SELECT *, (phi1 * f5 + phi2 * f4) // 1000000 AS f6 FROM f5),
    u AS (
      SELECT event_type, phi1 AS phi1_e6, phi2 AS phi2_e6, t.step,
        mean_c + CASE t.step WHEN 1 THEN f1 WHEN 2 THEN f2 WHEN 3 THEN f3
          WHEN 4 THEN f4 WHEN 5 THEN f5 ELSE f6 END AS forecast_c
      FROM f6 CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6)) t(step))
    SELECT event_type, phi1_e6, phi2_e6, CAST(step AS INT) AS step,
      CAST(forecast_c AS BIGINT) AS forecast_c
    FROM u ORDER BY event_type, step"""))

  /** Wald–Wolfowitz runs test for serial randomness (Wald & Wolfowitz,
    * Ann. Math. Stat. 1940 — public) over the trailing 512 hourly means
    * per series: points above/below the EXACT discrete median (median
    * ties dropped, the classic convention; median by count +
    * row_number, never a collected array), R = 1 + sign changes in
    * chronological order. Everything after the hourly agg is rational,
    * so z² is EXACT fixed-point: with A = (R−1)·n − 2·n1·n2,
    * z² = A²·(n−1) / (2n1n2·(2n1n2−n)) — reported ×10⁴, one truncating
    * division, along with μ×10⁴. n ≤ 512 bounds every product far under
    * signed-64 (A² (n−1) 10⁴ ≤ 8·10¹⁷). `random_at_5pct` is z² ≤
    * 1.96²×10⁴. Too few runs = trending/sticky, too many = oscillating
    * — the residual-whiteness check behind every forecast monitor.
    * Shapes: one hourly agg, one 512-bounded rank window, one exact
    * median rank filter joined back (broadcast — #series rows), one
    * lag window, one final per-series agg.
    */
  val tsRunsTest: Q = Q("ts_runs_test", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val last = hourly
      .withColumn("rnd", row_number().over(
        Window.partitionBy("event_type").orderBy(col("h").desc)).cast("bigint"))
      .filter(col("rnd") <= 512)
      .select("event_type", "h", "c")
    val med = last
      .withColumn("rv", row_number().over(
        Window.partitionBy("event_type").orderBy("c", "h")).cast("bigint"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(expr("rv = (nn + 1) DIV 2"))
      .select(col("event_type"), col("c").as("m"))
    val signed = last.join(broadcast(med), "event_type")
      .filter(col("c") =!= col("m"))
      .withColumn("sgn", expr("CASE WHEN c > m THEN 1L ELSE 0L END"))
      .withColumn("prev", lag("sgn", 1).over(
        Window.partitionBy("event_type").orderBy("h")))
    signed.groupBy("event_type")
      .agg(sum("sgn").as("n1"),
        sum(expr("1 - sgn")).as("n2"),
        (sum(expr("CASE WHEN prev IS NOT NULL AND sgn != prev THEN 1L ELSE 0L END")) + 1L).as("runs"))
      .withColumn("n", expr("n1 + n2"))
      .withColumn("mu_e4", expr("2 * n1 * n2 * 10000 DIV n + 10000"))
      .withColumn("z2_e4", expr(
        """((runs - 1) * n - 2 * n1 * n2) * ((runs - 1) * n - 2 * n1 * n2)
           * (n - 1) * 10000 DIV nullif(2 * n1 * n2 * (2 * n1 * n2 - n), 0)"""))
      .withColumn("random_at_5pct", expr("z2_e4 <= 38416"))
      .select("event_type", "n1", "n2", "runs", "n", "mu_e4", "z2_e4", "random_at_5pct")
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    l AS (SELECT event_type, h, c FROM (
      SELECT event_type, h, c,
        row_number() OVER (PARTITION BY event_type ORDER BY h DESC) AS rnd
      FROM hd) WHERE rnd <= 512),
    md AS (SELECT event_type, c AS m FROM (
      SELECT event_type, c,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY c, h) AS BIGINT) AS rv,
        count(*) OVER (PARTITION BY event_type) AS nn
      FROM l) WHERE rv = (nn + 1) // 2),
    sg AS (SELECT l.event_type, l.h,
        CASE WHEN l.c > md.m THEN 1 ELSE 0 END AS sgn
      FROM l JOIN md USING (event_type) WHERE l.c <> md.m),
    lg AS (SELECT event_type, sgn,
        lag(sgn) OVER (PARTITION BY event_type ORDER BY h) AS prev
      FROM sg),
    ag AS (SELECT event_type,
        CAST(sum(sgn) AS BIGINT) AS n1,
        CAST(sum(1 - sgn) AS BIGINT) AS n2,
        CAST(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
      FROM lg GROUP BY event_type)
    SELECT event_type, n1, n2, runs, CAST(n1 + n2 AS BIGINT) AS n,
      CAST(2 * n1 * n2 * 10000 // (n1 + n2) + 10000 AS BIGINT) AS mu_e4,
      CAST(((runs - 1) * (n1 + n2) - 2 * n1 * n2) * ((runs - 1) * (n1 + n2) - 2 * n1 * n2)
        * (n1 + n2 - 1) * 10000
        // nullif(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)), 0) AS BIGINT) AS z2_e4,
      ((((runs - 1) * (n1 + n2) - 2 * n1 * n2) * ((runs - 1) * (n1 + n2) - 2 * n1 * n2)
        * (n1 + n2 - 1) * 10000
        // nullif(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)), 0)) <= 38416) AS random_at_5pct
    FROM ag ORDER BY event_type"""))

  /** Record statistics per series (the running-extremes summary behind
    * "new all-time high" alerting): over the full hourly-mean history,
    * how many observations were a strict record high / record low at
    * arrival (the first observation counts as both, the standard
    * convention), and when the LAST record of each kind happened. A
    * stationary iid series collects records at harmonic-number rate
    * (~ln n); a trending series keeps setting them — cheap drift
    * evidence with zero parameters. All exact integer counting over
    * one running-extreme window per direction. Shapes: one hourly agg,
    * two prefix-extreme windows on the same sort, one per-series agg.
    */
  val tsRecordStats: Q = Q("ts_record_stats", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = hourly
      .withColumn("pmax", max("c").over(w))
      .withColumn("pmin", min("c").over(w))
      .withColumn("rec_hi", expr("CASE WHEN pmax IS NULL OR c > pmax THEN 1L ELSE 0L END"))
      .withColumn("rec_lo", expr("CASE WHEN pmin IS NULL OR c < pmin THEN 1L ELSE 0L END"))
    flagged.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("rec_hi").as("n_rec_hi"),
        sum("rec_lo").as("n_rec_lo"),
        max(expr("CASE WHEN rec_hi = 1 THEN h END")).as("h_last_hi"),
        max(expr("CASE WHEN rec_lo = 1 THEN h END")).as("h_last_lo"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    f AS (SELECT event_type, h, c,
        max(c) OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
        min(c) OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
      FROM hd),
    g AS (SELECT event_type, h,
        CASE WHEN pmax IS NULL OR c > pmax THEN 1 ELSE 0 END AS rec_hi,
        CASE WHEN pmin IS NULL OR c < pmin THEN 1 ELSE 0 END AS rec_lo
      FROM f)
    SELECT event_type, count(*)::BIGINT AS n,
      CAST(sum(rec_hi) AS BIGINT) AS n_rec_hi,
      CAST(sum(rec_lo) AS BIGINT) AS n_rec_lo,
      CAST(max(CASE WHEN rec_hi = 1 THEN h END) AS BIGINT) AS h_last_hi,
      CAST(max(CASE WHEN rec_lo = 1 THEN h END) AS BIGINT) AS h_last_lo
    FROM g GROUP BY event_type ORDER BY event_type"""))

  /** Lo–MacKinlay variance-ratio test (Lo & MacKinlay, "Stock market
    * prices do not follow random walks", Rev. Fin. Studies 1988 —
    * public) on the hourly-mean level series: VR(q) = Var(q-period
    * overlapping differences) / (q · Var(1-period differences)), ≈1
    * under a random walk, &gt;1 under momentum, &lt;1 under mean
    * reversion. Integer-exact by construction: per-q population
    * variance v_q = (ΣD² − 2·qμ·ΣD + m·(qμ)²) DIV m with μ the
    * TRUNCATING 1-diff mean — the GapStats expansion identity holds
    * for any constant center, so the single-pass sums reproduce the
    * centered sum exactly — then vr_e4 = v_q·10⁴ DIV (q·v₁). Every
    * intermediate is a bounded bigint (cents-scale diffs keep v_q·10⁴
    * under 10¹⁵ at any realistic magnitude). Shapes: one hourly agg,
    * one lag window per q on the same sort (single window exchange),
    * one per-(series,q) agg, a broadcast join back to the q=1 moments.
    */
  val tsVarianceRatio: Q = Q("ts_variance_ratio", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val diffs = hourly
      .withColumn("d1", col("c") - lag("c", 1).over(w))
      .withColumn("d2", col("c") - lag("c", 2).over(w))
      .withColumn("d4", col("c") - lag("c", 4).over(w))
      .withColumn("d8", col("c") - lag("c", 8).over(w))
    val stacked = diffs.select(col("event_type"),
      expr("""stack(4, 1L, d1, 2L, d2, 4L, d4, 8L, d8) AS (q, d)"""))
      .filter(col("d").isNotNull)
    val mo = stacked.groupBy("event_type", "q")
      .agg(count(lit(1)).as("m"), sum("d").as("sd"), sum(expr("d * d")).as("sdd"))
    val base = mo.filter(col("q") === 1)
      .select(col("event_type"), col("m").as("n1"),
        expr("sd DIV m").as("mu"), col("sd").as("sd1"), col("sdd").as("sdd1"))
      .withColumn("v1", expr("(sdd1 - 2 * mu * sd1 + n1 * mu * mu) DIV n1"))
    mo.filter(col("q") =!= 1)
      .join(broadcast(base), "event_type")
      .withColumn("vq", expr("(sdd - 2 * q * mu * sd + m * q * mu * q * mu) DIV m"))
      .select(col("event_type"), col("q"), col("m"), col("mu"), col("v1"), col("vq"),
        expr("vq * 10000 DIV nullif(q * v1, 0)").as("vr_e4"))
      .orderBy("event_type", "q")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    df AS (SELECT event_type,
        c - lag(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS d1,
        c - lag(c, 2) OVER (PARTITION BY event_type ORDER BY h) AS d2,
        c - lag(c, 4) OVER (PARTITION BY event_type ORDER BY h) AS d4,
        c - lag(c, 8) OVER (PARTITION BY event_type ORDER BY h) AS d8
      FROM hd),
    st AS (
      SELECT event_type, 1::BIGINT AS q, d1 AS d FROM df WHERE d1 IS NOT NULL
      UNION ALL SELECT event_type, 2, d2 FROM df WHERE d2 IS NOT NULL
      UNION ALL SELECT event_type, 4, d4 FROM df WHERE d4 IS NOT NULL
      UNION ALL SELECT event_type, 8, d8 FROM df WHERE d8 IS NOT NULL),
    mo AS (SELECT event_type, q, count(*)::BIGINT AS m,
        CAST(sum(d) AS BIGINT) AS sd, CAST(sum(d * d) AS BIGINT) AS sdd
      FROM st GROUP BY event_type, q),
    base AS (SELECT event_type, m AS n1, sd // m AS mu, sd AS sd1, sdd AS sdd1,
        (sdd - 2 * (sd // m) * sd + m * (sd // m) * (sd // m)) // m AS v1
      FROM mo WHERE q = 1)
    SELECT mo.event_type, mo.q, mo.m, base.mu, base.v1,
      (mo.sdd - 2 * mo.q * base.mu * mo.sd
        + mo.m * mo.q * base.mu * mo.q * base.mu) // mo.m AS vq,
      ((mo.sdd - 2 * mo.q * base.mu * mo.sd
        + mo.m * mo.q * base.mu * mo.q * base.mu) // mo.m) * 10000
        // nullif(mo.q * base.v1, 0) AS vr_e4
    FROM mo JOIN base USING (event_type)
    WHERE mo.q <> 1 ORDER BY mo.event_type, mo.q"""))

  /** Seasonal and trend STRENGTH per series (Wang, Smith & Hyndman,
    * "Characteristic-based clustering for time series data", DMKD 2006;
    * the tsfeatures F_s/F_t — public): from the same integer STL
    * pipeline as [[tsStlDecompose]], F_s = 1 − Var(resid)/Var(detrended)
    * and F_t = 1 − Var(resid)/Var(deseasonalized), floored at 0 — the
    * two numbers that say whether a series is worth a seasonal model
    * at all (the routing feature in front of every forecast fleet).
    * Variances are population-floor integers via the expansion
    * identity around the TRUNCATING mean (exact for any constant
    * center), strengths are one truncating division each (×10⁴) —
    * bit-identical cross-engine, no float anywhere. Shapes: the STL
    * chain (one trend window + one 24-cell seasonal agg) plus a
    * per-series moment agg.
    */
  val tsSeasonalStrength: Q = Q("ts_seasonal_strength", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("y"))
    val wt = Window.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    val withTrend = hourly
      .withColumn("tsum", sum("y").over(wt))
      .withColumn("tcnt", count(lit(1)).over(wt))
      .withColumn("trend", expr("tsum DIV tcnt"))
      .withColumn("det", col("y") - col("trend"))
      .withColumn("hod", expr("h % 24"))
    val seasonal = withTrend.groupBy("event_type", "hod")
      .agg(expr("sum(det) DIV count(1)").as("seasonal"))
    val comp = withTrend.join(seasonal, Seq("event_type", "hod"))
      .select(col("event_type"), col("det"),
        (col("det") - col("seasonal")).as("resid"),
        (col("y") - col("seasonal")).as("deseas"))
    def varExpr(sc: String, sscc: String, n: String): String =
      s"($sscc - 2 * ($sc DIV $n) * $sc + $n * ($sc DIV $n) * ($sc DIV $n)) DIV $n"
    comp.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("resid").as("sr"), sum(expr("resid * resid")).as("srr"),
        sum("det").as("sd"), sum(expr("det * det")).as("sdd"),
        sum("deseas").as("ss"), sum(expr("deseas * deseas")).as("sss"))
      .withColumn("v_resid", expr(varExpr("sr", "srr", "n")))
      .withColumn("v_det", expr(varExpr("sd", "sdd", "n")))
      .withColumn("v_deseas", expr(varExpr("ss", "sss", "n")))
      .select(col("event_type"), col("n"), col("v_resid"), col("v_det"), col("v_deseas"),
        expr("greatest(0L, 10000 - v_resid * 10000 DIV nullif(v_det, 0))").as("fs_e4"),
        expr("greatest(0L, 10000 - v_resid * 10000 DIV nullif(v_deseas, 0))").as("ft_e4"))
      .orderBy("event_type")
  }, Some {
    def varSql(sc: String, sscc: String, n: String): String =
      s"($sscc - 2 * ($sc // $n) * $sc + $n * ($sc // $n) * ($sc // $n)) // $n"
    s"""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS y
      FROM e GROUP BY event_type, h),
    t AS (SELECT event_type, h, y,
        CAST(sum(y) OVER w // count(*) OVER w AS BIGINT) AS trend
      FROM hd
      WINDOW w AS (PARTITION BY event_type ORDER BY h
        ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    d AS (SELECT *, y - trend AS det, h % 24 AS hod FROM t),
    se AS (SELECT event_type, hod, CAST(sum(det) // count(*) AS BIGINT) AS seasonal
      FROM d GROUP BY event_type, hod),
    c AS (SELECT d.event_type, d.det, d.det - se.seasonal AS resid,
        d.y - se.seasonal AS deseas
      FROM d JOIN se USING (event_type, hod)),
    mo AS (SELECT event_type, count(*)::BIGINT AS n,
        CAST(sum(resid) AS BIGINT) AS sr, CAST(sum(resid * resid) AS BIGINT) AS srr,
        CAST(sum(det) AS BIGINT) AS sd, CAST(sum(det * det) AS BIGINT) AS sdd,
        CAST(sum(deseas) AS BIGINT) AS ss, CAST(sum(deseas * deseas) AS BIGINT) AS sss
      FROM c GROUP BY event_type),
    v AS (SELECT event_type, n,
        ${varSql("sr", "srr", "n")} AS v_resid,
        ${varSql("sd", "sdd", "n")} AS v_det,
        ${varSql("ss", "sss", "n")} AS v_deseas
      FROM mo)
    SELECT event_type, n, v_resid, v_det, v_deseas,
      greatest(0, 10000 - v_resid * 10000 // nullif(v_det, 0)) AS fs_e4,
      greatest(0, 10000 - v_resid * 10000 // nullif(v_deseas, 0)) AS ft_e4
    FROM v ORDER BY event_type"""
  })

  /** Detrended fluctuation analysis (Peng et al., "Mosaic organization
    * of DNA nucleotides", Phys. Rev. E 1994 — public) in EXACT integer
    * arithmetic: integrate the series into the profile Y = Σ(c − μ)
    * (truncating mean — any constant center is fine for DFA), slice the observed sample
    * sequence (rank-indexed, the standard DFA convention — only the
    * tail remainder is dropped) into complete windows at scales n ∈ {4, 8, 16}, least-squares
    * detrend each window, and report the mean squared fluctuation
    * F²(n) per scale plus the dyadic ratio F²(n)/F²(n/2) — under
    * F²(n) ~ n²ᴴ that ratio is 2²ᴴ in e4 (20000 ⟹ H=½ random walk,
    * 40000 ⟹ H=1 strong persistence), so the Hurst exponent is
    * readable without a single float. The detrending is the Cramer
    * trick: with centered positions τ = 2t−(n−1) (Στ = 0, so the
    * window-zeroed shift never touches the slope term),
    * n·Sττ·RSS = n·Sττ·Σy² − Sττ·(Σy)² − n·(Στy)² is an integer
    * identity, floored once per window. Window-zeroing (subtract the
    * t=0 profile value, an in-aggregate CASE, no extra window pass)
    * keeps every product under 2⁶³ up to ~1.5·10⁶-cent deviations at
    * n=16 — ANSI throws loudly beyond, never silently wraps. Shapes:
    * one hourly agg, one per-key prefix-sum window, one 3×-stacked
    * keyed window agg, a 3-row-per-key lag window.
    */
  val tsDfa: Q = Q("ts_dfa", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val mu = hourly.groupBy("event_type")
      .agg(expr("sum(c) DIV count(1)").as("mu"))
    val prof = hourly.join(broadcast(mu), "event_type")
      .withColumn("y", sum(expr("c - mu")).over(
        Window.partitionBy("event_type").orderBy("h")))
      .withColumn("r", row_number().over(
        Window.partitionBy("event_type").orderBy("h")).cast("bigint") - 1)
    val wins = prof
      .select(col("event_type"), col("r"), col("y"),
        explode(expr("array(4L, 8L, 16L)")).as("n"))
      .withColumn("w", expr("r DIV n"))
      .withColumn("t", expr("r % n"))
      .groupBy("event_type", "n", "w")
      .agg(count(lit(1)).as("cnt"), sum("y").as("sy"),
        sum(expr("(2 * t - (n - 1)) * y")).as("sty"),
        sum(expr("y * y")).as("syy"),
        max(expr("CASE WHEN t = 0 THEN y END")).as("c0"))
      .filter(col("cnt") === col("n"))
      .withColumn("stt", expr("n * (n * n - 1) DIV 3"))
      .withColumn("syp", expr("sy - n * c0"))
      .withColumn("syyp", expr("syy - 2 * c0 * sy + n * c0 * c0"))
      .withColumn("rssf", expr(
        "(n * stt * syyp - stt * syp * syp - n * sty * sty) DIV (n * stt)"))
    wins.groupBy("event_type", "n")
      .agg(count(lit(1)).as("n_windows"), sum("rssf").as("rss_sum"))
      .withColumn("f2", expr("rss_sum DIV (n_windows * n)"))
      .withColumn("h2_ratio_e4", expr(
        "10000 * f2 DIV nullif(lag(f2) OVER (PARTITION BY event_type ORDER BY n), 0)"))
      .select("event_type", "n", "n_windows", "rss_sum", "f2", "h2_ratio_e4")
      .orderBy("event_type", "n")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, CAST(sum(cents) // count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, h),
    mu AS (SELECT event_type, CAST(sum(c) // count(*) AS BIGINT) AS mu
      FROM hd GROUP BY event_type),
    pf AS (SELECT hd.event_type, h,
        sum(c - mu) OVER (PARTITION BY hd.event_type ORDER BY h) AS y,
        CAST(row_number() OVER (PARTITION BY hd.event_type ORDER BY h) - 1 AS BIGINT) AS r
      FROM hd JOIN mu USING (event_type)),
    st AS (SELECT event_type, r, y, n, r // n AS w, r % n AS t
      FROM pf, unnest([4::BIGINT, 8::BIGINT, 16::BIGINT]) AS sc(n)),
    ws AS (SELECT event_type, n, w, count(*)::BIGINT AS cnt,
        CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum((2 * t - (n - 1)) * y) AS BIGINT) AS sty,
        CAST(sum(y * y) AS BIGINT) AS syy,
        CAST(max(CASE WHEN t = 0 THEN y END) AS BIGINT) AS c0
      FROM st GROUP BY event_type, n, w),
    rs AS (SELECT event_type, n,
        (n * (n * n - 1) // 3) AS stt,
        (sy - n * c0) AS syp,
        (syy - 2 * c0 * sy + n * c0 * c0) AS syyp,
        sty
      FROM ws WHERE cnt = n),
    rf AS (SELECT event_type, n,
        (n * stt * syyp - stt * syp * syp - n * sty * sty) // (n * stt) AS rssf
      FROM rs),
    ag AS (SELECT event_type, n, count(*)::BIGINT AS n_windows,
        CAST(sum(rssf) AS BIGINT) AS rss_sum
      FROM rf GROUP BY event_type, n)
    SELECT event_type, n, n_windows, rss_sum,
      CAST(rss_sum // (n_windows * n) AS BIGINT) AS f2,
      CAST(10000 * (rss_sum // (n_windows * n))
        // nullif(lag(rss_sum // (n_windows * n))
          OVER (PARTITION BY event_type ORDER BY n), 0) AS BIGINT) AS h2_ratio_e4
    FROM ag ORDER BY event_type, n"""))

  /** Mean-excess (mean residual life) profile — the standard
    * extreme-value-theory tail diagnostic (Davison & Smith, "Models
    * for exceedances over high thresholds", JRSS-B 1990 — public):
    * at the empirical 50/75/90% thresholds per event type, the mean
    * exceedance e(u) = E[X − u | X > u]. A mean-excess curve RISING in
    * u is the heavy-tail signature (GPD shape ξ > 0 — alert budgets
    * and capacity plans must use tail quantiles, not means); falling
    * means a short tail. EXACT throughout: thresholds are ceiling-rank
    * order statistics (rank = ⌈p·n/100⌉ via (p·n+99) DIV 100, ties on
    * event_id), exceedance means are one truncating division. Shapes:
    * one per-type rank window, a #type×3 broadcast threshold join, one
    * keyed agg.
    */
  val tsMeanExcess: Q = Q("ts_mean_excess", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val th = e
      .withColumn("rv", row_number().over(
        Window.partitionBy("event_type").orderBy("c", "event_id")).cast("bigint"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")))
      .select(col("event_type"), col("c"), col("rv"), col("nn"),
        explode(expr("array(50L, 75L, 90L)")).as("p"))
      .filter(expr("rv = (p * nn + 99) DIV 100"))
      .select(col("event_type"), col("p"), col("c").as("u"))
    e.join(broadcast(th), "event_type")
      .filter(col("c") > col("u"))
      .groupBy("event_type", "p", "u")
      .agg(count(lit(1)).as("n_exceed"), sum(expr("c - u")).as("excess_sum"))
      .withColumn("mean_excess", expr("excess_sum DIV n_exceed"))
      .orderBy("event_type", "p")
  }, Some("""WITH e AS (
      SELECT event_type, event_id,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    r AS (SELECT event_type, c,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS BIGINT) AS rv,
        count(*) OVER (PARTITION BY event_type) AS nn
      FROM e),
    th AS (SELECT event_type, p, c AS u
      FROM r, unnest([50::BIGINT, 75::BIGINT, 90::BIGINT]) AS pp(p)
      WHERE rv = (p * nn + 99) // 100)
    SELECT e.event_type, p, u, count(*)::BIGINT AS n_exceed,
      CAST(sum(c - u) AS BIGINT) AS excess_sum,
      CAST(sum(c - u) AS BIGINT) // count(*) AS mean_excess
    FROM e JOIN th USING (event_type)
    WHERE c > u
    GROUP BY e.event_type, p, u
    ORDER BY e.event_type, p"""))

  /** Dickey–Fuller unit-root screen (Dickey & Fuller, JASA 1979 —
    * public) over each type's hourly-mean series, in the quantized
    * fixed-point discipline of [[tsPacf]]: regress Δy_t on y_{t−1}
    * (with constant, via n-scaled centered moments), report
    * ρ̂ (e6) and the squared t-statistic (e4), and reject the unit
    * root at 5% when t² > 2.86² AND ρ̂ < 0 (the test is one-sided
    * negative; τ_c critical −2.86). The stationarity gate that decides
    * whether [[tsGrangerLite]]-class level regressions are even
    * meaningful, or the series needs differencing first. Exactness
    * contract: series values quantize to whole units (cents DIV 100)
    * and the moment products pass through shared ÷2¹² and ÷10⁴
    * truncations before squaring — both engines walk the identical
    * integer path, so the oracle is bit-exact while t² carries ~0.1
    * resolution (plenty for a screen against an 8.18 threshold).
    * Shapes: one hourly pre-agg, one per-type lag window, one keyed
    * agg — no joins.
    */
  val tsAdfLite: Q = Q("ts_adf_lite", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("(sum(cents) DIV count(1)) DIV 100").as("y"))
    val d = hourly
      .withColumn("x", lag("y", 1).over(
        Window.partitionBy("event_type").orderBy("h")))
      .filter(col("x").isNotNull)
      .withColumn("dy", col("y") - col("x"))
    d.groupBy("event_type").agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"), sum("dy").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * dy")).as("sxy"),
        sum(expr("dy * dy")).as("syy"))
      .withColumn("cxx", expr("(m * sxx - sx * sx) DIV 4096"))
      .withColumn("cxy", expr("(m * sxy - sx * sy) DIV 4096"))
      .withColumn("cyy", expr("(m * syy - sy * sy) DIV 4096"))
      .withColumn("rho_e6", expr("1000000 * (m * sxy - sx * sy) DIV nullif(m * sxx - sx * sx, 0)"))
      .withColumn("t2_e4", expr(
        """(cxy * cxy DIV nullif((cxx * cyy - cxy * cxy) DIV 10000, 0)) * (m - 2)"""))
      .withColumn("unit_root_rejected_5pct",
        expr("t2_e4 > 81796 AND rho_e6 < 0"))
      .select("event_type", "m", "rho_e6", "t2_e4", "unit_root_rejected_5pct")
      .orderBy("event_type")
  }, Some("""WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) // count(*)) // 100 AS y
      FROM events GROUP BY 1, 2),
    d0 AS (SELECT event_type, y,
        lag(y) OVER (PARTITION BY event_type ORDER BY h) AS x
      FROM hourly),
    d AS (SELECT event_type, x, y - x AS dy FROM d0 WHERE x IS NOT NULL),
    a AS (SELECT event_type,
        count(*)::BIGINT AS m,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * dy) AS BIGINT) AS sxy,
        CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM d GROUP BY event_type),
    b AS (SELECT event_type, m,
        (m * sxx - sx * sx) // 4096 AS cxx,
        (m * sxy - sx * sy) // 4096 AS cxy,
        (m * syy - sy * sy) // 4096 AS cyy,
        CAST(1000000 * (m * sxy - sx * sy) // nullif(m * sxx - sx * sx, 0) AS BIGINT) AS rho_e6
      FROM a),
    t AS (SELECT event_type, m, rho_e6,
        CAST((cxy * cxy // nullif((cxx * cyy - cxy * cxy) // 10000, 0)) * (m - 2) AS BIGINT) AS t2_e4
      FROM b)
    SELECT event_type, m, rho_e6, t2_e4,
      (t2_e4 > 81796 AND rho_e6 < 0) AS unit_root_rejected_5pct
    FROM t ORDER BY event_type"""))

  /** Engle–Granger cointegration screen (Engle & Granger, Econometrica
    * 1987 — public), composing the [[tsAdfLite]] machinery pairwise:
    * for every ordered event-type pair, (1) OLS y = α + βx on the
    * inner-joined hourly-mean unit series via n-scaled centered integer
    * moments, (2) the Dickey–Fuller screen on the REGRESSION RESIDUAL —
    * if two non-stationary series share a stochastic trend, the
    * residual is stationary and the pair co-moves (the
    * pairs-trading / redundant-metric detector). Exactness discipline:
    * the residual is carried as the integer m·D·e (no division), then
    * quantized to deci-units by ONE shared truncating division before
    * the DF moments; centered products pass ÷2²⁰ and ÷10⁴ stages. Both
    * engines walk the identical integer path. Verdict at the EG 5%
    * two-variable critical −3.34: t² > 111556 (e4) AND ρ̂ < 0.
    * Headroom: safe while m·D·|y| < 2⁶¹ (D = m·Σx²−(Σx)²) — at 10⁴
    * aligned hours and 200-unit values that is 8·10¹⁸; rescale the
    * unit quantizer first at larger spans. Shapes: one hourly pre-agg,
    * one hour-keyed pair join between Aggregate boundaries, one
    * #pairs-row broadcast of the step-1 moments, one lag window, one
    * keyed agg.
    */
  val tsCointLite: Q = Q("ts_cointegration_lite", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("(sum(cents) DIV count(1)) DIV 100").as("y"))
    val a = hourly.select(col("event_type").as("ta"), col("h"), col("y"))
    val b = hourly.select(col("event_type").as("tb"), col("h").as("hb"),
      col("y").as("x"))
    val pairs = a.join(b, col("h") === col("hb") && col("ta") =!= col("tb"))
      .select("ta", "tb", "h", "y", "x").persist()
    val s1 = pairs.groupBy("ta", "tb").agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .withColumn("dd", expr("m * sxx - sx * sx"))
      .withColumn("num", expr("m * sxy - sx * sy"))
      .withColumn("beta_e6", expr("1000000 * num DIV nullif(dd, 0)"))
    val r = pairs.join(broadcast(s1), Seq("ta", "tb"))
      .withColumn("eq", expr(
        """(m * dd * y - (dd * sy - num * sx) - m * num * x)
           DIV nullif((m * dd) DIV 10, 0)"""))
      .withColumn("ex", lag("eq", 1).over(
        Window.partitionBy("ta", "tb").orderBy("h")))
      .filter(col("ex").isNotNull)
      .withColumn("de", col("eq") - col("ex"))
    r.groupBy("ta", "tb").agg(
        max("m").as("m"), max("beta_e6").as("beta_e6"),
        count(lit(1)).as("m2"),
        sum("ex").as("s2x"), sum("de").as("s2y"),
        sum(expr("ex * ex")).as("s2xx"), sum(expr("ex * de")).as("s2xy"),
        sum(expr("de * de")).as("s2yy"))
      .withColumn("cxx", expr("(m2 * s2xx - s2x * s2x) DIV 1048576"))
      .withColumn("cxy", expr("(m2 * s2xy - s2x * s2y) DIV 1048576"))
      .withColumn("cyy", expr("(m2 * s2yy - s2y * s2y) DIV 1048576"))
      .withColumn("rho_e4",
        expr("10000 * (m2 * s2xy - s2x * s2y) DIV nullif(m2 * s2xx - s2x * s2x, 0)"))
      .withColumn("t2_e4", expr(
        "(cxy * cxy DIV nullif((cxx * cyy - cxy * cxy) DIV 10000, 0)) * (m2 - 2)"))
      .withColumn("cointegrated_5pct", expr("t2_e4 > 111556 AND rho_e4 < 0"))
      .select("ta", "tb", "m", "beta_e6", "rho_e4", "t2_e4", "cointegrated_5pct")
      .orderBy("ta", "tb")
  }, Some("""WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) // count(*)) // 100 AS y
      FROM events GROUP BY 1, 2),
    pairs AS (SELECT a.event_type AS ta, b.event_type AS tb, a.h, a.y, b.y AS x
      FROM hourly a JOIN hourly b ON a.h = b.h AND a.event_type <> b.event_type),
    s1 AS (SELECT ta, tb, count(*)::BIGINT AS m,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY ta, tb),
    s2 AS (SELECT ta, tb, m, sx, sy, sxx, sxy,
        m * sxx - sx * sx AS dd, m * sxy - sx * sy AS num,
        CAST(1000000 * (m * sxy - sx * sy) // nullif(m * sxx - sx * sx, 0) AS BIGINT) AS beta_e6
      FROM s1),
    rr AS (SELECT p.ta, p.tb, p.h, s2.m, s2.beta_e6,
        (s2.m * s2.dd * p.y - (s2.dd * s2.sy - s2.num * s2.sx) - s2.m * s2.num * p.x)
          // nullif((s2.m * s2.dd) // 10, 0) AS eq
      FROM pairs p JOIN s2 ON s2.ta = p.ta AND s2.tb = p.tb),
    lg AS (SELECT ta, tb, m, beta_e6, eq,
        lag(eq) OVER (PARTITION BY ta, tb ORDER BY h) AS ex
      FROM rr),
    d AS (SELECT ta, tb, m, beta_e6, ex, eq - ex AS de FROM lg WHERE ex IS NOT NULL),
    ag AS (SELECT ta, tb, max(m) AS m, max(beta_e6) AS beta_e6,
        count(*)::BIGINT AS m2,
        CAST(sum(ex) AS BIGINT) AS s2x, CAST(sum(de) AS BIGINT) AS s2y,
        CAST(sum(ex * ex) AS BIGINT) AS s2xx, CAST(sum(ex * de) AS BIGINT) AS s2xy,
        CAST(sum(de * de) AS BIGINT) AS s2yy
      FROM d GROUP BY ta, tb),
    fin AS (SELECT ta, tb, m, beta_e6, m2,
        (m2 * s2xx - s2x * s2x) // 1048576 AS cxx,
        (m2 * s2xy - s2x * s2y) // 1048576 AS cxy,
        (m2 * s2yy - s2y * s2y) // 1048576 AS cyy,
        CAST(10000 * (m2 * s2xy - s2x * s2y)
          // nullif(m2 * s2xx - s2x * s2x, 0) AS BIGINT) AS rho_e4
      FROM ag),
    t AS (SELECT ta, tb, m, beta_e6, rho_e4,
        CAST((cxy * cxy // nullif((cxx * cyy - cxy * cxy) // 10000, 0)) * (m2 - 2) AS BIGINT) AS t2_e4
      FROM fin)
    SELECT ta, tb, CAST(m AS BIGINT) AS m, beta_e6, rho_e4, t2_e4,
      (t2_e4 > 111556 AND rho_e4 < 0) AS cointegrated_5pct
    FROM t ORDER BY ta, tb"""))

  /** Planted common-trend VALIDATION of the unit-root / cointegration
    * machinery (the [[graft.queries.Dedup]] lshEval pattern applied to
    * econometrics): the raw hourly means are already stationary (the
    * [[tsAdfLite]] verdict), so [[tsCointLite]] never exercises its
    * non-trivial branch on this corpus. This harness PLANTS integrated
    * trends with known ground truth — a deterministic ±200-unit random
    * walk w1 (md5-hash steps, cumsum over the hourly spine) shared by
    * za = (y_click + w1)÷10 and zb = (y_view + 2·w1)÷10, and an
    * INDEPENDENT walk w2 under zc = (y_purchase + w2)÷10 — then runs
    * four Dickey–Fuller screens through ONE shared lag+moments
    * pipeline. The walk must DOMINATE the stationary hourly noise
    * (steps 10× the noise sd, ÷10 quantization restoring the integer
    * scale): noise riding on a weak walk makes Δz an MA(1) and the
    * unaugmented DF over-rejects (Schwert, JBES 1989 — public), which
    * is exactly what the first cut of this harness reproduced. Tests:
    * `adf_level` (za itself: must NOT reject — the walk dominates),
    * `adf_diff` (Δza via second differences in the same window: must
    * reject), `eg_shared` (EG residual of zb on za: the shared trend
    * cancels, must reject ⇒ cointegrated) and `eg_indep` (residual of
    * zc on za keeps w2 − β̂·w1: must NOT reject ⇒ spurious regression
    * detected). Fixed-point discipline identical to [[tsCointLite]]:
    * m·D·e residuals quantized to deci-units by ONE shared division,
    * centered moments through ÷2²⁰ then ÷10⁴ before the t² ratio; ADF
    * rows are scaled ×10 onto the same deci grid. Critical values per
    * family: τ²=2.86² (e4 81796) for ADF, EG 2-var −3.34 (111556).
    * Headroom: walk sd ≈ 20·√(T/12) units keeps m·D·|y| ≈ 10¹⁷ at
    * 10³ hours — rescale the step before the span grows 10×; a
    * broadcast raise_error gate (T > 2000 or |walk| > 5·10⁴) fails
    * loudly and self-describingly before any ANSI overflow could. Shapes:
    * one hourly pre-agg, a provably-small cumsum window on the
    * distinct-hour spine, hour-keyed joins between Aggregate
    * boundaries, one 4-partition lag window, one keyed agg; 4 rows.
    * TsCointEvalSpec pins all four ground-truth verdicts.
    */
  val tsCointEval: Q = Q("ts_cointegration_eval", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("(sum(cents) DIV count(1)) DIV 100").as("y"))
      .persist()
    val spine = hourly.select("h").distinct()
      .withColumn("d1", expr(
        s"${graft.ops.Sketch.h60("'cw1'", "CAST(h AS STRING)")} % 401 - 200"))
      .withColumn("d2", expr(
        s"${graft.ops.Sketch.h60("'cw2'", "CAST(h AS STRING)")} % 401 - 200"))
    val cum = Window.orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // tiny-intermediate truncation (the NSW truncation rule): walk, za and the
    // pair relation are a few hundred rows each but sit under DEEP
    // multi-referenced subtrees — eager localCheckpoint collapses the
    // re-executed lineage and the per-level codegen tax (3.9 s -> ~1 s
    // at sf0.1)
    val walkRaw = spine.select(col("h"),
      sum("d1").over(cum).as("w1"), sum("d2").over(cum).as("w2"))
    // loud domain gate (the graph 2^20 pattern): the fixed-point
    // pipeline sits at ~1e17 of the 9.2e18 BIGINT ceiling at ~1e3
    // hours, and under ANSI both engines THROW on overflow — fail
    // self-describingly BEFORE the moments if a testdata regen ever
    // stretches the hour span / walk magnitude past the headroom.
    // One-row aggregate, broadcast, zero effect on valid domains.
    val domainGate = walkRaw.agg(count(lit(1)).as("nh"),
        max(abs(col("w1"))).as("aw1"), max(abs(col("w2"))).as("aw2"))
      .select(expr("""CASE WHEN nh > 2000 OR greatest(aw1, aw2) > 50000
          THEN raise_error(concat('ts_cointegration_eval: domain outgrew ',
            'the fixed-point headroom (hours=', CAST(nh AS STRING),
            ', max|walk|=', CAST(greatest(aw1, aw2) AS STRING),
            ') - rescale the walk step (see scaladoc headroom note)'))
          ELSE 1 END""").as("_domain_ok"))
    val walk = walkRaw.crossJoin(broadcast(domainGate))
      .where(col("_domain_ok") === 1).drop("_domain_ok")
      .localCheckpoint(true)
    def series(t: String) =
      hourly.filter(col("event_type") === t).select(col("h"), col("y"))
    val za = series("click").join(walk, "h")
      .select(col("h"), expr("(y + w1) DIV 10").as("za"))
      .localCheckpoint(true)
    val zb = series("view").join(walk, "h")
      .select(col("h"), expr("(y + 2 * w1) DIV 10").as("zb"))
    val zc = series("purchase").join(walk, "h")
      .select(col("h"), expr("(y + w2) DIV 10").as("zc"))
    // EG step 1: per-pair OLS moments on the hour-aligned levels, then
    // the division-free m·D·e residual quantized to deci-units (the
    // tsCointLite discipline, keyed by test instead of type pair)
    val pairRel = za.join(zb, "h")
      .select(lit("eg_shared").as("test"), col("h"), col("zb").as("yy"), col("za").as("xx"))
      .unionByName(za.join(zc, "h")
        .select(lit("eg_indep").as("test"), col("h"), col("zc").as("yy"), col("za").as("xx")))
      .localCheckpoint(true)
    val s1 = pairRel.groupBy("test").agg(
        count(lit(1)).as("m"),
        sum("xx").as("sx"), sum("yy").as("sy"),
        sum(expr("xx * xx")).as("sxx"), sum(expr("xx * yy")).as("sxy"))
      .withColumn("dd", expr("m * sxx - sx * sx"))
      .withColumn("num", expr("m * sxy - sx * sy"))
    val egSer = pairRel.join(broadcast(s1), "test")
      .select(col("test"), col("h"), expr(
        """(m * dd * yy - (dd * sy - num * sx) - m * num * xx)
           DIV nullif((m * dd) DIV 10, 0)""").as("v"))
    val ser = za.select(lit("adf_level").as("test"), col("h"), (col("za") * 10).as("v"))
      .unionByName(za.select(lit("adf_diff").as("test"), col("h"), (col("za") * 10).as("v")))
      .unionByName(egSer)
    // ONE lag window: x/dv are first differences for the level tests,
    // SECOND differences (x = v1−v2, dv = v−2v1+v2) for adf_diff
    val w = Window.partitionBy("test").orderBy("h")
    val d = ser
      .withColumn("v1", lag("v", 1).over(w))
      .withColumn("v2", lag("v", 2).over(w))
      .withColumn("x", expr(
        "CASE WHEN test = 'adf_diff' THEN v1 - v2 ELSE v1 END"))
      .withColumn("dv", expr(
        "CASE WHEN test = 'adf_diff' THEN v - 2 * v1 + v2 ELSE v - v1 END"))
      .filter(col("x").isNotNull && col("dv").isNotNull)
    d.groupBy("test").agg(
        count(lit(1)).as("m2"),
        sum("x").as("s2x"), sum("dv").as("s2y"),
        sum(expr("x * x")).as("s2xx"), sum(expr("x * dv")).as("s2xy"),
        sum(expr("dv * dv")).as("s2yy"))
      .withColumn("cxx", expr("(m2 * s2xx - s2x * s2x) DIV 4096"))
      .withColumn("cxy", expr("(m2 * s2xy - s2x * s2y) DIV 4096"))
      .withColumn("cyy", expr("(m2 * s2yy - s2y * s2y) DIV 4096"))
      .withColumn("rho_e4",
        expr("10000 * (m2 * s2xy - s2x * s2y) DIV nullif(m2 * s2xx - s2x * s2x, 0)"))
      .withColumn("t2_e4", expr(
        """CASE WHEN (cxx * cyy - cxy * cxy) DIV 10000 = 0
           THEN CASE WHEN cxy <> 0 THEN 1073741824L ELSE 0L END
           ELSE (cxy * cxy DIV ((cxx * cyy - cxy * cxy) DIV 10000)) * (m2 - 2) END"""))
      .withColumn("crit_e4", expr(
        "CASE WHEN test LIKE 'eg%' THEN 111556L ELSE 81796L END"))
      .withColumn("rejected", expr("t2_e4 > crit_e4 AND rho_e4 < 0"))
      .select("test", "m2", "rho_e4", "t2_e4", "crit_e4", "rejected")
      .orderBy("test")
  }, Some("""WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) // count(*)) // 100 AS y
      FROM events GROUP BY 1, 2),
    spine AS (SELECT h,
        CAST('0x' || substr(md5('cw1' || ':' || CAST(h AS VARCHAR)), 1, 15) AS BIGINT) % 401 - 200 AS d1,
        CAST('0x' || substr(md5('cw2' || ':' || CAST(h AS VARCHAR)), 1, 15) AS BIGINT) % 401 - 200 AS d2
      FROM (SELECT DISTINCT h FROM hourly)),
    walk AS MATERIALIZED (SELECT h,
        sum(d1) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w1,
        sum(d2) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w2
      FROM spine),
    za AS MATERIALIZED (SELECT hourly.h, (y + w1) // 10 AS za
      FROM hourly JOIN walk ON walk.h = hourly.h WHERE event_type = 'click'),
    zb AS (SELECT hourly.h, (y + 2 * w1) // 10 AS zb
      FROM hourly JOIN walk ON walk.h = hourly.h WHERE event_type = 'view'),
    zc AS (SELECT hourly.h, (y + w2) // 10 AS zc
      FROM hourly JOIN walk ON walk.h = hourly.h WHERE event_type = 'purchase'),
    pr AS MATERIALIZED (
      SELECT 'eg_shared' AS test, za.h, zb AS yy, za AS xx FROM za JOIN zb ON zb.h = za.h
      UNION ALL
      SELECT 'eg_indep' AS test, za.h, zc AS yy, za AS xx FROM za JOIN zc ON zc.h = za.h),
    s1 AS (SELECT test, count(*)::BIGINT AS m,
        CAST(sum(xx) AS BIGINT) AS sx, CAST(sum(yy) AS BIGINT) AS sy,
        CAST(sum(xx * xx) AS BIGINT) AS sxx, CAST(sum(xx * yy) AS BIGINT) AS sxy
      FROM pr GROUP BY test),
    s1b AS (SELECT test, m, sx, sy,
        m * sxx - sx * sx AS dd, m * sxy - sx * sy AS num
      FROM s1),
    eg AS (SELECT pr.test, pr.h,
        (s1b.m * s1b.dd * pr.yy - (s1b.dd * s1b.sy - s1b.num * s1b.sx)
          - s1b.m * s1b.num * pr.xx)
          // nullif((s1b.m * s1b.dd) // 10, 0) AS v
      FROM pr JOIN s1b ON s1b.test = pr.test),
    ser AS (
      SELECT 'adf_level' AS test, h, za * 10 AS v FROM za
      UNION ALL
      SELECT 'adf_diff' AS test, h, za * 10 AS v FROM za
      UNION ALL
      SELECT test, h, v FROM eg),
    lg AS (SELECT test, v,
        lag(v, 1) OVER (PARTITION BY test ORDER BY h) AS v1,
        lag(v, 2) OVER (PARTITION BY test ORDER BY h) AS v2
      FROM ser),
    d AS (SELECT test,
        CASE WHEN test = 'adf_diff' THEN v1 - v2 ELSE v1 END AS x,
        CASE WHEN test = 'adf_diff' THEN v - 2 * v1 + v2 ELSE v - v1 END AS dv
      FROM lg),
    d2 AS (SELECT * FROM d WHERE x IS NOT NULL AND dv IS NOT NULL),
    ag AS (SELECT test, count(*)::BIGINT AS m2,
        CAST(sum(x) AS BIGINT) AS s2x, CAST(sum(dv) AS BIGINT) AS s2y,
        CAST(sum(x * x) AS BIGINT) AS s2xx, CAST(sum(x * dv) AS BIGINT) AS s2xy,
        CAST(sum(dv * dv) AS BIGINT) AS s2yy
      FROM d2 GROUP BY test),
    fin AS (SELECT test, m2,
        (m2 * s2xx - s2x * s2x) // 4096 AS cxx,
        (m2 * s2xy - s2x * s2y) // 4096 AS cxy,
        (m2 * s2yy - s2y * s2y) // 4096 AS cyy,
        CAST(10000 * (m2 * s2xy - s2x * s2y)
          // nullif(m2 * s2xx - s2x * s2x, 0) AS BIGINT) AS rho_e4
      FROM ag),
    t AS (SELECT test, m2, rho_e4,
        CAST(CASE WHEN (cxx * cyy - cxy * cxy) // 10000 = 0
          THEN CASE WHEN cxy <> 0 THEN 1073741824 ELSE 0 END
          ELSE (cxy * cxy // ((cxx * cyy - cxy * cxy) // 10000)) * (m2 - 2) END AS BIGINT) AS t2_e4,
        CAST(CASE WHEN test LIKE 'eg%' THEN 111556 ELSE 81796 END AS BIGINT) AS crit_e4
      FROM fin)
    SELECT test, m2, rho_e4, t2_e4, crit_e4,
      (t2_e4 > crit_e4 AND rho_e4 < 0) AS rejected
    FROM t ORDER BY test"""))

  /** Forecast COMBINATION (Bates & Granger, "The Combination of
    * Forecasts", OR Quarterly 1969 — public): per event type, three
    * cheap forecasters over the hourly-mean series — naive (last),
    * drift (last + h·mean-slope) and mean-4 (window mean) — are
    * weighted by inverse error measured on a VALIDATION window (the 3
    * hours before the holdout), then the weighted ensemble and every
    * individual method are graded on the 3-hour HOLDOUT. The classic
    * claim (the combination is rarely worse than its members, often
    * better than the best) is reported as a per-type boolean — a
    * DESCRIPTIVE column, not an invariant: convexity guarantees
    * mae_ens ≤ worst only in exact arithmetic; the per-step DIV ws
    * floor plus the final DIV 3 make the provable bound
    * mae_ens ≤ worst + 1 (ForecastEnsembleSpec pins that bound). All
    * exact integers: inverse-error weights avoid division entirely by
    * the product trick — w_i ∝ Π_{j≠i}(ê_j + 1), ensemble =
    * Σ num_i·f_i DIV Σ num_i (ONE shared truncating division per
    * step), weights reported in bp by the same rationals. Headroom:
    * ê ≤ 3·|Δy|_max keeps num·f ≲ 10¹⁷ at cent scale. Shapes: one
    * hourly pre-agg, one per-type sorted fold, per-type scalar
    * arithmetic — no joins, no windows over data.
    */
  val tsForecastEnsemble: Q = Q("ts_forecast_ensemble", (s, dir) => {
    Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("transform(array_sort(collect_list(struct(h, y))), s -> s.y)").as("ys"))
      .filter(col("n") >= 12)
      // validation window: forecast ys[m1+1..m1+3] from the prefix of m1
      .withColumn("m1", expr("n - 6"))
      .withColumn("l1", expr("element_at(ys, CAST(m1 AS INT))"))
      .withColumn("d1", expr("(l1 - element_at(ys, 1)) DIV (m1 - 1)"))
      .withColumn("mw1", expr(
        """(element_at(ys, CAST(m1 - 3 AS INT)) + element_at(ys, CAST(m1 - 2 AS INT))
          + element_at(ys, CAST(m1 - 1 AS INT)) + element_at(ys, CAST(m1 AS INT))) DIV 4"""))
      .withColumn("ew_naive", expr(
        """abs(l1 - element_at(ys, CAST(m1 + 1 AS INT)))
         + abs(l1 - element_at(ys, CAST(m1 + 2 AS INT)))
         + abs(l1 - element_at(ys, CAST(m1 + 3 AS INT)))"""))
      .withColumn("ew_drift", expr(
        """abs(l1 + 1 * d1 - element_at(ys, CAST(m1 + 1 AS INT)))
         + abs(l1 + 2 * d1 - element_at(ys, CAST(m1 + 2 AS INT)))
         + abs(l1 + 3 * d1 - element_at(ys, CAST(m1 + 3 AS INT)))"""))
      .withColumn("ew_mean", expr(
        """abs(mw1 - element_at(ys, CAST(m1 + 1 AS INT)))
         + abs(mw1 - element_at(ys, CAST(m1 + 2 AS INT)))
         + abs(mw1 - element_at(ys, CAST(m1 + 3 AS INT)))"""))
      .withColumn("num_naive", expr("(ew_drift + 1) * (ew_mean + 1)"))
      .withColumn("num_drift", expr("(ew_naive + 1) * (ew_mean + 1)"))
      .withColumn("num_mean", expr("(ew_naive + 1) * (ew_drift + 1)"))
      .withColumn("ws", expr("num_naive + num_drift + num_mean"))
      // holdout: forecast ys[m2+1..m2+3] from the prefix of m2 = n - 3
      .withColumn("m2", expr("n - 3"))
      .withColumn("l2", expr("element_at(ys, CAST(m2 AS INT))"))
      .withColumn("d2", expr("(l2 - element_at(ys, 1)) DIV (m2 - 1)"))
      .withColumn("mw2", expr(
        """(element_at(ys, CAST(m2 - 3 AS INT)) + element_at(ys, CAST(m2 - 2 AS INT))
          + element_at(ys, CAST(m2 - 1 AS INT)) + element_at(ys, CAST(m2 AS INT))) DIV 4"""))
      .withColumn("a1", expr("element_at(ys, CAST(m2 + 1 AS INT))"))
      .withColumn("a2", expr("element_at(ys, CAST(m2 + 2 AS INT))"))
      .withColumn("a3", expr("element_at(ys, CAST(m2 + 3 AS INT))"))
      .withColumn("mae_naive", expr("(abs(l2 - a1) + abs(l2 - a2) + abs(l2 - a3)) DIV 3"))
      .withColumn("mae_drift", expr(
        "(abs(l2 + 1 * d2 - a1) + abs(l2 + 2 * d2 - a2) + abs(l2 + 3 * d2 - a3)) DIV 3"))
      .withColumn("mae_mean", expr("(abs(mw2 - a1) + abs(mw2 - a2) + abs(mw2 - a3)) DIV 3"))
      .withColumn("mae_ens", expr(
        """(abs((num_naive * l2 + num_drift * (l2 + 1 * d2) + num_mean * mw2) DIV ws - a1)
         + abs((num_naive * l2 + num_drift * (l2 + 2 * d2) + num_mean * mw2) DIV ws - a2)
         + abs((num_naive * l2 + num_drift * (l2 + 3 * d2) + num_mean * mw2) DIV ws - a3)) DIV 3"""))
      .withColumn("w_naive_bp", expr("10000 * num_naive DIV ws"))
      .withColumn("w_drift_bp", expr("10000 * num_drift DIV ws"))
      .withColumn("w_mean_bp", expr("10000 * num_mean DIV ws"))
      .withColumn("ens_beats_worst",
        expr("mae_ens <= greatest(mae_naive, mae_drift, mae_mean)"))
      .select("event_type", "n", "w_naive_bp", "w_drift_bp", "w_mean_bp",
        "mae_naive", "mae_drift", "mae_mean", "mae_ens", "ens_beats_worst")
      .orderBy("event_type")
  }, Some("""WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) // count(*) AS y
      FROM events GROUP BY 1, 2),
    g AS (SELECT event_type, count(*)::BIGINT AS n,
        list(y ORDER BY h) AS ys
      FROM hourly GROUP BY event_type),
    q AS (SELECT * FROM g WHERE n >= 12),
    v AS (SELECT event_type, n, ys,
        n - 6 AS m1,
        ys[CAST(n - 6 AS INT)] AS l1,
        (ys[CAST(n - 6 AS INT)] - ys[1]) // (n - 7) AS d1,
        (ys[CAST(n - 9 AS INT)] + ys[CAST(n - 8 AS INT)]
          + ys[CAST(n - 7 AS INT)] + ys[CAST(n - 6 AS INT)]) // 4 AS mw1
      FROM q),
    w AS (SELECT event_type, n, ys,
        abs(l1 - ys[CAST(m1 + 1 AS INT)]) + abs(l1 - ys[CAST(m1 + 2 AS INT)])
          + abs(l1 - ys[CAST(m1 + 3 AS INT)]) AS ew_naive,
        abs(l1 + 1 * d1 - ys[CAST(m1 + 1 AS INT)])
          + abs(l1 + 2 * d1 - ys[CAST(m1 + 2 AS INT)])
          + abs(l1 + 3 * d1 - ys[CAST(m1 + 3 AS INT)]) AS ew_drift,
        abs(mw1 - ys[CAST(m1 + 1 AS INT)]) + abs(mw1 - ys[CAST(m1 + 2 AS INT)])
          + abs(mw1 - ys[CAST(m1 + 3 AS INT)]) AS ew_mean
      FROM v),
    x AS (SELECT event_type, n, ys,
        (ew_drift + 1) * (ew_mean + 1) AS num_naive,
        (ew_naive + 1) * (ew_mean + 1) AS num_drift,
        (ew_naive + 1) * (ew_drift + 1) AS num_mean
      FROM w),
    y2 AS (SELECT event_type, n, ys, num_naive, num_drift, num_mean,
        num_naive + num_drift + num_mean AS ws,
        n - 3 AS m2,
        ys[CAST(n - 3 AS INT)] AS l2,
        (ys[CAST(n - 3 AS INT)] - ys[1]) // (n - 4) AS d2,
        (ys[CAST(n - 6 AS INT)] + ys[CAST(n - 5 AS INT)]
          + ys[CAST(n - 4 AS INT)] + ys[CAST(n - 3 AS INT)]) // 4 AS mw2,
        ys[CAST(n - 2 AS INT)] AS a1,
        ys[CAST(n - 1 AS INT)] AS a2,
        ys[CAST(n AS INT)] AS a3
      FROM x),
    fin AS (SELECT event_type, n,
        CAST(10000 * num_naive // ws AS BIGINT) AS w_naive_bp,
        CAST(10000 * num_drift // ws AS BIGINT) AS w_drift_bp,
        CAST(10000 * num_mean // ws AS BIGINT) AS w_mean_bp,
        CAST((abs(l2 - a1) + abs(l2 - a2) + abs(l2 - a3)) // 3 AS BIGINT) AS mae_naive,
        CAST((abs(l2 + 1 * d2 - a1) + abs(l2 + 2 * d2 - a2)
          + abs(l2 + 3 * d2 - a3)) // 3 AS BIGINT) AS mae_drift,
        CAST((abs(mw2 - a1) + abs(mw2 - a2) + abs(mw2 - a3)) // 3 AS BIGINT) AS mae_mean,
        CAST((abs((num_naive * l2 + num_drift * (l2 + 1 * d2) + num_mean * mw2) // ws - a1)
          + abs((num_naive * l2 + num_drift * (l2 + 2 * d2) + num_mean * mw2) // ws - a2)
          + abs((num_naive * l2 + num_drift * (l2 + 3 * d2) + num_mean * mw2) // ws - a3))
          // 3 AS BIGINT) AS mae_ens
      FROM y2)
    SELECT event_type, n, w_naive_bp, w_drift_bp, w_mean_bp,
      mae_naive, mae_drift, mae_mean, mae_ens,
      (mae_ens <= greatest(mae_naive, mae_drift, mae_mean)) AS ens_beats_worst
    FROM fin ORDER BY event_type"""))

  /** Extremal index θ — the tail-clustering diagnostic that completes
    * the POT family around [[tsMeanExcess]]: θ ≈ 1 means threshold
    * exceedances arrive independently, θ < 1 means they CLUSTER
    * (1/θ ≈ mean cluster size), which is what turns "99.9th-percentile
    * spike" into "sustained incident" for alerting and capacity. Two
    * standard estimators, both exact integer arithmetic over the
    * time-ordered exceedance indexes of the empirical 90%-rank
    * threshold (same ceiling-rank order statistic as ts_mean_excess):
    * the RUNS estimator θ̂ = #clusters / #exceedances with run length
    * r = 2 (a new cluster starts when the index gap to the previous
    * exceedance is > 2), and the Ferro–Segers INTERVALS estimator
    * θ̂ = min(1, 2(ΣT)² / ((N−1)·ΣT²)) over the N−1 interexceedance
    * times T (Ferro & Segers, JRSS-B 2003 — public), both in basis
    * points via truncating DIV. Shapes: one per-type rank window for
    * the threshold, a #type-row broadcast join, one ordered per-type
    * lag window, one keyed agg. Headroom: 20000·(ΣT)² stays under the
    * bigint edge while ΣT ≤ ~6·10⁸ rows per type.
    */
  val tsExtremalIndex: Q = Q("ts_extremal_index", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      col("ts_us"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val idxd = e.withColumn("idx", row_number().over(
      Window.partitionBy("event_type").orderBy("ts_us", "event_id")).cast("bigint"))
    val th = e
      .withColumn("rv", row_number().over(
        Window.partitionBy("event_type").orderBy("c", "event_id")).cast("bigint"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(expr("rv = (90 * nn + 99) DIV 100"))
      .select(col("event_type"), col("c").as("u"))
    val g = idxd.join(broadcast(th), "event_type")
      .filter(col("c") > col("u"))
      .withColumn("gap", col("idx") - lag("idx", 1).over(
        Window.partitionBy("event_type").orderBy("idx")))
    g.groupBy("event_type", "u").agg(
        count(lit(1)).as("n_exceed"),
        sum(expr("CASE WHEN gap IS NULL OR gap > 2 THEN 1L ELSE 0L END")).as("n_clusters"),
        sum(expr("coalesce(gap, 0L)")).as("st"),
        sum(expr("coalesce(gap * gap, 0L)")).as("st2"))
      .withColumn("theta_runs_bp", expr("10000 * n_clusters DIV n_exceed"))
      .withColumn("theta_fs_bp", expr("""CASE WHEN n_exceed > 1 AND st2 > 0
        THEN least(10000L, 20000 * st * st DIV ((n_exceed - 1) * st2))
        ELSE 10000L END"""))
      .select("event_type", "u", "n_exceed", "n_clusters",
        "theta_runs_bp", "theta_fs_bp")
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    i AS (SELECT event_type, c,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS BIGINT) AS idx
      FROM e),
    r AS (SELECT event_type, c,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS BIGINT) AS rv,
        count(*) OVER (PARTITION BY event_type) AS nn
      FROM e),
    th AS (SELECT event_type, c AS u FROM r WHERE rv = (90 * nn + 99) // 100),
    g AS (SELECT i.event_type, u,
        idx - lag(idx) OVER (PARTITION BY i.event_type ORDER BY idx) AS gap
      FROM i JOIN th USING (event_type) WHERE c > u),
    a AS (SELECT event_type, u,
        count(*)::BIGINT AS n_exceed,
        CAST(sum(CASE WHEN gap IS NULL OR gap > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
        CAST(sum(coalesce(gap, 0)) AS BIGINT) AS st,
        CAST(sum(coalesce(gap * gap, 0)) AS BIGINT) AS st2
      FROM g GROUP BY event_type, u)
    SELECT event_type, u, n_exceed, n_clusters,
      CAST(10000 * n_clusters // n_exceed AS BIGINT) AS theta_runs_bp,
      CAST(CASE WHEN n_exceed > 1 AND st2 > 0
        THEN least(10000, 20000 * st * st // ((n_exceed - 1) * st2))
        ELSE 10000 END AS BIGINT) AS theta_fs_bp
    FROM a ORDER BY event_type"""))

  /** Ljung–Box portmanteau whiteness test (Ljung & Box, Biometrika
    * 1978 — public) at lags 1–3 over each event type's hourly-mean
    * series, composing the EXACT fixed-point autocorrelations of
    * [[tsAutocorr]]: Q = n(n+2)·Σ_k r_k²⁄(n−k) evaluated entirely in
    * bigints — r_k in basis points, each r_k² DIV (n−k) a truncating
    * integer term, the n(n+2) product applied once, one final DIV 10⁴
    * to land in e4 — so both engines walk the identical arithmetic.
    * `reject_95` compares against χ²₍₃₎ 0.95 = 7.8147 (e4 literal).
    * The "is this series just noise" gate run before fitting any
    * seasonal/AR model. Shapes: identical to tsAutocorr — three lead()
    * scans on ONE per-type window, then a per-type partial agg.
    * Headroom: r_bp² ≤ 10⁸, ×3 lags ×n(n+2) ≈ 5·10⁵ at a year of
    * hours → ~1.6·10¹⁴, far under the bigint edge.
    */
  val tsLjungBox: Q = Q("ts_ljung_box", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val hourly = e.groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val m = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n"), expr("sum(c) DIV count(1)").as("mean_c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val d = hourly.join(m, "event_type")
      .withColumn("dev", col("c") - col("mean_c"))
      .withColumn("d1", lead("dev", 1).over(w))
      .withColumn("d2", lead("dev", 2).over(w))
      .withColumn("d3", lead("dev", 3).over(w))
    d.groupBy("event_type")
      .agg(max("n").as("n_hours"),
        expr("10000 * sum(dev * d1) DIV nullif(sum(dev * dev), 0)").as("r1_bp"),
        expr("10000 * sum(dev * d2) DIV nullif(sum(dev * dev), 0)").as("r2_bp"),
        expr("10000 * sum(dev * d3) DIV nullif(sum(dev * dev), 0)").as("r3_bp"))
      .withColumn("lb_e4", expr(
        """n_hours * (n_hours + 2) * (r1_bp * r1_bp DIV (n_hours - 1)
           + r2_bp * r2_bp DIV (n_hours - 2)
           + r3_bp * r3_bp DIV (n_hours - 3)) DIV 10000"""))
      .withColumn("reject_95", expr("lb_e4 > 78147"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, sum(cents) // count(*) AS c
      FROM e GROUP BY event_type, h),
    m AS (SELECT event_type, count(*)::BIGINT AS n,
        sum(c) // count(*) AS mean_c
      FROM hd GROUP BY event_type),
    d AS (SELECT hd.event_type, m.n, hd.c - m.mean_c AS dev,
        lead(hd.c - m.mean_c, 1) OVER w AS d1,
        lead(hd.c - m.mean_c, 2) OVER w AS d2,
        lead(hd.c - m.mean_c, 3) OVER w AS d3
      FROM hd JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY hd.event_type ORDER BY hd.h)),
    a AS (SELECT event_type, max(n) AS n_hours,
        CAST(10000 * sum(dev * d1) // nullif(sum(dev * dev), 0) AS BIGINT) AS r1_bp,
        CAST(10000 * sum(dev * d2) // nullif(sum(dev * dev), 0) AS BIGINT) AS r2_bp,
        CAST(10000 * sum(dev * d3) // nullif(sum(dev * dev), 0) AS BIGINT) AS r3_bp
      FROM d GROUP BY event_type)
    SELECT event_type, n_hours, r1_bp, r2_bp, r3_bp,
      CAST(n_hours * (n_hours + 2) * (r1_bp * r1_bp // (n_hours - 1)
        + r2_bp * r2_bp // (n_hours - 2)
        + r3_bp * r3_bp // (n_hours - 3)) // 10000 AS BIGINT) AS lb_e4,
      n_hours * (n_hours + 2) * (r1_bp * r1_bp // (n_hours - 1)
        + r2_bp * r2_bp // (n_hours - 2)
        + r3_bp * r3_bp // (n_hours - 3)) // 10000 > 78147 AS reject_95
    FROM a ORDER BY event_type"""))

  /** Page–Hinkley drift detector (Page, Biometrika 1954; Hinkley 1971
    * — public; the standard stream-drift test in the river/MOA
    * literature) over each event type's hourly-mean series, EXACT:
    * with a RUNNING truncating mean x̄_t = S_t DIV t, the detector
    * accumulates m_t = Σ(c_i − x̄_i − δ) and alarms when
    * ph_t = m_t − min_{i≤t} m_i exceeds λ — every step integer window
    * arithmetic (prefix count/sum, one DIV per row, prefix min), so
    * both engines walk the identical path, negatives included (DIV
    * and // both truncate toward zero). δ = 500 (5.00 in cents),
    * λ = 10000 (100.00). The upward-drift companion to
    * [[tsCusumAlarm]]'s two-sided known-mean CUSUM — PH tracks the
    * running mean instead, the form that needs no training window.
    * Shapes: one hourly pre-agg shuffle, then three chained window
    * passes sharing the per-type sort; output is one row per series.
    */
  val tsPageHinkley: Q = Q("ts_page_hinkley", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val hourly = e.groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = hourly
      .withColumn("t", row_number().over(w).cast("bigint"))
      .withColumn("s", sum("c").over(cum))
      .withColumn("term", expr("c - s DIV t - 500"))
      .withColumn("m", sum("term").over(cum))
      .withColumn("mmin", min("m").over(cum))
      .withColumn("ph", col("m") - col("mmin"))
    ph.groupBy("event_type")
      .agg(max("t").as("n_hours"),
        max("ph").as("ph_max"),
        sum(when(col("ph") > 10000, 1L).otherwise(0L)).as("n_alarm_hours"),
        min(when(col("ph") > 10000, col("h"))).as("first_alarm_h"))
      .orderBy("event_type")
  }, Some("""WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    hd AS (SELECT event_type, h, sum(cents) // count(*) AS c
      FROM e GROUP BY event_type, h),
    p1 AS (SELECT event_type, h, c,
        CAST(row_number() OVER w AS BIGINT) AS t,
        sum(c) OVER wc AS s
      FROM hd WINDOW w AS (PARTITION BY event_type ORDER BY h),
        wc AS (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    p2 AS (SELECT *, c - s // t - 500 AS term FROM p1),
    p3 AS (SELECT *, sum(term) OVER wc AS m FROM p2
      WINDOW wc AS (PARTITION BY event_type ORDER BY h
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    p4 AS (SELECT *, m - min(m) OVER wc AS ph FROM p3
      WINDOW wc AS (PARTITION BY event_type ORDER BY h
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, max(t) AS n_hours,
      CAST(max(ph) AS BIGINT) AS ph_max,
      sum(CASE WHEN ph > 10000 THEN 1 ELSE 0 END)::BIGINT AS n_alarm_hours,
      min(CASE WHEN ph > 10000 THEN h END) AS first_alarm_h
    FROM p4 GROUP BY event_type ORDER BY event_type"""))

  /** One oracle round of [[tsSeasonalEsd]]: exact lower median of the
    * remaining points, exact MAD, argmax deviation (tie-broken), the
    * round's test verdict, and the survivor set. MATERIALIZED per the
    * chain rule — each p CTE is read by four successors.
    */
  private def esdRoundSql(r: Int, thresholdBp: Long): String = {
    val p = s"p${r - 1}"
    s""",
    m$r AS MATERIALIZED (SELECT event_type, c AS med FROM (
      SELECT event_type, c, event_id,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS BIGINT) AS rv,
        count(*) OVER (PARTITION BY event_type) AS nn
      FROM $p) WHERE rv = (nn + 1) // 2),
    d$r AS MATERIALIZED (SELECT $p.event_type, event_id, c,
        abs(c - med) AS dev
      FROM $p JOIN m$r USING (event_type)),
    md$r AS MATERIALIZED (SELECT event_type, dev AS mad FROM (
      SELECT event_type, dev, event_id,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS BIGINT) AS rv,
        count(*) OVER (PARTITION BY event_type) AS nn
      FROM d$r) WHERE rv = (nn + 1) // 2),
    t$r AS MATERIALIZED (SELECT event_type, event_id, c, dev FROM d$r
      QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY dev DESC, event_id) = 1),
    o$r AS (SELECT CAST($r AS BIGINT) AS round, t$r.event_type, event_id, c, dev, mad,
        dev * 10000 > mad * $thresholdBp AS passed
      FROM t$r JOIN md$r USING (event_type)),
    p$r AS MATERIALIZED (SELECT * FROM $p WHERE NOT EXISTS (
      SELECT 1 FROM t$r WHERE t$r.event_type = $p.event_type
        AND t$r.event_id = $p.event_id))"""
  }

  /** The SHARED Granger formula over raw integer moment columns
    * (n, sy, sy1, sx1, syy, sy1y1, sx1x1, syy1, syx1, sy1x1) — one SQL
    * string both engines parse: the centered second moments are EXACT
    * bigints (divisionless n·Sxy − Sx·Sy expansion, the GapMemory
    * discipline), every one < 2⁵³ so its DOUBLE cast is exact, and all
    * double arithmetic after that point is the IDENTICAL expression
    * tree — IEEE ops are deterministic, so both engines produce the
    * same bits (the assortativity discipline) and round(, 4) is safe.
    * Emits (ssr_r, ssr_u) SELECT fragments; degenerate denominators
    * (constant series, collinear lags) are guarded to NULL.
    */
  private def grangerSql: (String, String) = {
    val ayy = "CAST(n * syy - sy * sy AS DOUBLE)"
    val ay1y1 = "CAST(n * sy1y1 - sy1 * sy1 AS DOUBLE)"
    val ax1x1 = "CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE)"
    val ayy1 = "CAST(n * syy1 - sy * sy1 AS DOUBLE)"
    val ayx1 = "CAST(n * syx1 - sy * sx1 AS DOUBLE)"
    val ay1x1 = "CAST(n * sy1x1 - sy1 * sx1 AS DOUBLE)"
    val ssrR = s"(CASE WHEN ($ay1y1) > 0 THEN ($ayy) - ($ayy1) * ($ayy1) / ($ay1y1) END)"
    val d = s"(($ay1y1) * ($ax1x1) - ($ay1x1) * ($ay1x1))"
    val byn = s"(($ayy1) * ($ax1x1) - ($ayx1) * ($ay1x1))"
    val bxn = s"(($ayx1) * ($ay1y1) - ($ayy1) * ($ay1x1))"
    val ssrU = s"(CASE WHEN ($d) > 0 THEN ($ayy) - (($byn) * ($ayy1) + ($bxn) * ($ayx1)) / ($d) END)"
    (ssrR, ssrU)
  }

  /** Quantized critical values for the 3 ESD rounds (the t-based λ_i
    * SHRINKS with i; pinned as integer basis-point LITERALS so both
    * engines compare identical integers — same discipline as every
    * fixed-point threshold here). Round 1 ≈ 3·1.4826 in bp.
    */
  private val esdThresholds = Seq(44478L, 43000L, 42000L)

  /** Seasonal-ESD-style iterative anomaly sweep (Hochenegger/Vallis/
    * Hypponen — Twitter's AnomalyDetection S-H-ESD, public; Rosner,
    * "Percentile points of the ESD many-outlier procedure",
    * Technometrics 1983): unlike the one-shot MAD flagger
    * ([[tsMadAnomaly]]), ESD REMOVES the most deviant point each round
    * and RECOMPUTES median and MAD on the survivors — masking-proof:
    * two outliers hiding each other's deviation get peeled one per
    * round. 3 rounds, per event type, all in exact cents: lower
    * medians by rank (count + row_number, never a collected array),
    * argmax deviation tie-broken by event_id, and the round-r verdict
    * `dev·10⁴ > MAD·λ_r` with quantized critical values. Emits one row
    * per (event_type, round): the peeled point, its deviation, the
    * round's MAD and the verdict. Each round is one window pass + two
    * rank-filtered one-row-per-type broadcasts — no data-sized state,
    * round count is a constant of the query.
    */
  val tsSeasonalEsd: Q = Q("ts_seasonal_esd", (s, dir) => {
    // SCALE SHAPE (round 8): every median runs through the two-pass
    // bucketed form (ops/Series.bucketedMedian for the c-median; the
    // MAD median shares ONE fused bucket-count + per-bucket-argmax
    // aggregation) — so no task ever sorts a whole event_type (the
    // pre-r8 form's per-type rank window made each of ~5 types one
    // sorted task at 100 TB). The argmax row folds out of the same
    // fused aggregate (ties -> min event_id via the negated id sort
    // key). MEASURED at sf0.1 --reps 4, matched noise: window form
    // 2.40-2.51 s, bucketed variants 3.5-4.5 s — the extra ~1.5 s is
    // per-round small-stage overhead at this 5-type local cardinality,
    // accepted as the price of the plan that scales out (the r7
    // verdict's single-task caveat); identical results, oracle
    // unchanged. pts stays eagerly localCheckpointed per round (the
    // NSW/coreset lesson: the peel chain would otherwise duplicate
    // MULTIPLICATIVELY).
    import org.apache.spark.sql.expressions.Window
    def median(df: org.apache.spark.sql.DataFrame, vc: String) =
      graft.ops.Series.bucketedMedian(df, "event_type", vc, "event_id")
    var pts = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("c")).localCheckpoint(true)
    val rounds = esdThresholds.zipWithIndex.map { case (th, i) =>
      val dev = pts.join(broadcast(median(pts, "c")), "event_type")
        .withColumn("dev", expr("abs(c - m)")).drop("m")
        .withColumn("_b", expr("dev DIV 1024"))
        .localCheckpoint(true) // read 2x (fused agg + median-bucket rank)
      // ONE fused map-side-combining pass serves BOTH the MAD median's
      // bucket counts AND the argmax row (per-bucket struct-max, folded
      // to the per-type max on the tiny bucket relation)
      val agg1 = dev.groupBy(col("event_type"), col("_b"))
        .agg(count(lit(1)).as("_c"),
          max(struct(col("dev"), (-col("event_id")).as("_nid"),
            col("event_id"), col("c"))).as("t"))
        .localCheckpoint(true) // #types x #buckets rows, read 2x
      val wc = Window.partitionBy("event_type").orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val medBucket = agg1
        .withColumn("_cum", sum("_c").over(wc))
        .withColumn("_n", sum("_c").over(Window.partitionBy("event_type")))
        .withColumn("_tgt", expr("(_n + 1) DIV 2"))
        .filter(expr("_cum >= _tgt AND _cum - _c < _tgt"))
        .select(col("event_type"), col("_b"), expr("_tgt - (_cum - _c)").as("_off"))
      val mad = dev.join(broadcast(medBucket), Seq("event_type", "_b"))
        .withColumn("_rv", row_number().over(Window.partitionBy("event_type", "_b")
          .orderBy(col("dev"), col("event_id"))).cast("bigint"))
        .filter(col("_rv") === col("_off"))
        .select(col("event_type"), col("dev").as("mad"))
      val top = agg1.groupBy("event_type").agg(max("t").as("t"))
        .select(col("event_type"), col("t.event_id").as("event_id"),
          col("t.c").as("c"), col("t.dev").as("dev"))
      val out = top.join(broadcast(mad), "event_type")
        .select(lit((i + 1).toLong).as("round"), col("event_type"),
          col("event_id"), col("c"), col("dev"), col("mad"),
          expr(s"dev * 10000 > mad * $th").as("passed"))
      if (i + 1 < esdThresholds.size)
        pts = pts.join(top.select("event_type", "event_id"),
          Seq("event_type", "event_id"), "left_anti").localCheckpoint(true)
      out
    }
    rounds.reduce(_ union _).orderBy("event_type", "round")
  }, Some(s"""WITH p0 AS MATERIALIZED (
      SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c
      FROM events)${esdThresholds.zipWithIndex
        .map { case (th, i) => esdRoundSql(i + 1, th) }.mkString}
    SELECT * FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2
      UNION ALL SELECT * FROM o3)
    ORDER BY event_type, round"""))

  /** Granger-style lagged-predictability screen between event-type
    * activity series (Granger, Econometrica 1969 — public): for every
    * ordered (cause, effect) pair, does the cause's hour-(t−1) count
    * improve a 1-lag autoregression of the effect's hour-t count? Both
    * series live on the SAME dense hour grid (zero-filled — alignment
    * is the whole point), the restricted (y ~ y₁) and unrestricted
    * (y ~ y₁ + x₁) SSRs come from exact integer moments through the
    * shared [[grangerSql]] double formula, and the verdict is a
    * >5%-SSR-reduction flag on the ROUNDED improvement — engine-stable
    * by the exact-moments + identical-IEEE-tree discipline. Shape: one
    * count agg, a bounded grid explode (hours × types), one
    * grid-keyed alignment join (per-hour fan-out = #types², a
    * constant), one moment agg per pair — nothing data-sized crosses
    * any window.
    */
  val tsGrangerLite: Q = Q("ts_granger_lite", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val (ssrR, ssrU) = grangerSql
    val e = Tables.events(s, dir)
      .withColumn("h", expr("ts_us DIV 3600000000"))
    val hourly = e.groupBy("event_type", "h").agg(count(lit(1)).as("c"))
    val rng = e.agg(min("h").as("mn"), max("h").as("mx"))
    val types = e.select("event_type").distinct()
    val grid = types.crossJoin(broadcast(rng))
      .select(col("event_type"), explode(expr("sequence(mn, mx)")).as("h"))
    val dense = grid.join(hourly, Seq("event_type", "h"), "left_outer")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val eff = dense.withColumn("y1", lag("c", 1).over(w))
      .filter(col("y1").isNotNull)
      .select(col("event_type").as("effect"), col("h"),
        col("c").as("y"), col("y1"))
    val cse = dense.select(col("event_type").as("cause"),
      (col("h") + 1).as("h"), col("c").as("x1"))
    val mom = eff.join(cse, "h").filter(col("cause") =!= col("effect"))
      .groupBy("cause", "effect")
      .agg(count(lit(1)).as("n"),
        sum("y").as("sy"), sum("y1").as("sy1"), sum("x1").as("sx1"),
        sum(expr("y * y")).as("syy"), sum(expr("y1 * y1")).as("sy1y1"),
        sum(expr("x1 * x1")).as("sx1x1"), sum(expr("y * y1")).as("syy1"),
        sum(expr("y * x1")).as("syx1"), sum(expr("y1 * x1")).as("sy1x1"))
    mom.select(col("cause"), col("effect"), col("n"),
        expr(s"round(CASE WHEN ($ssrR) > 0 AND ($ssrU) IS NOT NULL THEN " +
          s"(($ssrR) - ($ssrU)) * 10000 / ($ssrR) END, 4)").as("improvement_bp"),
        expr(s"coalesce(round(CASE WHEN ($ssrR) > 0 AND ($ssrU) IS NOT NULL THEN " +
          s"(($ssrR) - ($ssrU)) * 10000 / ($ssrR) END, 6) > 500.0, false)").as("granger"))
      .orderBy("cause", "effect")
  }, Some {
    val (ssrR, ssrU) = grangerSql
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events),
    hb AS (SELECT event_type, h, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
    rng AS (SELECT min(h) AS mn, max(h) AS mx FROM e),
    ty AS (SELECT DISTINCT event_type FROM e),
    grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS h FROM ty, rng),
    dense AS (SELECT g.event_type, g.h, coalesce(hb.c, 0) AS c
      FROM grid g LEFT JOIN hb ON hb.event_type = g.event_type AND hb.h = g.h),
    eff AS (SELECT event_type AS effect, h, c AS y,
        lag(c) OVER (PARTITION BY event_type ORDER BY h) AS y1
      FROM dense QUALIFY y1 IS NOT NULL),
    cse AS (SELECT event_type AS cause, h + 1 AS h, c AS x1 FROM dense),
    j AS (SELECT cause, effect, y, y1, x1 FROM eff JOIN cse USING (h)
      WHERE cause <> effect),
    m AS (SELECT cause, effect, count(*)::BIGINT AS n,
        sum(y)::BIGINT AS sy, sum(y1)::BIGINT AS sy1, sum(x1)::BIGINT AS sx1,
        sum(y * y)::BIGINT AS syy, sum(y1 * y1)::BIGINT AS sy1y1,
        sum(x1 * x1)::BIGINT AS sx1x1, sum(y * y1)::BIGINT AS syy1,
        sum(y * x1)::BIGINT AS syx1, sum(y1 * x1)::BIGINT AS sy1x1
      FROM j GROUP BY 1, 2)
    SELECT cause, effect, n,
      round(CASE WHEN ($ssrR) > 0 AND ($ssrU) IS NOT NULL THEN
        (($ssrR) - ($ssrU)) * 10000 / ($ssrR) END, 4) AS improvement_bp,
      coalesce(round(CASE WHEN ($ssrR) > 0 AND ($ssrU) IS NOT NULL THEN
        (($ssrR) - ($ssrU)) * 10000 / ($ssrR) END, 6) > 500.0, false) AS granger
    FROM m ORDER BY cause, effect"""
  })
}
