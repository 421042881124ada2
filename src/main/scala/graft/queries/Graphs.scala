package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-analytics operators beyond components/pagerank/triangles/k-core
  * (which live in [[Analytics]]): bounded-depth BFS, neighborhood
  * Jaccard link prediction, synchronous label-propagation communities,
  * and fixed-point HITS. Thin bindings of the generic [[graft.ops.Graph]]
  * primitives onto the testdata graphs; every iterative op is pure
  * integer math so the unrolled DuckDB oracle chains are bit-exact.
  */
object Graphs {

  def all: Seq[Q] = Seq(bfsHops, jaccardNbrs, labelProp, hits, modularity,
    assortativity, linkPredict, linkPredictWeighted, closenessSeeds,
    reachAnf, randomWalks, walkSkipgrams, ktruss, squares, mstBoruvka,
    squaresCopurchase, ssspSeeds, betweennessSeedsQ, temporalReach, richClub,
    reciprocity, knnDegree, clusteringLocal, diameterSweep,
    effectiveDiameter, fflCensus, sccSeeds, misGreedy, coloringMis)

  /** Items for the user-similarity graph: the distinct
    * (event type, hour-of-day) cells a user was active in — the
    * behavioral feature set neighborhood similarity is computed over.
    */
  private def userItems(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).filter(col("user_id") < 60)
      .select(col("user_id"), concat_ws(":", col("event_type"),
        expr("(ts_us DIV 3600000000) % 24")).as("item"))
      .distinct()

  private val itemsSql: String =
    """it AS (SELECT DISTINCT user_id,
        event_type || ':' || CAST((epoch_us(ts) // 3600000000) % 24 AS VARCHAR) AS item
      FROM events WHERE user_id < 60),
    sz AS (SELECT user_id, count(*)::BIGINT AS s FROM it GROUP BY user_id),
    pr AS (SELECT a.user_id AS ua, b.user_id AS ub, count(*)::BIGINT AS inter
      FROM it a JOIN it b USING (item) WHERE a.user_id < b.user_id
      GROUP BY 1, 2),
    jac AS (SELECT ua, ub, sa.s AS na, sb.s AS nb,
        10000 * inter // (sa.s + sb.s - inter) AS jacc_bp
      FROM pr JOIN sz sa ON sa.user_id = pr.ua
        JOIN sz sb ON sb.user_id = pr.ub)"""

  /** Neighborhood Jaccard between user pairs (intersection over union of
    * their (event type, hour) item sets, in EXACT integer basis points)
    * — the link-prediction / "similar audiences" primitive. Candidate
    * pairs come from a WEDGE join on shared items (only users sharing
    * ≥ 1 item ever meet — never a user×user cross join); per-user set
    * sizes join back as a broadcast-sized side. At 100 TB the wedge
    * join's hot-item hazard is handled exactly like dedup's shingle
    * index: drop stop-items (df above a cap) or pre-bucket via MinHash
    * — here the item universe is 120 cells, bounded by construction.
    */
  val jaccardNbrs: Q = Q("graph_jaccard_nbrs", (s, dir) => {
    val items = userItems(s, dir)
    val sizes = items.groupBy("user_id").agg(count(lit(1)).as("sz"))
    val l = items.select(col("user_id").as("ua"), col("item"))
    val r = items.select(col("user_id").as("ub"), col("item"))
    val inter = l.join(r, "item").filter(col("ua") < col("ub"))
      .groupBy("ua", "ub").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("user_id").as("ua"), col("sz").as("na")), "ua")
      .join(sizes.select(col("user_id").as("ub"), col("sz").as("nb")), "ub")
      .withColumn("jacc_bp", expr("10000 * inter DIV (na + nb - inter)"))
      .filter(col("jacc_bp") >= 3000)
      .select(col("ua"), col("ub"), col("na"), col("nb"), col("jacc_bp"))
      .orderBy(col("jacc_bp").desc, col("ua"), col("ub"))
  }, Some(s"""WITH $itemsSql
    SELECT ua, ub, na, nb, jacc_bp
    FROM jac WHERE jacc_bp >= 3000
    ORDER BY jacc_bp DESC, ua, ub"""))

  /** Community detection on the user-similarity graph (edges = pairs
    * with neighborhood Jaccard ≥ 0.30 from [[jaccardNbrs]]) via 4
    * synchronous label-propagation rounds ([[graft.ops.Graph.labelPropagation]])
    * — deterministic by construction (fixed rounds, synchronous update,
    * min-label ties), so the 4-round unrolled DuckDB chain matches
    * bit-for-bit.
    */
  /** The similarity-graph edge list (Jaccard ≥ 0.30 user pairs) shared
    * by [[labelProp]] and [[modularity]].
    */
  private def simEdges(s: SparkSession, dir: String): DataFrame =
    simEdgesDist(s, dir).select("src", "dst")

  /** [[simEdges]] keeping the Jaccard DISTANCE (10⁴ − jacc_bp) as the
    * edge weight — the MSF query's input.
    */
  private def simEdgesDist(s: SparkSession, dir: String): DataFrame = {
    val items = userItems(s, dir)
    val sizes = items.groupBy("user_id").agg(count(lit(1)).as("sz"))
    val l = items.select(col("user_id").as("ua"), col("item"))
    val r = items.select(col("user_id").as("ub"), col("item"))
    l.join(r, "item").filter(col("ua") < col("ub"))
      .groupBy("ua", "ub").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("user_id").as("ua"), col("sz").as("na")), "ua")
      .join(sizes.select(col("user_id").as("ub"), col("sz").as("nb")), "ub")
      .filter(expr("10000 * inter DIV (na + nb - inter) >= 3000"))
      .select(col("ua").as("src"), col("ub").as("dst"),
        expr("10000 - 10000 * inter DIV (na + nb - inter)").as("dist_bp"))
  }

  /** The DuckDB CTE chain for [[simEdges]] + `rounds` synchronous LPA
    * iterations — shared by the labelProp and modularity oracles.
    * Produces CTEs: je (ua&lt;ub edges), ed (both directions), vv, l0..lN.
    */
  private def lpaChainSql(rounds: Int): String = {
    val its = (1 to rounds).map { k =>
      s""",
    vt$k AS (SELECT ed.dst AS u, l.lbl, count(*)::BIGINT AS c
      FROM ed JOIN l${k - 1} l ON l.v = ed.src GROUP BY 1, 2),
    l$k AS (SELECT u AS v, lbl FROM vt$k
      QUALIFY row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) = 1)"""
    }.mkString
    s"""$itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    vv AS (SELECT DISTINCT src AS v FROM ed),
    l0 AS (SELECT v, v AS lbl FROM vv)$its"""
  }

  val labelProp: Q = Q("graph_label_prop", (s, dir) => {
    graft.ops.Graph.labelPropagation(simEdges(s, dir), iters = 4)
      .select(col("v").as("user_id"), col("community"))
      .orderBy("user_id")
  }, Some(s"""WITH ${lpaChainSql(4)}
    SELECT v AS user_id, lbl AS community FROM l4 ORDER BY user_id"""))

  /** Newman modularity of the LPA communities on the same similarity
    * graph — the partition-quality EVAL for [[labelProp]] (Newman &
    * Girvan, Phys. Rev. E 69, 2004 — public): Q = Σ_c [e_c/m −
    * (d_c/2m)²], reported per community as the EXACT integer numerator
    * contrib_c = 4·m·e_c − d_c² over the common denominator 4m² (sum
    * the contribs, divide by 4m², and you have Q — no float division
    * anywhere, so the oracle is bit-exact). Shape: the LPA rounds plus
    * one label-equi pair join and two tiny aggregates.
    */
  val modularity: Q = Q("graph_modularity", (s, dir) => {
    val je = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val labels = graft.ops.Graph.labelPropagation(je, iters = 4).persist()
    val m = je.agg(count(lit(1)).as("m"))
    val deg = je.select(col("src").as("v")).union(je.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val ein = je
      .join(labels.select(col("v").as("src"), col("community").as("ca")), "src")
      .join(labels.select(col("v").as("dst"), col("community").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val per = labels.join(deg, "v")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("d_sum"))
    per.join(ein, Seq("community"), "left_outer")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_sum"),
        col("m").as("n_edges"),
        expr("4 * m * e_in - d_sum * d_sum").as("contrib"))
      .orderBy("community")
  }, Some(s"""WITH ${lpaChainSql(4)},
    mm AS (SELECT count(*)::BIGINT AS m FROM je),
    deg AS (SELECT src AS v, count(*)::BIGINT AS d FROM ed GROUP BY src),
    ein AS (SELECT ca.lbl AS community, count(*)::BIGINT AS e_in
      FROM je JOIN l4 ca ON ca.v = je.ua
        JOIN l4 cb ON cb.v = je.ub AND cb.lbl = ca.lbl
      GROUP BY ca.lbl),
    per AS (SELECT l4.lbl AS community, count(*)::BIGINT AS n_nodes,
        sum(deg.d)::BIGINT AS d_sum
      FROM l4 JOIN deg USING (v) GROUP BY l4.lbl)
    SELECT per.community, per.n_nodes, coalesce(ein.e_in, 0) AS e_in,
      per.d_sum, mm.m AS n_edges,
      4 * mm.m * coalesce(ein.e_in, 0) - per.d_sum * per.d_sum AS contrib
    FROM per LEFT JOIN ein USING (community), mm
    ORDER BY community"""))

  /** Bounded-depth BFS over the per-user event-chain graph (each event
    * linked to the user's next event — graph_components_chain's
    * topology), seeded at each user's FIRST event: minimum hop distance
    * for everything within 8 hops, via the frontier-only
    * [[graft.ops.Graph.bfsHops]] loop. The oracle exploits the chain
    * shape: hop along a path from its head IS the row position − 1 —
    * an independent closed form the iterative join pipeline must
    * reproduce exactly.
    */
  val bfsHops: Q = Q("graph_bfs_hops", (s, dir) => {
    val e = Tables.events(s, dir).filter(col("user_id") < 3)
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val withRn = e.withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead("event_id", 1).over(w))
    val edges = withRn.filter(col("nxt").isNotNull)
      .select(col("event_id").as("src"), col("nxt").as("dst"))
    val seeds = withRn.filter(col("rn") === 1).select(col("event_id").as("v"))
    graft.ops.Graph.bfsHops(edges, seeds, maxDepth = 8)
      .select(col("v").as("event_id"), col("hop"))
      .orderBy("event_id")
  }, Some("""SELECT event_id, CAST(rn - 1 AS BIGINT) AS hop FROM (
      SELECT event_id, row_number() OVER (PARTITION BY user_id
        ORDER BY epoch_us(ts), event_id) AS rn
      FROM events WHERE user_id < 3)
    WHERE rn <= 9 ORDER BY event_id"""))

  /** Degree assortativity of the user-similarity graph (Newman,
    * "Assortative mixing in networks", PRL 2002 — public): the Pearson
    * correlation of endpoint degrees over all DIRECTED edge instances
    * (each undirected edge counted both ways, the standard convention).
    * Every moment (Σd, Σd², Σd_src·d_dst, 2m) is an EXACT bigint, and
    * because the two marginals are identical under the both-directions
    * convention, the Pearson denominator collapses to the single integer
    * 2m·Σd²−(Σd)² — r is one IEEE-exact double division, no sqrt, so
    * round(r, 6) is engine-stable. r &gt; 0: hubs befriend hubs; r &lt;
    * 0: hub-and-spoke. Shape: one degree agg + one edge join + a 1-row
    * moment agg.
    */
  val assortativity: Q = Q("graph_assortativity", (s, dir) => {
    val je = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val ed = je.union(je.select(col("dst").as("src"), col("src").as("dst")))
    val deg = ed.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val pairs = ed
      .join(deg.select(col("v").as("src"), col("d").as("da")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("db")), "dst")
    pairs.agg(count(lit(1)).as("m2"),
        sum("da").as("sx"), sum(expr("da * da")).as("sxx"),
        sum(expr("da * db")).as("sxy"))
      .select(col("m2"), col("sx"), col("sxx"), col("sxy"),
        round(expr("""CAST(m2 * sxy - sx * sx AS DOUBLE) /
            CAST(m2 * sxx - sx * sx AS DOUBLE)"""), 6).as("r6"))
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    deg AS MATERIALIZED (SELECT src AS v, count(*)::BIGINT AS d
      FROM ed GROUP BY src),
    dp AS (SELECT a.d AS da, b.d AS db
      FROM ed JOIN deg a ON a.v = ed.src JOIN deg b ON b.v = ed.dst),
    mo AS (SELECT count(*)::BIGINT AS m2, sum(da)::BIGINT AS sx,
        sum(da * da)::BIGINT AS sxx, sum(da * db)::BIGINT AS sxy
      FROM dp)
    SELECT m2, sx, sxx, sxy,
      round(CAST(m2 * sxy - sx * sx AS DOUBLE) /
        CAST(m2 * sxx - sx * sx AS DOUBLE), 6) AS r6
    FROM mo"""))

  private val hitsIters = 8
  private val hitsScale = 1000000L

  /** 8-round unrolled oracle twin of [[graft.ops.Graph.hits]] — same
    * max-normalized integer recurrence, CTE chain a1..h8 (DuckDB's
    * recursive CTEs disallow aggregation in the recursive term, same
    * policy as the pagerank oracle). Chain CTEs are MATERIALIZED and
    * single-referenced (the normalizing max is a window function, not a
    * second CTE reference): a CTE referenced twice per round would be
    * INLINED twice, doubling the expanded plan every round — 2¹⁶ scan
    * copies by round 8, which exhausts file handles before it exhausts
    * patience.
    */
  private lazy val hitsOracleSql: String = {
    val rounds = (1 to hitsIters).map { k =>
      s""",
    a${k}r AS MATERIALIZED (SELECT e.dst AS v, sum(h.h) AS ar
      FROM e JOIN h${k - 1} h ON h.v = e.src GROUP BY e.dst),
    a$k AS MATERIALIZED (SELECT vv.v,
        CAST(coalesce(coalesce(r.ar, 0) * $hitsScale // nullif(max(r.ar) OVER (), 0), 0) AS BIGINT) AS a
      FROM vv LEFT JOIN a${k}r r ON r.v = vv.v),
    h${k}r AS MATERIALIZED (SELECT e.src AS v, sum(a.a) AS hr
      FROM e JOIN a$k a ON a.v = e.dst GROUP BY e.src),
    h$k AS MATERIALIZED (SELECT vv.v,
        CAST(coalesce(coalesce(r.hr, 0) * $hitsScale // nullif(max(r.hr) OVER (), 0), 0) AS BIGINT) AS h
      FROM vv LEFT JOIN h${k}r r ON r.v = vv.v)"""
    }.mkString
    s"""WITH t AS (SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events),
    e AS MATERIALIZED (SELECT DISTINCT event_type AS src, nxt AS dst
      FROM t WHERE nxt IS NOT NULL),
    vv AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
    h0 AS (SELECT v, CAST($hitsScale AS BIGINT) AS h FROM vv)$rounds
    SELECT vv.v, a$hitsIters.a AS auth, h$hitsIters.h AS hub
    FROM vv JOIN a$hitsIters USING (v) JOIN h$hitsIters USING (v)
    ORDER BY v"""
  }

  /** HITS hubs/authorities over the event-type transition graph (the
    * unweighted distinct edges of graph_pagerank's input) — "which event
    * kinds point at the hubs of user flows vs ARE the destinations".
    * Runs the generic fixed-point [[graft.ops.Graph.hits]]: integer
    * max-normalization each half-round, bit-identical to the unrolled
    * oracle chain.
    */
  val hits: Q = Q("graph_hits", (s, dir) => {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = e.withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type").as("src"), col("nxt").as("dst"))
    graft.ops.Graph.hits(trans, iters = hitsIters, scale = hitsScale)
      .orderBy("v")
  }, Some(hitsOracleSql))

  /** Link prediction on the user-similarity graph
    * ([[graft.ops.Graph.linkScores]]): for every user pair at distance
    * 2 (a shared similarity-neighbor but no direct Jaccard ≥ 0.30
    * edge), common-neighbor count and the Resource-Allocation index in
    * exact scaled integers — the "who should be connected next"
    * recommender over the same graph the LPA communities use. Top 25 by
    * (cn, ra) with full deterministic tie-break.
    */
  val linkPredict: Q = Q("graph_link_predict", (s, dir) => {
    // NOTE (r13): the ~6x re-execution of the Jaccard miner inside
    // linkScores (162 Exchanges) was attacked twice — persists inside
    // the op (1.17 -> 2.05 s) and a simEdges localCheckpoint here
    // (1.17 -> 1.33 s): BOTH lose at sf0.1 because the duplicated
    // subtrees run as parallel stages on an idle box while any
    // materialization serializes. Left duplicated on purpose; at
    // cluster scale the caller can checkpoint its edge input.
    graft.ops.Graph.linkScores(simEdges(s, dir))
      .orderBy(desc("cn"), desc("ra"), asc("src"), asc("dst"))
      .limit(25)
  }, Some(s"""WITH $itemsSql,
    je AS (SELECT ua AS lo, ub AS hi FROM jac WHERE jacc_bp >= 3000),
    ed AS (SELECT lo AS u, hi AS v FROM je UNION ALL SELECT hi, lo FROM je),
    dg AS (SELECT u, count(*)::BIGINT AS deg FROM ed GROUP BY u),
    w AS (SELECT a.u AS m, a.v AS x, b.v AS y
      FROM ed a JOIN ed b ON a.u = b.u AND a.v < b.v),
    c AS (SELECT x, y, count(*)::BIGINT AS cn,
        CAST(sum(1000000000 // dg.deg) AS BIGINT) AS ra
      FROM w JOIN dg ON dg.u = w.m GROUP BY x, y)
    SELECT x AS src, y AS dst, cn, ra
    FROM c LEFT JOIN je ON je.lo = c.x AND je.hi = c.y
    WHERE je.lo IS NULL
    ORDER BY cn DESC, ra DESC, src, dst LIMIT 25"""))

  /** Weighted link prediction ([[graft.ops.Graph.linkScoresWeighted]] —
    * Murata–Moriyasu weighted Resource Allocation) on the SAME
    * similarity graph [[linkPredict]] scores (Jaccard ≥ 0.30 user
    * pairs), but with each edge weighted by its shared-item count.
    * Where the unweighted RA treats every common neighbor equally, the
    * weighted variant lets STRONG shared-middle ties dominate: middle
    * m contributes scale·(w(x,m)+w(y,m)) DIV strength(m), so heavy
    * edges through low-strength middles score highest. All-integer
    * (weights are counts) → the scaled division is bit-exact
    * cross-engine, and the two rankings are directly comparable.
    */
  val linkPredictWeighted: Q = Q("graph_link_predict_weighted", (s, dir) => {
    val items = userItems(s, dir)
    val sizes = items.groupBy("user_id").agg(count(lit(1)).as("sz"))
    val l = items.select(col("user_id").as("ua"), col("item"))
    val r = items.select(col("user_id").as("ub"), col("item"))
    val edges = l.join(r, "item").filter(col("ua") < col("ub"))
      .groupBy("ua", "ub").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("user_id").as("ua"), col("sz").as("na")), "ua")
      .join(sizes.select(col("user_id").as("ub"), col("sz").as("nb")), "ub")
      .filter(expr("10000 * inter DIV (na + nb - inter) >= 3000"))
      .select(col("ua").as("src"), col("ub").as("dst"), col("inter").as("w"))
    graft.ops.Graph.linkScoresWeighted(edges)
      .orderBy(desc("wra"), desc("wcn"), asc("src"), asc("dst"))
      .limit(25)
  }, Some(s"""WITH $itemsSql,
    we AS MATERIALIZED (SELECT ua AS lo, ub AS hi, inter AS w
      FROM jac JOIN pr USING (ua, ub) WHERE jacc_bp >= 3000),
    ud AS MATERIALIZED (SELECT lo AS u, hi AS v, w FROM we
      UNION ALL SELECT hi, lo, w FROM we),
    st AS (SELECT u, CAST(sum(w) AS BIGINT) AS strength FROM ud GROUP BY u),
    wd AS (SELECT a.u AS m, a.v AS x, a.w AS wx, b.v AS y, b.w AS wy
      FROM ud a JOIN ud b ON a.u = b.u AND a.v < b.v),
    c AS (SELECT x, y, count(*)::BIGINT AS cn,
        CAST(sum(wx + wy) AS BIGINT) AS wcn,
        CAST(sum((1000000000 * (wx + wy)) // st.strength) AS BIGINT) AS wra
      FROM wd JOIN st ON st.u = wd.m GROUP BY x, y)
    SELECT x AS src, y AS dst, cn, wcn, wra
    FROM c LEFT JOIN we ON we.lo = c.x AND we.hi = c.y
    WHERE we.lo IS NULL
    ORDER BY wra DESC, wcn DESC, src, dst LIMIT 25"""))

  /** Hash-seeded random-walk corpus (Perozzi et al., "DeepWalk: Online
    * Learning of Social Representations", KDD'14 — public): one 4-step
    * walk per vertex of the similarity graph, where step k moves to the
    * neighbor minimizing the 60-bit md5 hash of (walk, step, neighbor)
    * — "random" to the downstream skip-gram trainer, yet a pure
    * function of the graph, so reproducible across engines, retries,
    * and partitionings (the house rand()-free discipline applied to
    * walk generation). Dead ends (impossible on this symmetric graph)
    * would DROP the walk at that step — the inner join on the current
    * vertex keeps only walks with a next neighbor, and the oracle CTE
    * chain drops identically; left-join with coalesce(v, cur) is the
    * change if truncated-not-dropped walks are ever wanted on a
    * directed edge source. Each step is one keyed join current →
    * neighbors + a per-walk argmin window — walks never materialize as
    * state bigger than (walk, position).
    */
  val randomWalks: Q = Q("graph_random_walks", (s, dir) => {
    val e = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val w0 = und.select(col("u").as("walk")).distinct()
      .withColumn("cur", col("walk"))
    val stepped = (1 to 4).foldLeft(w0) { (acc, k) =>
      val h = graft.ops.Sketch.h60(
        s"concat(CAST(walk AS STRING), '_', '$k')", "CAST(v AS STRING)")
      val ww = Window.partitionBy("walk")
        .orderBy(expr(h).asc, col("v").asc)
      acc.join(und, acc("cur") === und("u"))
        .withColumn("rn", row_number().over(ww))
        .filter(col("rn") === 1)
        .select(acc.columns.filter(_ != "cur").map(col) :+
          col("v").as(s"v$k") :+ col("v").as("cur"): _*)
    }
    stepped.select((col("walk") +: (1 to 4).map(k => col(s"v$k"))): _*)
      .orderBy("walk")
  }, Some(s"""WITH $walksChainSql
    SELECT walk, v1, v2, v3, v4 FROM w4 ORDER BY walk"""))

  /** The CTE chain producing w4 (walk, v1..v4) — shared by the
    * [[randomWalks]] and [[walkSkipgrams]] oracles.
    */
  private lazy val walksChainSql: String = {
    val steps = (1 to 4).map { k =>
      val prevCols = (1 until k).map(j => s"p.v$j, ").mkString
      val keepCols = (1 until k).map(j => s"v$j, ").mkString
      val cur = if (k == 1) "p.walk" else s"p.v${k - 1}"
      s""",
    w$k AS MATERIALIZED (SELECT walk, ${keepCols}v AS v$k FROM (
      SELECT p.walk, ${prevCols}ed.dst AS v,
        CAST('0x' || substr(md5(CAST(p.walk AS VARCHAR) || '_$k:'
          || CAST(ed.dst AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM w${k - 1} p JOIN ed ON ed.src = $cur)
      QUALIFY row_number() OVER (PARTITION BY walk ORDER BY h ASC, v ASC) = 1)"""
    }.mkString
    s"""$itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    w0 AS MATERIALIZED (SELECT DISTINCT src AS walk FROM ed)$steps"""
  }

  /** Skip-gram training pairs from the walk corpus — the second half of
    * DeepWalk (walks → window-w co-occurrence pairs → embedding
    * trainer): every ordered (center, context) pair within window 2 of
    * each 5-vertex walk path, with corpus counts, top 30. Composes the
    * REGISTERED [[randomWalks]] subtree, so a drift in walk generation
    * regresses this row too. Shape: one walk-keyed position self-join
    * (≤ 5×4 pairs per walk, bounded by the walk length) + one pair
    * count shuffle.
    */
  val walkSkipgrams: Q = Q("graph_walk_skipgrams", (s, dir) => {
    // the walk chain feeds BOTH sides of the position self-join —
    // persist it once instead of re-running the 4-step generation twice
    val w = randomWalks.fn(s, dir)
      .select(col("walk"),
        array(col("walk"), col("v1"), col("v2"), col("v3"), col("v4")).as("path"))
      .persist()
    val pos = w.select(col("walk"), posexplode(col("path"))).toDF("walk", "pi", "center")
    val ctx = w.select(col("walk").as("w2"), posexplode(col("path"))).toDF("w2", "pj", "context")
    pos.join(ctx, col("walk") === col("w2") && expr("abs(pi - pj) BETWEEN 1 AND 2"))
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("center"), asc("context")).limit(30)
  }, Some(s"""WITH $walksChainSql,
    pth AS (SELECT walk, [walk, v1, v2, v3, v4] AS path FROM w4),
    pos AS (SELECT walk, unnest(list_transform(range(1, 6),
        i -> [CAST(i AS BIGINT), path[i]])) AS s FROM pth),
    p2 AS (SELECT walk, s[1] AS pi, s[2] AS v FROM pos)
    SELECT a.v AS center, b.v AS context, count(*)::BIGINT AS cnt
    FROM p2 a JOIN p2 b ON a.walk = b.walk AND abs(a.pi - b.pi) BETWEEN 1 AND 2
    GROUP BY a.v, b.v
    ORDER BY cnt DESC, center, context LIMIT 30"""))

  /** Approximate neighborhood function (Palmer/Gibbons/Faloutsos,
    * "ANF: A Fast and Scalable Tool for Data Mining in Massive
    * Graphs", KDD'02 — public): 2-hop reach over the part–supplier
    * bipartite graph ("parts co-supplied within one shared supplier",
    * self included). The SCALE path is the sketch merge — one HLL per
    * supplier over its parts, unioned per part: two keyed shuffles
    * carrying fixed-size sketches, no wedge materialization, the shape
    * that survives any fan-out. The exact wedge join runs beside it as
    * the verifier (the oracle-checkable half), and the query emits the
    * exact counts plus a 15%-tolerance boolean on the estimate — the
    * same exact+tolerance contract as q_approx_distinct, so the
    * estimate's sanity is hash-checked without putting an
    * engine-specific number in the output.
    */
  val reachAnf: Q = Q("graph_reach_anf", (s, dir) => {
    val e = Tables.t(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
      .distinct().persist()
    val exact = e.join(e.select(col("p").as("q"), col("sup")), "sup")
      .select("p", "q").distinct()
      .groupBy("p").agg(count(lit(1)).as("exact_reach2"))
    val sk = e.groupBy("sup").agg(expr("hll_sketch_agg(p)").as("skb"))
    val est = e.join(sk, "sup")
      .groupBy("p").agg(expr("hll_sketch_estimate(hll_union_agg(skb))").as("est"))
    exact.join(est, "p")
      .select(col("p").as("l_partkey"), col("exact_reach2"),
        (abs(col("est") - col("exact_reach2")) * 100 <= col("exact_reach2") * 15)
          .as("est_within_15pct"))
      .orderBy("l_partkey")
  }, Some("""WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    w AS (SELECT DISTINCT a.p AS p, b.p AS q FROM e a JOIN e b ON a.s = b.s)
    SELECT p AS l_partkey, count(*)::BIGINT AS exact_reach2,
      TRUE AS est_within_15pct
    FROM w GROUP BY p ORDER BY l_partkey"""))

  /** The labeled multi-seed BFS round for [[closenessSeeds]]'s oracle:
    * every round expands the FULL settled set (fine at oracle scale)
    * and keeps min hop per (seed, v); MATERIALIZED per the chain rule.
    */
  private def bfsRoundSql(k: Int): String = s""",
    r${k + 1} AS MATERIALIZED (SELECT seed, v, CAST(min(hop) AS BIGINT) AS hop
      FROM (SELECT seed, v, hop FROM r$k
        UNION ALL SELECT r.seed, e.dst AS v, r.hop + 1
        FROM r$k r JOIN ed e ON e.src = r.v) u
      GROUP BY seed, v)"""

  /** Harmonic closeness centrality from landmark seeds (Boldi & Vigna,
    * "Axioms for Centrality", Internet Math. 2014 — public; landmark
    * sampling is the standard way to estimate closeness on graphs too
    * large for all-pairs BFS). Seeds = the 5 smallest vertices of the
    * similarity graph; for each, harmonic(seed) =
    * Σ_{v reachable, v≠seed} scale DIV hop(seed, v) within 4 hops — all
    * integer, so the unrolled labeled-BFS oracle chain is bit-exact.
    *
    * All seeds ride ONE [[graft.ops.Graph.bfsHops]] walk: the edge list
    * is replicated per seed onto a seed-offset PRODUCT graph (vertex =
    * seed·2²⁰ + v — seeds never mix, both endpoints carry the same
    * offset), so the per-seed walks share every BFS round instead of
    * paying per-seed job scheduling (measured 5 walks ≈ 2.8 s vs one
    * labeled walk sub-second at sf0.1). The broadcast seed list is
    * LIMIT-bounded; no driver collect anywhere.
    */
  val closenessSeeds: Q = Q("graph_closeness_seeds", (s, dir) => {
    // the similarity-graph subtree feeds the seed scan, the product
    // graph, and bfsHops' count gate — and the graph is TINY (<=C(60,2)
    // edges) under a deep scan+join plan, so eager localCheckpoint
    // truncates the lineage every downstream job re-walks (seed profile:
    // persist left ~1.5 s of small-job overhead on the table)
    val e = simEdges(s, dir).localCheckpoint(true)
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct()
    // loud domain gate for the 2^20 seed offset: a vertex id outside
    // [0, 2^20) would silently mix seeds in the product encoding (and
    // DIV mis-recovers the seed for negative ids) — fail the query
    // instead. One-row aggregate, broadcast, evaluated 5 times.
    val domainGate = verts.agg(max("v").as("mx"), min("v").as("mn"))
      .select(expr("""CASE WHEN mx >= 1048576 OR mn < 0 THEN raise_error(concat(
          'graph_closeness_seeds: vertex domain [', CAST(mn AS STRING), ',',
          CAST(mx AS STRING), '] exceeds the 2^20 seed offset'))
        ELSE 1 END""").as("_domain_ok"))
    val seedDf = verts.orderBy("v").limit(5).select(col("v").as("seed"))
      .crossJoin(broadcast(domainGate)).where(col("_domain_ok") === 1)
      .drop("_domain_ok")
    val lab = e.crossJoin(broadcast(seedDf))
      .select((col("seed") * 1048576 + col("src")).as("src"),
        (col("seed") * 1048576 + col("dst")).as("dst"))
    val seeds = seedDf.select((col("seed") * 1048576 + col("seed")).as("v"))
    graft.ops.Graph.bfsHops(lab, seeds, maxDepth = 4)
      .filter(col("hop") > 0)
      .withColumn("seed", expr("v DIV 1048576"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 DIV hop")).as("harmonic"))
      .orderBy("seed")
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    sd AS MATERIALIZED (SELECT DISTINCT src AS seed FROM ed
      ORDER BY seed LIMIT 5),
    r0 AS MATERIALIZED (SELECT seed, seed AS v, CAST(0 AS BIGINT) AS hop
      FROM sd)${(0 until 4).map(bfsRoundSql).mkString}
    SELECT seed, count(*)::BIGINT AS n_reached,
      CAST(sum(1000000 // hop) AS BIGINT) AS harmonic
    FROM r4 WHERE hop > 0 GROUP BY seed ORDER BY seed"""))

  /** Neighborhood function + EFFECTIVE diameter (Palmer/Gibbons/
    * Faloutsos, "ANF", KDD'02; Boldi/Rosa/Vigna, "HyperANF", WWW'11 —
    * public): N(h) = #ordered pairs within distance h for h = 1..4,
    * and the effective diameter = the smallest h whose N(h) covers
    * ≥ 90% of N(4) — the distance-distribution statistic that says
    * "how far apart is this graph REALLY" without an all-pairs matrix.
    * Two tiers, the [[reachAnf]] contract: the EXACT N(h) curve from
    * one labeled all-seeds BFS on the product graph (bit-exact,
    * feasible on the bounded similarity graph), and the HyperANF
    * estimator — per-vertex HLL ball sketches union-propagated along
    * edges h rounds, Σ|ball₄(v)| − |V| — whose 4-round sketch-merge
    * shape is the one that runs at 100 TB (state per vertex is one
    * sketch, merges are associative, each round is one edge-keyed
    * join). The estimate is graded against the exact curve at ±20%
    * (HLL lgk=12 ⇒ ~1.6% typical); the oracle recomputes the exact
    * curve by min-plus doubling (2 MATERIALIZED rounds cover h ≤ 4)
    * and pins the tolerance boolean.
    */
  /** The exact-ANF × HyperANF core of [[effectiveDiameter]], exposed
    * with the RAW estimate columns (n_vertices, n1..n4, est_balls) —
    * the query derives its graded booleans/buckets from this; DevHll
    * measures the HLL error per SF off it.
    */
  private[graft] def effectiveDiameterDiag(s: SparkSession, dir: String): DataFrame = {
    val e = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().localCheckpoint(true)
    val domainGate = verts.agg(max("v").as("mx"), min("v").as("mn"))
      .select(expr("""CASE WHEN mx >= 1048576 OR mn < 0 THEN raise_error(concat(
          'graph_effective_diameter: vertex domain [', CAST(mn AS STRING), ',',
          CAST(mx AS STRING), '] exceeds the 2^20 seed offset'))
        ELSE 1 END""").as("_domain_ok"))
    val seedDf = verts.select(col("v").as("seed"))
      .crossJoin(broadcast(domainGate)).where(col("_domain_ok") === 1)
      .drop("_domain_ok")
    val lab = e.crossJoin(broadcast(seedDf))
      .select((col("seed") * 1048576 + col("src")).as("src"),
        (col("seed") * 1048576 + col("dst")).as("dst"))
    val seeds = seedDf.select((col("seed") * 1048576 + col("seed")).as("v"))
    val nh = graft.ops.Graph.bfsHops(lab, seeds, maxDepth = 4)
      .filter(col("hop") > 0)
      .agg(sum(expr("CASE WHEN hop <= 1 THEN 1L ELSE 0L END")).as("n1"),
        sum(expr("CASE WHEN hop <= 2 THEN 1L ELSE 0L END")).as("n2"),
        sum(expr("CASE WHEN hop <= 3 THEN 1L ELSE 0L END")).as("n3"),
        count(lit(1)).as("n4"))
    // HyperANF tier: per-vertex HLL ball sketches, union-propagated —
    // the shape that scales (sketch state per vertex, associative
    // merges, one edge-keyed join per round)
    val und = e.select("src", "dst")
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    var ball = verts.groupBy("v").agg(expr("hll_sketch_agg(v)").as("sk"))
      .localCheckpoint(true)
    for (_ <- 1 to 4) {
      val nbr = und.join(ball, und("dst") === ball("v"))
        .select(und("src").as("v"), col("sk"))
      ball = ball.union(nbr)
        .groupBy("v").agg(expr("hll_union_agg(sk)").as("sk"))
        .localCheckpoint(true)
    }
    val est = ball.agg(
      sum(expr("hll_sketch_estimate(sk)")).as("est_balls"),
      count(lit(1)).as("n_vertices"))
    nh.crossJoin(broadcast(est))
  }

  val effectiveDiameter: Q = Q("graph_effective_diameter", (s, dir) => {
    effectiveDiameterDiag(s, dir)
      .withColumn("eff_diameter_h", expr(
        """CASE WHEN 10 * n1 >= 9 * n4 THEN 1L
                WHEN 10 * n2 >= 9 * n4 THEN 2L
                WHEN 10 * n3 >= 9 * n4 THEN 3L
                ELSE 4L END"""))
      .withColumn("n4_est_ok",
        expr("abs((est_balls - n_vertices) - n4) * 100 <= n4 * 20"))
      // r8 verdict #9: the estimate surfaced as a COARSE bucket — the
      // integer percent error decile (0 = within 10%, 1 = 10-20%, ...).
      // An HLL drift now reads as "est_err_decile 0 -> 1" in the dumped
      // parquet instead of an opaque hash failure. DevHll measured the
      // error at 0.000% at ALL of sf0.001/0.01/0.1 (ball cardinalities
      // sit below the lgk=12 sketch's sparse-mode threshold, where HLL
      // is exact), so the pinned decile 0 has the full 10% headroom; at
      // dense-mode scale the ~1.6% typical rsd still lands in decile 0.
      .withColumn("n4_est_err_decile",
        expr("abs((est_balls - n_vertices) - n4) * 10 DIV greatest(n4, 1)"))
      .select("n_vertices", "n1", "n2", "n3", "n4", "eff_diameter_h",
        "n4_est_ok", "n4_est_err_decile")
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    m0 AS MATERIALIZED (SELECT u, v, min(k) AS k FROM (
      SELECT ua AS u, ub AS v, CAST(1 AS BIGINT) AS k FROM je
      UNION ALL SELECT ub, ua, 1 FROM je) GROUP BY 1, 2),
    m1 AS MATERIALIZED (SELECT u, v, min(k) AS k FROM (
      SELECT u, v, k FROM m0
      UNION ALL SELECT a.u, b.v, a.k + b.k AS k
      FROM m0 a JOIN m0 b ON b.u = a.v WHERE a.u <> b.v) GROUP BY 1, 2),
    m2 AS MATERIALIZED (SELECT u, v, min(k) AS k FROM (
      SELECT u, v, k FROM m1
      UNION ALL SELECT a.u, b.v, a.k + b.k AS k
      FROM m1 a JOIN m1 b ON b.u = a.v WHERE a.u <> b.v) GROUP BY 1, 2),
    vv AS (SELECT DISTINCT u AS v FROM m0),
    agg AS (SELECT
      (SELECT count(*) FROM vv)::BIGINT AS n_vertices,
      CAST(sum(CASE WHEN k <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      CAST(sum(CASE WHEN k <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      CAST(sum(CASE WHEN k <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      CAST(sum(CASE WHEN k <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM m2 WHERE u <> v AND k <= 4)
    SELECT n_vertices, n1, n2, n3, n4,
      CAST(CASE WHEN 10 * n1 >= 9 * n4 THEN 1
                WHEN 10 * n2 >= 9 * n4 THEN 2
                WHEN 10 * n3 >= 9 * n4 THEN 3
                ELSE 4 END AS BIGINT) AS eff_diameter_h,
      TRUE AS n4_est_ok,
      CAST(0 AS BIGINT) AS n4_est_err_decile
    FROM agg"""))

  /** Minimum spanning FOREST of the similarity graph under Jaccard
    * DISTANCE (10⁴ − jacc_bp), ties broken by (dist, ua, ub) — the
    * dedup/cluster BACKBONE: the lightest edge set connecting every
    * similar-user group (single-linkage dendrogram edges, Gower 1969 —
    * public). Spark side runs the distributed Borůvka of
    * [[graft.ops.Graph.msfEdges]] (counted-small Kruskal fast path).
    *
    * The oracle does NOT mirror Borůvka: under a strict total edge
    * order the MSF is UNIQUE, and e = (u,v) ∈ MSF ⟺ the MINIMAX path
    * key between u and v over the whole graph equals e's own key (cut/
    * cycle property — a lighter-bottleneck path would expel e). Minimax
    * keys come from log₂-doubling relaxation: m₀ = direct edges,
    * m_{k+1}(u,v) = min(m_k(u,v), min_z max(m_k(u,z), m_k(z,v))) — 6
    * doublings cover paths of ≤ 64 edges on the ≤ 60-vertex capped
    * graph. The key packs (dist, ua, ub) into one bigint
    * (dist·2²⁴ + ua·2¹² + ub — exact while ids &lt; 4096, which the
    * itemsSql user_id &lt; 60 cap guarantees; the Spark side needs no
    * packing, its struct-min is the same lexicographic order).
    */
  val mstBoruvka: Q = Q("graph_mst_boruvka", (s, dir) => {
    graft.ops.Graph.msfEdges(simEdgesDist(s, dir), wCol = "dist_bp")
      .select(col("lo").as("ua"), col("hi").as("ub"), col("w").as("dist_bp"))
      .orderBy("ua", "ub")
  }, Some {
    val steps = (1 to 6).map { k =>
      s""",
    m$k AS MATERIALIZED (SELECT u, v, min(k) AS k FROM (
      SELECT u, v, k FROM m${k - 1}
      UNION ALL SELECT a.u, b.v, greatest(a.k, b.k) AS k
      FROM m${k - 1} a JOIN m${k - 1} b ON b.u = a.v WHERE a.u <> b.v)
      GROUP BY 1, 2)"""
    }.mkString
    s"""WITH $itemsSql,
    ew AS MATERIALIZED (SELECT CAST(ua AS BIGINT) AS lo, CAST(ub AS BIGINT) AS hi,
        10000 - jacc_bp AS dist_bp,
        (10000 - jacc_bp) * 16777216 + CAST(ua AS BIGINT) * 4096 + CAST(ub AS BIGINT) AS wk
      FROM jac WHERE jacc_bp >= 3000),
    m0 AS MATERIALIZED (SELECT u, v, min(wk) AS k FROM (
      SELECT lo AS u, hi AS v, wk FROM ew
      UNION ALL SELECT hi, lo, wk FROM ew) GROUP BY 1, 2)$steps
    SELECT lo AS ua, hi AS ub, dist_bp
    FROM ew JOIN m6 ON m6.u = ew.lo AND m6.v = ew.hi
    WHERE m6.k = ew.wk
    ORDER BY ua, ub"""
  })

  /** The DuckDB per-round truss CTEs: d`k` (both directions), s`k`
    * (per-edge triangle support via the two-hop wedge join), e`k+1`
    * (survivors). Every CTE is MATERIALIZED — e`k` is referenced three
    * times per round (d`k` twice + s`k` once), the exact shape the
    * NSW-beam chains proved safe under MATERIALIZED.
    */
  private def trussRoundSql(k: Int, minSup: Int): String = s""",
    d$k AS MATERIALIZED (SELECT lo AS s, hi AS t FROM e$k
      UNION ALL SELECT hi, lo FROM e$k),
    s$k AS MATERIALIZED (
      SELECT e.lo, e.hi, count(*)::BIGINT AS sup
      FROM e$k e JOIN d$k a ON a.s = e.lo JOIN d$k b ON b.s = e.hi AND b.t = a.t
      GROUP BY e.lo, e.hi),
    e${k + 1} AS MATERIALIZED (SELECT lo, hi FROM s$k WHERE sup >= $minSup)"""

  /** 4-truss peel of the user-similarity graph: two synchronous rounds
    * dropping every edge in fewer than 2 triangles
    * ([[graft.ops.Graph.trussPeel]] — the degree-oriented wedge closure
    * per round), then each survivor reported with its support INSIDE
    * the peeled subgraph. Trusses are the community-CORE primitive one
    * notch above k-core: membership needs cohesive triangles, not just
    * degree, so bridges and hub spokes fall away first. The oracle
    * unrolls the identical rounds as materialized support-join CTEs.
    */
  val ktruss: Q = Q("graph_ktruss", (s, dir) => {
    graft.ops.Graph.trussPeel(simEdges(s, dir), minSupport = 2, rounds = 2)
      .orderBy("src", "dst")
  }, Some(s"""WITH $itemsSql,
    e0 AS MATERIALIZED (SELECT ua AS lo, ub AS hi FROM jac WHERE jacc_bp >= 3000)
    ${trussRoundSql(0, 2)}${trussRoundSql(1, 2)},
    df AS MATERIALIZED (SELECT lo AS s, hi AS t FROM e2
      UNION ALL SELECT hi, lo FROM e2),
    sf AS MATERIALIZED (
      SELECT e.lo, e.hi, count(*)::BIGINT AS sup
      FROM e2 e JOIN df a ON a.s = e.lo JOIN df b ON b.s = e.hi AND b.t = a.t
      GROUP BY e.lo, e.hi)
    SELECT e.lo AS src, e.hi AS dst, coalesce(sf.sup, 0)::BIGINT AS support
    FROM e2 e LEFT JOIN sf ON sf.lo = e.lo AND sf.hi = e.hi
    ORDER BY src, dst"""))

  /** Quadrangle (4-cycle) participation per vertex — the C4 motif
    * beside the triangle count (bipartite-ish community signal: C4s
    * abound where two hubs share audiences; Chiba–Nishizeki '85 is the
    * classical listing bound — public). Counting identity: each
    * 4-cycle contains a vertex as a member of exactly ONE opposite
    * pair, so n_sq(v) = Σ_w C(codegree(v,w), 2) — one wedge join on
    * the middle vertex, grouped to codegrees, one C(q,2) explode; all
    * integer. Scale: wedge volume Σ_m d(m)² — the triangles bound;
    * hot-hub mitigation is the same degree-orientation/df-cap
    * playbook, unneeded on this bounded (≤60-vertex) similarity graph.
    */
  val squares: Q = Q("graph_squares", (s, dir) => {
    val je = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val ed = je.union(je.select(col("dst").as("src"), col("src").as("dst"))).persist()
    val a = ed.select(col("dst").as("m"), col("src").as("u"))
    val b = ed.select(col("dst").as("m2"), col("src").as("w"))
    val cod = a.join(b, col("m") === col("m2") && col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("q"))
      .filter(col("q") >= 2)
    cod.select(explode(expr("array(u, w)")).as("v"),
        expr("q * (q - 1) DIV 2").as("sq"))
      .groupBy("v").agg(sum("sq").as("n_sq"))
      .orderBy(desc("n_sq"), asc("v")).limit(50)
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    cod AS (SELECT a.src AS u, b.src AS w, count(*)::BIGINT AS q
      FROM ed a JOIN ed b ON a.dst = b.dst AND a.src < b.src
      GROUP BY a.src, b.src HAVING count(*) >= 2),
    per AS (SELECT unnest([u, w]) AS v, q * (q - 1) // 2 AS sq FROM cod)
    SELECT v, CAST(sum(sq) AS BIGINT) AS n_sq FROM per GROUP BY v
    ORDER BY n_sq DESC, v LIMIT 50"""))

  /** Weighted single-source shortest paths from landmark seeds over
    * the Jaccard-DISTANCE similarity graph ([[graft.ops.Graph.ssspFrom]]
    * — Bellman-Ford relaxation; the weighted complement of
    * [[closenessSeeds]]' hop-count BFS). Per seed: reach, total
    * distance, and eccentricity, all in exact basis points. The same
    * product-graph trick as closeness shares every relaxation round
    * across the 5 seeds (seed·2²⁰ + v, domain-gated loudly).
    *
    * The oracle does not mirror the rounds: shortest-path DISTANCES
    * are unique values, so min-plus DOUBLING (m₀ = direct min edges,
    * m_{k+1} = min(m_k, m_k ⊕ m_k) — 6 unrolled MATERIALIZED CTEs
    * cover 2⁶-edge paths on the ≤ 60-vertex capped graph) reaches the
    * identical fixpoint. The seed itself is excluded by IDENTITY
    * (v ≠ seed), not by dist &gt; 0 — zero-weight edges (identical item
    * sets ⇒ distance 0) would otherwise drop real vertices.
    */
  val ssspSeeds: Q = Q("graph_sssp_seeds", (s, dir) => {
    // tiny weighted graph, deep plan: truncate (see closenessSeeds)
    val e = simEdgesDist(s, dir).localCheckpoint(true)
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct()
    val domainGate = verts.agg(max("v").as("mx"), min("v").as("mn"))
      .select(expr("""CASE WHEN mx >= 1048576 OR mn < 0 THEN raise_error(concat(
          'graph_sssp_seeds: vertex domain [', CAST(mn AS STRING), ',',
          CAST(mx AS STRING), '] exceeds the 2^20 seed offset'))
        ELSE 1 END""").as("_domain_ok"))
    val seedDf = verts.orderBy("v").limit(5).select(col("v").as("seed"))
      .crossJoin(broadcast(domainGate)).where(col("_domain_ok") === 1)
      .drop("_domain_ok")
    val lab = e.crossJoin(broadcast(seedDf))
      .select((col("seed") * 1048576 + col("src")).as("src"),
        (col("seed") * 1048576 + col("dst")).as("dst"),
        col("dist_bp").as("w"))
    val seeds = seedDf.select((col("seed") * 1048576 + col("seed")).as("v"))
    graft.ops.Graph.ssspFrom(lab, seeds)
      .filter(expr("v % 1048576 != v DIV 1048576"))
      .withColumn("seed", expr("v DIV 1048576"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum("dist").as("total_bp"), max("dist").as("ecc_bp"))
      .orderBy("seed")
  }, Some {
    val steps = (1 to 6).map { k =>
      s""",
    m$k AS MATERIALIZED (SELECT u, v, min(k) AS k FROM (
      SELECT u, v, k FROM m${k - 1}
      UNION ALL SELECT a.u, b.v, a.k + b.k AS k
      FROM m${k - 1} a JOIN m${k - 1} b ON b.u = a.v WHERE a.u <> b.v)
      GROUP BY 1, 2)"""
    }.mkString
    s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub, 10000 - jacc_bp AS w
      FROM jac WHERE jacc_bp >= 3000),
    m0 AS MATERIALIZED (SELECT u, v, min(w) AS k FROM (
      SELECT ua AS u, ub AS v, w FROM je
      UNION ALL SELECT ub, ua, w FROM je) GROUP BY 1, 2)$steps,
    sd AS (SELECT DISTINCT u AS seed FROM m0 ORDER BY seed LIMIT 5)
    SELECT sd.seed, count(*)::BIGINT AS n_reached,
      CAST(sum(k) AS BIGINT) AS total_bp, CAST(max(k) AS BIGINT) AS ecc_bp
    FROM m6 JOIN sd ON m6.u = sd.seed WHERE m6.v <> sd.seed
    GROUP BY 1 ORDER BY 1"""
  })

  /** [[squares]] taken to the UNBOUNDED part co-purchase graph — the
    * roadmap's scale-hardening twin: parts are co-purchased when they
    * share an order, the vertex domain grows with the catalog, and both
    * quadratic blow-up points carry EXPLICIT caps that the oracle
    * mirrors bit-for-bit:
    *  - basket cap 128 via [[graft.ops.Scale.capGroups]] on the order
    *    key (the basket_pairs guard — a bulk order cannot emit 10⁶
    *    pairs; QUALIFY count(*) twin);
    *  - wedge cap 32: each mid vertex keeps its 32 SMALLEST neighbors
    *    (deterministic, so both engines keep the same adjacency;
    *    QUALIFY row_number twin) — wedge volume per mid is ≤ C(32,2)
    *    no matter how hot the hub, the degree-cap playbook the bounded
    *    variant documents but never needs.
    * Output: the top-30 opposite pairs by capped-C4 participation —
    * "these two parts anchor many 4-cycles" is the bipartite-community
    * signal (two hubs sharing audiences) at catalog scale.
    *
    * Scale shape: the pair join reuses the capGroups partitioning on
    * the order key; the wedge join keys on the mid vertex with a
    * cap-bounded match list; every aggregate is map-side combinable.
    */
  val squaresCopurchase: Q = Q("graph_squares_copurchase", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bk = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val bc = graft.ops.Scale.capGroups(bk, "o", 128)
    // eg feeds BOTH union directions and ac feeds BOTH wedge-join sides
    // — persist each or the order-pair join / degree-cap window re-run
    // per consumer (the dedup_lsh_eval shared-subtree rule)
    val eg = bc.select(col("o"), col("p").as("pa")).hint("shuffle_hash")
      .join(bc.select(col("o"), col("p").as("pb")), "o")
      .filter(col("pa") < col("pb"))
      .select("pa", "pb").distinct().persist()
    val ad = eg.select(col("pa").as("m"), col("pb").as("n"))
      .union(eg.select(col("pb").as("m"), col("pa").as("n")))
    val ac = ad.withColumn("rn",
        row_number().over(Window.partitionBy("m").orderBy("n")))
      .filter(col("rn") <= 32).drop("rn").persist()
    val cod = ac.select(col("m"), col("n").as("u"))
      .join(ac.select(col("m"), col("n").as("w")).hint("shuffle_hash"), "m")
      .filter(col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("q"))
      .filter(col("q") >= 2)
    // Eagerly materialize the 30-row result, then drop both persisted
    // intermediates: a composed long-lived session must not keep eg/ac
    // pinned in the CacheManager after the query finishes (Verify/Bench
    // clean between queries; SessionHygieneSpec pins the in-query
    // discipline). The surviving checkpoint RDD is the 30-row output,
    // GC-managed by the ContextCleaner, never CacheManager-pinned.
    val out = cod.select(col("u"), col("w"), col("q"),
        expr("q * (q - 1) DIV 2").as("c4_pairs"))
      .orderBy(desc("c4_pairs"), asc("u"), asc("w")).limit(30)
      .localCheckpoint(true)
    eg.unpersist(true)
    ac.unpersist(true)
    out
  }, Some("""WITH bk AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem),
    bc AS (SELECT o, p FROM bk
      QUALIFY count(*) OVER (PARTITION BY o) <= 128),
    eg AS (SELECT DISTINCT a.p AS pa, b.p AS pb
      FROM bc a JOIN bc b ON a.o = b.o AND a.p < b.p),
    ad AS (SELECT pa AS m, pb AS n FROM eg UNION ALL SELECT pb, pa FROM eg),
    ac AS (SELECT m, n FROM ad
      QUALIFY row_number() OVER (PARTITION BY m ORDER BY n) <= 32),
    cod AS (SELECT a.n AS u, b.n AS w, count(*)::BIGINT AS q
      FROM ac a JOIN ac b ON a.m = b.m AND a.n < b.n
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT u, w, q, CAST(q * (q - 1) // 2 AS BIGINT) AS c4_pairs
    FROM cod ORDER BY c4_pairs DESC, u, w LIMIT 30"""))

  /** Feed-forward-loop motif census on the directed part-transition
    * graph (Milo et al., "Network Motifs: Simple Building Blocks of
    * Complex Networks", Science 298, 2002 — public; the FFL is THE
    * over-represented 3-node motif in directed real-world networks):
    * edges are consecutive distinct parts within an order's linenumber
    * sequence; for every directed wedge a→b→c (a≠c) the census asks
    * whether the shortcut a→c exists (feed-forward) or the back edge
    * c→a (3-cycle). Per middle vertex b: wedge volume, FFL count,
    * cycle count, and the FFL rate in basis points — the motif profile
    * that separates hierarchy (FFL-rich) from feedback (cycle-rich).
    * Scale shape: out-degree then in-degree capped at 32 (row_number
    * windows the TopKRewrite routes to the bounded operator; QUALIFY
    * twins in the oracle), so wedge volume is ≤ 32² per mid vertex —
    * never hub-quadratic; the closure probes are keyed (a,c) joins
    * against the SAME capped edge list, bounded by construction.
    */
  /** Directed part-transition edges: consecutive distinct parts within
    * an order's linenumber sequence, out-degree then in-degree capped
    * at 32. linenumber is NOT unique per order in the testdata — each
    * (order, line) slot collapses to its MIN part first so the lead()
    * sequence is a total order (identical in both engines). Shared by
    * [[fflCensus]] and [[sccSeeds]].
    */
  private[graft] def partTransitions(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_linenumber").as("lnum"),
        col("l_partkey").as("p"))
      .groupBy("o", "lnum").agg(min("p").as("p"))
      .withColumn("nxt", lead("p", 1).over(
        Window.partitionBy("o").orderBy("lnum")))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("p"))
      .select(col("p").as("src"), col("nxt").as("dst")).distinct()
    val eo = e0.withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy("dst")))
      .filter(col("rn") <= 32).drop("rn")
    eo.withColumn("rn", row_number().over(
        Window.partitionBy("dst").orderBy("src")))
      .filter(col("rn") <= 32).drop("rn")
  }

  /** The oracle CTE twin of [[partTransitions]]: defines `ec(src, dst)`. */
  private val partTransitionsSql: String =
    """lnm AS (SELECT l_orderkey AS o, l_linenumber AS lnum,
      min(l_partkey) AS p FROM lineitem GROUP BY 1, 2),
    sq AS (SELECT p AS src, lead(p) OVER (PARTITION BY o ORDER BY lnum) AS dst
      FROM lnm),
    e0 AS (SELECT DISTINCT src, dst FROM sq
      WHERE dst IS NOT NULL AND dst <> src),
    eo AS (SELECT src, dst FROM e0
      QUALIFY row_number() OVER (PARTITION BY src ORDER BY dst) <= 32),
    ec AS MATERIALIZED (SELECT src, dst FROM eo
      QUALIFY row_number() OVER (PARTITION BY dst ORDER BY src) <= 32)"""

  val fflCensus: Q = Q("graph_ffl_census", (s, dir) => {
    val ec = partTransitions(s, dir).persist()
    val wdg = ec.select(col("src").as("a"), col("dst").as("b"))
      .join(ec.select(col("src").as("b"), col("dst").as("c"))
        .hint("shuffle_hash"), "b")
      .filter(col("a") =!= col("c"))
    // ONE closure-probe table (edge a→c tagged ffl, edge c→a tagged
    // cyc, merged per (a,c)) — probing it once shuffles the wedge set
    // once instead of twice
    val cl = ec.select(col("src").as("a"), col("dst").as("c"),
        lit(1L).as("ffl"), lit(0L).as("cyc"))
      .unionByName(ec.select(col("dst").as("a"), col("src").as("c"),
        lit(0L).as("ffl"), lit(1L).as("cyc")))
      .groupBy("a", "c").agg(max("ffl").as("ffl"), max("cyc").as("cyc"))
    wdg.join(cl, Seq("a", "c"), "left")
      .groupBy("b")
      .agg(count(lit(1)).as("n_wedges"),
        coalesce(sum("ffl"), lit(0L)).as("n_ffl"),
        coalesce(sum("cyc"), lit(0L)).as("n_cycle"))
      .withColumn("ffl_bp", expr("(n_ffl * 10000) DIV n_wedges"))
      .orderBy(desc("n_wedges"), asc("b")).limit(100)
  }, Some(s"""WITH $partTransitionsSql,
    wdg AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM ec e1 JOIN ec e2 ON e2.src = e1.dst WHERE e1.src <> e2.dst),
    j AS (SELECT w.b,
        CASE WHEN f.src IS NOT NULL THEN 1 ELSE 0 END AS ffl,
        CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS cyc
      FROM wdg w
      LEFT JOIN ec f ON f.src = w.a AND f.dst = w.c
      LEFT JOIN ec r ON r.src = w.c AND r.dst = w.a)
    SELECT b, count(*)::BIGINT AS n_wedges, sum(ffl)::BIGINT AS n_ffl,
      sum(cyc)::BIGINT AS n_cycle,
      (sum(ffl)::BIGINT * 10000) // count(*) AS ffl_bp
    FROM j GROUP BY b ORDER BY n_wedges DESC, b LIMIT 100"""))

  /** Forward-backward mutual reachability from seeds — the FW-BW
    * primitive of divide-and-conquer strongly-connected-components
    * (Fleischer, Hendrickson &amp; Pınar, "On Identifying Strongly
    * Connected Components in Parallel", IPDPS 2000 — public; the
    * algorithm GraphX/Pregel SCC implementations recurse on): from
    * each of 3 deterministic seeds, 4 rounds of frontier expansion
    * along edges (forward) and against them (backward); the
    * intersection of the two reach sets is the seed's mutual-reach
    * cluster — exactly its SCC whenever the SCC's internal diameter is
    * ≤ 4 hops, and a certified subset otherwise (membership only ever
    * grows with rounds). Per seed: cluster size, forward/backward
    * reach sizes, and the min/max member — the census a partitioner
    * reads before carving a web graph into per-SCC shards. Scale
    * shape: same discipline as [[bfsHops]]/[[temporalReach]] — degree-
    * capped edges, per-round keyed joins on the (tiny) frontier,
    * per-round localCheckpoint truncation (the NSW truncation rule); the
    * oracle unrolls both chains as MATERIALIZED CTEs.
    */
  val sccSeeds: Q = Q("graph_scc_seeds", (s, dir) => {
    val ec = partTransitions(s, dir).persist()
    val seeds = ec.select(col("src").as("v")).distinct().orderBy("v").limit(3)
    val s0 = seeds.select(col("v").as("seed"), col("v")).localCheckpoint(true)
    // two plain keyed-join chains; three variants were A/B'd WORSE at
    // sf0.1 (plain 5.3 s): broadcast-frontier 6.5 (per-round broadcast
    // materialization beat the shuffle it saved), fused dir-tagged
    // single chain 9.2 (doubled edge relation + wider distinct state),
    // shuffle_hash-hinted edge side 8.5 (AQE's own pick was better)
    // the forward and backward chains are data-independent (both read
    // only the persisted ec + s0) but each round's eager checkpoint is a
    // BLOCKING driver action — built sequentially they serialize 8
    // small-stage rounds. Overlap them (guide §2.6): two driver threads,
    // 4 rounds of wall-clock depth instead of 8.
    val (fwd, bwd) = graft.ops.Scale.concurrently(
      (1 to 4).foldLeft(s0) { (r, _) =>
        r.unionByName(r.join(ec, r("v") === ec("src"))
            .select(r("seed"), ec("dst").as("v")))
          .distinct().localCheckpoint(true)
      },
      (1 to 4).foldLeft(s0) { (r, _) =>
        r.unionByName(r.join(ec, r("v") === ec("dst"))
            .select(r("seed"), ec("src").as("v")))
          .distinct().localCheckpoint(true)
      })
    val fs = fwd.groupBy("seed").agg(count(lit(1)).as("n_fwd"))
    val bs = bwd.groupBy("seed").agg(count(lit(1)).as("n_bwd"))
    fwd.join(bwd, Seq("seed", "v"))
      .groupBy("seed").agg(count(lit(1)).as("scc_size"),
        min("v").as("min_v"), max("v").as("max_v"))
      .join(fs, "seed").join(bs, "seed")
      .select("seed", "scc_size", "n_fwd", "n_bwd", "min_v", "max_v")
      .orderBy("seed")
  }, Some {
    def chain(p: String, joinOn: String, pick: String): String =
      (1 to 4).map { k =>
        s""",
    $p$k AS MATERIALIZED (SELECT DISTINCT seed, v FROM (
      SELECT seed, v FROM $p${k - 1}
      UNION ALL SELECT f.seed, e.$pick AS v
      FROM $p${k - 1} f JOIN ec e ON e.$joinOn = f.v))"""
      }.mkString
    s"""WITH $partTransitionsSql,
    seeds AS MATERIALIZED (SELECT DISTINCT src AS v FROM ec ORDER BY v LIMIT 3),
    f0 AS MATERIALIZED (SELECT v AS seed, v FROM seeds),
    b0 AS MATERIALIZED (SELECT v AS seed, v FROM seeds)${chain("f", "src", "dst")}${chain("b", "dst", "src")},
    fs AS (SELECT seed, count(*)::BIGINT AS n_fwd FROM f4 GROUP BY seed),
    bs AS (SELECT seed, count(*)::BIGINT AS n_bwd FROM b4 GROUP BY seed)
    SELECT f.seed, count(*)::BIGINT AS scc_size, max(fs.n_fwd) AS n_fwd,
      max(bs.n_bwd) AS n_bwd, min(f.v) AS min_v, max(f.v) AS max_v
    FROM f4 f JOIN b4 b ON b.seed = f.seed AND b.v = f.v
      JOIN fs ON fs.seed = f.seed JOIN bs ON bs.seed = f.seed
    GROUP BY f.seed ORDER BY f.seed"""
  })

  /** Time-respecting reachability (earliest-arrival) over the
    * co-activity CONTACT graph — the temporal dimension every static
    * graph query here ignores, and the one that matters for influence/
    * contagion questions (Holme &amp; Saramäki, "Temporal networks",
    * Phys. Rep. 519, 2012 — public): an edge (u→v at hour h) exists
    * when both users act in the same (event type, hour) cell, and a
    * path is valid only if its edge times are NON-DECREASING from the
    * seed's first own activity — so reachability here is strictly
    * smaller than static BFS reach, which is the point. Three unrolled
    * min-arrival relaxations (arr'(v) = min over edges with h ≥ arr(u))
    * — all integers, so the MATERIALIZED oracle chain is bit-exact.
    * Scale: contact cells are capGroups-capped at 20 (the lint's
    * self-join contract — a hot cell cannot emit df² contacts);
    * per-round joins key on the frontier vertex; tiny per-round state
    * is plan-truncated (NSW truncation rule).
    */
  val temporalReach: Q = Q("graph_temporal_reach", (s, dir) => {
    val c = Tables.events(s, dir).filter(col("user_id") < 60)
      .select(col("user_id"), col("event_type"),
        expr("ts_us DIV 3600000000").as("h"))
      .distinct()
      .withColumn("cell", concat_ws(":", col("event_type"), col("h")))
    val capped = graft.ops.Scale.capGroups(c, "cell", 20).persist()
    val ed = capped.select(col("cell"), col("user_id").as("u"), col("h"))
      .join(capped.select(col("cell"), col("user_id").as("v")), "cell")
      .filter(col("u") =!= col("v"))
      .select("u", "v", "h").distinct().persist()
    val seeds = capped.select("user_id").distinct()
      .orderBy("user_id").limit(3)
    val a0 = capped.join(seeds, "user_id")
      .groupBy(col("user_id").as("seed"))
      .agg(min("h").as("arr"))
      .select(col("seed"), col("seed").as("v"), col("arr"))
      .localCheckpoint(true)
    val arr3 = (1 to 3).foldLeft(a0) { (arr, _) =>
      val relax = arr.join(ed, arr("v") === ed("u"))
        .filter(col("h") >= col("arr"))
        .select(col("seed"), ed("v").as("v"), col("h").as("arr"))
      arr.unionByName(relax)
        .groupBy("seed", "v").agg(min("arr").as("arr"))
        .localCheckpoint(true)
    }
    arr3.filter(col("v") =!= col("seed"))
      .select(col("seed"), col("v"), col("arr").as("arr_h"))
      .orderBy("seed", "v")
  }, Some {
    val rounds = (1 to 3).map { k =>
      s""",
    a$k AS MATERIALIZED (SELECT seed, v, min(arr) AS arr FROM (
      SELECT seed, v, arr FROM a${k - 1}
      UNION ALL SELECT p.seed, e.v, e.h AS arr
      FROM a${k - 1} p JOIN ed e ON e.u = p.v WHERE e.h >= p.arr) u
      GROUP BY seed, v)"""
    }.mkString
    s"""WITH c0 AS (
      SELECT DISTINCT user_id, event_type, epoch_us(ts) // 3600000000 AS h
      FROM events WHERE user_id < 60),
    c AS MATERIALIZED (SELECT * FROM c0
      QUALIFY count(*) OVER (PARTITION BY event_type, h) <= 20),
    ed AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, b.user_id AS v, a.h
      FROM c a JOIN c b ON a.event_type = b.event_type AND a.h = b.h
        AND a.user_id <> b.user_id),
    sd AS MATERIALIZED (SELECT DISTINCT user_id AS seed FROM c
      ORDER BY seed LIMIT 3),
    a0 AS MATERIALIZED (SELECT c.user_id AS seed, c.user_id AS v,
        CAST(min(c.h) AS BIGINT) AS arr
      FROM c JOIN sd ON sd.seed = c.user_id GROUP BY c.user_id)$rounds
    SELECT seed, v, arr AS arr_h FROM a3 WHERE v <> seed
    ORDER BY seed, v"""
  })

  /** Bounded-radius betweenness centrality from the 5 landmark seeds
    * ([[graft.ops.Graph.betweennessSeeds]] — exact-integer Brandes:
    * BFS σ counts + the order-free floor-divided dependency sweep),
    * completing the centrality family beside closeness/pagerank/HITS
    * with THE canonical broker-vertex measure. Runs all seeds on the
    * same 2²⁰-offset product graph as [[closenessSeeds]] (one shared
    * BFS per level instead of per-seed jobs, same loud vertex-domain
    * gate). bc_e6 sums each seed's dependency δ in e6 fixed point;
    * n_seed_hits counts the seed copies that reached the vertex within
    * radius 4. The oracle unrolls the identical forward levels and
    * backward sweep as MATERIALIZED CTEs — bit-exact because every σ
    * and every δ term is integer arithmetic shared by both engines.
    */
  val betweennessSeedsQ: Q = Q("graph_betweenness_seeds", (s, dir) => {
    val e = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct()
    val domainGate = verts.agg(max("v").as("mx"), min("v").as("mn"))
      .select(expr("""CASE WHEN mx >= 1048576 OR mn < 0 THEN raise_error(concat(
          'graph_betweenness_seeds: vertex domain [', CAST(mn AS STRING), ',',
          CAST(mx AS STRING), '] exceeds the 2^20 seed offset'))
        ELSE 1 END""").as("_domain_ok"))
    val seedDf = verts.orderBy("v").limit(5).select(col("v").as("seed"))
      .crossJoin(broadcast(domainGate)).where(col("_domain_ok") === 1)
      .drop("_domain_ok")
    val lab = e.crossJoin(broadcast(seedDf))
      .select((col("seed") * 1048576 + col("src")).as("src"),
        (col("seed") * 1048576 + col("dst")).as("dst"))
    val seeds = seedDf.select((col("seed") * 1048576 + col("seed")).as("v"))
    graft.ops.Graph.betweennessSeeds(lab, seeds, maxDepth = 4)
      .withColumn("vtx", expr("v % 1048576"))
      .groupBy("vtx")
      .agg(sum("delta_e6").as("bc_e6"), count(lit(1)).as("n_seed_hits"))
      .orderBy("vtx")
  }, Some {
    val fwdRounds = (1 to 4).map { k =>
      s""",
    l$k AS MATERIALIZED (SELECT e.dst AS v, CAST($k AS BIGINT) AS hop,
        CAST(sum(p.sigma) AS BIGINT) AS sigma
      FROM l${k - 1} p JOIN led e ON e.src = p.v
      WHERE e.dst NOT IN (SELECT v FROM vis${k - 1})
      GROUP BY e.dst),
    vis$k AS MATERIALIZED (SELECT v FROM vis${k - 1} UNION SELECT v FROM l$k)"""
    }.mkString
    val backRounds = (3 to 1 by -1).map { k =>
      s""",
    d$k AS MATERIALIZED (SELECT l.v, l.sigma,
        CAST(coalesce(sum(l.sigma * (1000000 + nx.delta) // nx.sigma), 0) AS BIGINT) AS delta
      FROM l$k l LEFT JOIN (SELECT e.src AS sv, d.sigma, d.delta
          FROM led e JOIN d${k + 1} d ON d.v = e.dst) nx
        ON nx.sv = l.v
      GROUP BY l.v, l.sigma)"""
    }.mkString
    s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    sd AS MATERIALIZED (SELECT DISTINCT src AS seed FROM ed
      ORDER BY seed LIMIT 5),
    led AS MATERIALIZED (SELECT sd.seed * 1048576 + ed.src AS src,
        sd.seed * 1048576 + ed.dst AS dst
      FROM ed CROSS JOIN sd),
    l0 AS MATERIALIZED (SELECT seed * 1048576 + seed AS v,
        CAST(0 AS BIGINT) AS hop, CAST(1 AS BIGINT) AS sigma FROM sd),
    vis0 AS MATERIALIZED (SELECT v FROM l0)$fwdRounds,
    d4 AS MATERIALIZED (SELECT v, sigma, CAST(0 AS BIGINT) AS delta FROM l4)$backRounds,
    u AS (SELECT v, delta FROM d1 UNION ALL SELECT v, delta FROM d2
      UNION ALL SELECT v, delta FROM d3 UNION ALL SELECT v, delta FROM d4)
    SELECT CAST(v % 1048576 AS BIGINT) AS vtx,
      CAST(sum(delta) AS BIGINT) AS bc_e6, count(*)::BIGINT AS n_seed_hits
    FROM u GROUP BY 1 ORDER BY vtx"""
  })

  private val richClubKs = Seq(1, 2, 3, 4, 6, 8, 12, 16)

  /** Rich-club coefficient profile of the user-similarity graph (Zhou &
    * Mondragón, "The rich-club phenomenon in the Internet topology",
    * IEEE Comm. Lett. 2004 — public): for each degree threshold k,
    * φ(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph induced by nodes
    * of degree &gt; k, in exact basis points (one truncating division).
    * φ rising with k ⇒ hubs preferentially interlink (the "rich club").
    * Everything is counting: one degree agg, one edge→degree join to
    * tag each undirected edge with min(d_src,d_dst) — an edge survives
    * the k-cut iff its min endpoint degree &gt; k — then one broadcast
    * 8-row threshold fan-out over the (bounded) node and edge lists.
    * No iteration, no all-pairs; at 100× the only growing side is the
    * edge list and it is touched linearly (×8 thresholds).
    */
  val richClub: Q = Q("graph_rich_club", (s, dir) => {
    import s.implicits._
    val je = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val ed = je.union(je.select(col("dst").as("src"), col("src").as("dst")))
    val deg = ed.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val em = je
      .join(deg.select(col("v").as("src"), col("d").as("da")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("db")), "dst")
      .select(least(col("da"), col("db")).as("dmin"))
    val ks = richClubKs.toDF("k")
    val nk = deg.crossJoin(broadcast(ks)).filter(col("d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_k"))
    val ek = em.crossJoin(broadcast(ks)).filter(col("dmin") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("e_k"))
    nk.join(ek, Seq("k"), "left_outer")
      .na.fill(0L, Seq("e_k"))
      .filter(col("n_k") >= 2)
      .select(col("k"), col("n_k"), col("e_k"),
        expr("20000 * e_k DIV (n_k * (n_k - 1))").as("phi_bp"))
      .orderBy("k")
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    deg AS MATERIALIZED (SELECT src AS v, count(*)::BIGINT AS d
      FROM ed GROUP BY src),
    em AS (SELECT least(a.d, b.d) AS dmin
      FROM je JOIN deg a ON a.v = je.ua JOIN deg b ON b.v = je.ub),
    ks AS (SELECT unnest([${richClubKs.mkString(", ")}]) AS k),
    nk AS (SELECT k, count(*)::BIGINT AS n_k
      FROM deg CROSS JOIN ks WHERE d > k GROUP BY k),
    ek AS (SELECT k, count(*)::BIGINT AS e_k
      FROM em CROSS JOIN ks WHERE dmin > k GROUP BY k)
    SELECT nk.k, n_k, coalesce(ek.e_k, 0) AS e_k,
      20000 * coalesce(ek.e_k, 0) // (n_k * (n_k - 1)) AS phi_bp
    FROM nk LEFT JOIN ek USING (k)
    WHERE n_k >= 2 ORDER BY nk.k"""))

  /** Reciprocity of the DIRECTED event-type transition graph (the
    * distinct user-flow edges behind graph_hits/graph_pagerank,
    * self-loops excluded): the share of edges whose reverse edge also
    * exists, in exact basis points, plus Garlaschelli & Loffredo's
    * density-corrected ρ = (r − a)/(1 − a) (PRL 93, 268701, 2004 —
    * public) with a = L/(N(N−1)), computed by integer
    * cross-multiplication: ρ·10⁴ = 10⁴·(L↔·N(N−1) − L²) DIV
    * (L·(N(N−1) − L)) — ρ &gt; 0 means mutual links beat the random-
    * density expectation. The reverse-edge test is one left-semi
    * self-join on the DISTINCT edge list (Aggregate boundary, key =
    * the edge itself — at most one match, no fan-out; negative
    * numerators truncate toward zero identically in both engines).
    */
  val reciprocity: Q = Q("graph_reciprocity", (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("nxt", lead("event_type", 1).over(
        Window.partitionBy("user_id").orderBy("ts_us", "event_id")))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("event_type"))
      .select(col("event_type").as("src"), col("nxt").as("dst"))
      .distinct()
    val recip = e.join(
      e.select(col("dst").as("r_src"), col("src").as("r_dst")),
      col("src") === col("r_src") && col("dst") === col("r_dst"), "left_semi")
    val nn = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val counts = e.agg(count(lit(1)).as("l_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("l_recip")))
      .crossJoin(nn)
    counts.select(col("n_nodes"), col("l_edges"), col("l_recip"),
      expr("10000 * l_recip DIV l_edges").as("r_bp"),
      expr("""10000 * (l_recip * n_nodes * (n_nodes - 1) - l_edges * l_edges)
        DIV nullif(l_edges * (n_nodes * (n_nodes - 1) - l_edges), 0)""").as("rho_e4"))
  }, Some("""WITH t AS (
      SELECT event_type,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events),
    e AS (SELECT DISTINCT event_type AS src, nxt AS dst
      FROM t WHERE nxt IS NOT NULL AND nxt <> event_type),
    rc AS (SELECT count(*)::BIGINT AS l_recip FROM e
      WHERE EXISTS (SELECT 1 FROM e r
        WHERE r.src = e.dst AND r.dst = e.src)),
    le AS (SELECT count(*)::BIGINT AS l_edges FROM e),
    nn AS (SELECT count(*)::BIGINT AS n_nodes FROM
      (SELECT src AS v FROM e UNION SELECT dst FROM e))
    SELECT n_nodes, l_edges, l_recip,
      10000 * l_recip // l_edges AS r_bp,
      10000 * (l_recip * n_nodes * (n_nodes - 1) - l_edges * l_edges)
        // nullif(l_edges * (n_nodes * (n_nodes - 1) - l_edges), 0) AS rho_e4
    FROM le, rc, nn"""))

  /** Average-nearest-neighbor-degree function k_nn(k) of the user-
    * similarity graph (Pastor-Satorras, Vázquez & Vespignani,
    * "Dynamical and correlation properties of the Internet", PRL 2001
    * — public): for each degree class k, the mean degree of the
    * neighbors of degree-k nodes, in exact hundredths (integer DIV of
    * the neighbor-degree sum by the directed-edge count). Rising
    * k_nn(k) = assortative mixing, falling = hub-and-spoke — the full
    * CURVE behind graph_assortativity's single r. Pure counting: one
    * degree agg, one edge→degree tag join (both directions), one
    * (k)-group agg — every shuffle on bounded keys.
    */
  val knnDegree: Q = Q("graph_knn_degree", (s, dir) => {
    val je = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val ed = je.union(je.select(col("dst").as("src"), col("src").as("dst")))
    val deg = ed.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    ed.join(deg.select(col("v").as("src"), col("d").as("da")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("db")), "dst")
      .groupBy(col("da").as("k"))
      .agg(count(lit(1)).as("n_edge_ends"), sum("db").as("nbr_deg_sum"))
      .withColumn("knn_e2", expr("100 * nbr_deg_sum DIV n_edge_ends"))
      .orderBy("k")
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    deg AS MATERIALIZED (SELECT src AS v, count(*)::BIGINT AS d
      FROM ed GROUP BY src),
    tag AS (SELECT a.d AS da, b.d AS db
      FROM ed JOIN deg a ON a.v = ed.src JOIN deg b ON b.v = ed.dst)
    SELECT da AS k, count(*)::BIGINT AS n_edge_ends,
      CAST(sum(db) AS BIGINT) AS nbr_deg_sum,
      100 * CAST(sum(db) AS BIGINT) // count(*) AS knn_e2
    FROM tag GROUP BY da ORDER BY k"""))

  /** Per-vertex LOCAL clustering coefficient (Watts & Strogatz, Nature
    * 1998 — public) over the user-similarity graph: cc(v) =
    * 2·tri(v) ⁄ (deg(v)·(deg(v)−1)) in exact basis points — the "how
    * clique-like is each user's neighborhood" score that separates
    * community cores from bridge vertices, where [[graft.queries.Analytics.qTriangles]]
    * only ranks raw triangle counts. Rides
    * [[graft.ops.Graph.triangles]]' degree-oriented wedge closure
    * (O(m^1.5) wedges, each triangle once) plus one degree aggregation
    * of the same canonical edge set; the oracle re-enumerates by the
    * canonical a&lt;b&lt;c three-way join on the tiny sim graph. All
    * integer — counts and one truncating DIV — so bit-exact.
    */
  val clusteringLocal: Q = Q("graph_clustering_local", (s, dir) => {
    val e = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val tri = graft.ops.Graph.triangles(e)
    val deg = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    deg.join(tri, Seq("v"), "left_outer")
      .select(col("v").as("user_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("""CASE WHEN deg >= 2
          THEN 20000 * coalesce(n_tri, 0L) DIV (deg * (deg - 1))
          ELSE 0L END""").as("cc_bp"))
      .orderBy("user_id")
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    dg AS (SELECT src AS v, count(*)::BIGINT AS deg FROM ed GROUP BY src),
    t AS (SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
      FROM je e1 JOIN je e2 ON e2.ua = e1.ub
        JOIN je e3 ON e3.ua = e1.ua AND e3.ub = e2.ub),
    tv AS (SELECT unnest([a, b, c]) AS v FROM t),
    tc AS (SELECT v, count(*)::BIGINT AS n_tri FROM tv GROUP BY v)
    SELECT dg.v AS user_id, dg.deg,
      coalesce(tc.n_tri, 0)::BIGINT AS n_tri,
      CAST(CASE WHEN dg.deg >= 2
        THEN 20000 * coalesce(tc.n_tri, 0) // (dg.deg * (dg.deg - 1))
        ELSE 0 END AS BIGINT) AS cc_bp
    FROM dg LEFT JOIN tc ON tc.v = dg.v
    ORDER BY user_id"""))

  /** Single-seed BFS round chain for [[diameterSweep]]'s oracle —
    * [[bfsRoundSql]] without the seed label; MATERIALIZED per the
    * chain rule.
    */
  private def sweepRoundSql(pfx: String, k: Int): String = s""",
    $pfx${k + 1} AS MATERIALIZED (SELECT v, CAST(min(hop) AS BIGINT) AS hop
      FROM (SELECT v, hop FROM $pfx$k
        UNION ALL SELECT e.dst AS v, r.hop + 1
        FROM $pfx$k r JOIN ed e ON e.src = r.v) u
      GROUP BY v)"""

  /** Diameter lower bound by DOUBLE SWEEP (Magnien, Latapy & Habib,
    * "Fast computation of empirically tight bounds for the diameter of
    * massive graphs", JEA 2009 — public): BFS from a deterministic
    * seed (the minimum vertex id), hop to the farthest vertex found
    * (ties broken by min id — total order, both engines agree), BFS
    * again from there; the second eccentricity is the classic
    * empirically-tight diameter lower bound at the cost of exactly TWO
    * BFS walks — the only diameter machinery that exists at
    * 100-TB-graph scale, where all-pairs is off the table. Both sweeps
    * are hop-capped at 8 (the same bounded-depth contract as
    * [[bfsHops]]; both engines apply the identical cap, so the output
    * is the 8-bounded eccentricity either way). One row out: seed,
    * its eccentricity, the far vertex, the diameter bound, and the
    * second sweep's reach count.
    */
  val diameterSweep: Q = Q("graph_diameter_sweep", (s, dir) => {
    val e = simEdges(s, dir).localCheckpoint(true) // tiny graph, deep plan (seed profile)
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
    val s0 = verts.agg(min("v").as("v"))
    val h1 = graft.ops.Graph.bfsHops(e, s0, maxDepth = 8)
    val far = h1.orderBy(col("hop").desc, col("v")).limit(1)
      .select(col("v").as("far_vertex"), col("hop").as("ecc_seed0"))
    val h2 = graft.ops.Graph.bfsHops(
      e, far.select(col("far_vertex").as("v")), maxDepth = 8)
    val sweep2 = h2.agg(max("hop").as("diameter_lb"),
      count(lit(1)).as("n_reached"))
    s0.select(expr("CAST(v AS BIGINT)").as("seed0"))
      .crossJoin(far).crossJoin(sweep2)
      .select(col("seed0"), col("ecc_seed0"),
        expr("CAST(far_vertex AS BIGINT)").as("far_vertex"),
        col("diameter_lb"), col("n_reached"))
  }, Some(s"""WITH $itemsSql,
    je AS MATERIALIZED (SELECT ua, ub FROM jac WHERE jacc_bp >= 3000),
    ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM je
      UNION ALL SELECT ub, ua FROM je),
    a0 AS MATERIALIZED (SELECT min(src) AS v, CAST(0 AS BIGINT) AS hop
      FROM ed)${(0 until 8).map(k => sweepRoundSql("a", k)).mkString},
    fv AS MATERIALIZED (SELECT v, hop FROM a8 ORDER BY hop DESC, v LIMIT 1),
    b0 AS MATERIALIZED (SELECT v, CAST(0 AS BIGINT) AS hop
      FROM fv)${(0 until 8).map(k => sweepRoundSql("b", k)).mkString}
    SELECT CAST((SELECT v FROM a0) AS BIGINT) AS seed0,
      (SELECT hop FROM fv) AS ecc_seed0,
      CAST((SELECT v FROM fv) AS BIGINT) AS far_vertex,
      (SELECT max(hop) FROM b8) AS diameter_lb,
      (SELECT count(*)::BIGINT FROM b8) AS n_reached"""))

  /** Luby maximal-independent-set convergence trace over the
    * part-transition graph ([[graft.ops.Graph.lubyMis]] — local-minima
    * variant, md5 priorities): per parallel round, how many vertices
    * enter the MIS and how many stay active, plus the self-evident
    * invariant columns (independence re-verified against the edge set;
    * maximality ≡ the active set drained). MIS is the classic parallel
    * symmetry-breaking primitive (scheduling non-conflicting work,
    * picking near-dup cluster exemplars no two of which conflict); the
    * trace is what an operator dashboards — geometric decay means the
    * round budget holds at any scale. Spark runs the adaptive
    * counted-small/distributed loop; the oracle unrolls 24 MATERIALIZED
    * rounds of the identical strict-priority rule and emits only rounds
    * that executed.
    */
  lazy val misGreedy: Q = Q("graph_mis_greedy", (s, dir) => {
    // the degree caps bound edges at 64·V (V = #parts), so the counted
    // gate can sit at 2M (~30 MB driver state max) — at sf0.1 the 309k
    // collected edges loop in milliseconds where the 7-round distributed
    // loop paid 16.7 s of per-round job scheduling (the MIS loop
    // measurement, OPTIMIZATION_r14.md)
    val (trace, indep, maximal) = graft.ops.Graph.lubyMis(
      partTransitions(s, dir), "src", "dst", maxRounds = 24,
      smallCutoff = 2000000L)
    import s.implicits._
    trace.map { case (r, w, c, a) => (r.toLong, w, c, a, indep, maximal) }
      .toDF("round", "n_winners", "cum_mis", "active_after",
        "independent_ok", "maximal_ok")
      .orderBy("round")
  }, Some {
    val R = 24
    val rounds = (1 to R).map { r =>
      s"""w$r AS MATERIALIZED (
      SELECT t.v FROM a$r t LEFT JOIN (
        SELECT e.v, min(b.pr) AS mn FROM ad e JOIN a$r b ON b.v = e.u
        GROUP BY e.v) m ON m.v = t.v
      WHERE m.mn IS NULL OR t.pr < m.mn),
    a${r + 1} AS MATERIALIZED (
      SELECT t.v, t.pr FROM a$r t
      WHERE t.v NOT IN (SELECT v FROM w$r)
        AND t.v NOT IN (SELECT e.u FROM ad e JOIN w$r x ON x.v = e.v))"""
    }.mkString(",\n    ")
    val traceRows = (1 to R).map { r =>
      s"""SELECT $r AS round, (SELECT count(*) FROM w$r) AS n_winners,
        (SELECT count(*) FROM a${r + 1}) AS active_after,
        (SELECT count(*) FROM a$r) AS n_active"""
    }.mkString("\n      UNION ALL ")
    val misUnion = (1 to R).map(r => s"SELECT v FROM w$r").mkString(" UNION ALL ")
    s"""WITH $partTransitionsSql,
    und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
        greatest(src, dst) AS b FROM ec WHERE src <> dst),
    ad AS MATERIALIZED (SELECT a AS v, b AS u FROM und
      UNION ALL SELECT b, a FROM und),
    a1 AS MATERIALIZED (SELECT v,
        CAST('0x' || substr(md5('mis' || CAST(v AS VARCHAR)), 1, 15) AS BIGINT) AS pr
      FROM (SELECT DISTINCT v FROM ad)),
    $rounds,
    mis AS MATERIALIZED ($misUnion),
    tr AS ($traceRows),
    fin AS (SELECT
      NOT EXISTS (SELECT 1 FROM und e JOIN mis m1 ON m1.v = e.a
        JOIN mis m2 ON m2.v = e.b) AS independent_ok,
      (SELECT count(*) FROM a${R + 1}) = 0 AS maximal_ok)
    SELECT CAST(round AS BIGINT) AS round,
      CAST(n_winners AS BIGINT) AS n_winners,
      CAST(sum(n_winners) OVER (ORDER BY round) AS BIGINT) AS cum_mis,
      CAST(active_after AS BIGINT) AS active_after,
      independent_ok, maximal_ok
    FROM tr, fin WHERE n_active > 0 ORDER BY round"""
  })

  /** Iterated-MIS greedy coloring over the part-transition graph
    * ([[graft.ops.Graph.greedyColoring]]): three color classes peeled
    * off by the Luby rule, each an independent set = one batch of
    * mutually non-conflicting work (the classic parallel scheduling
    * construction); the remainder after 3 waves is what a 3-wave
    * schedule cannot place. Oracle: three chained 12-round MATERIALIZED
    * MIS blocks over the shrinking vertex set — the winner rule needs
    * no edge filtering per block because the neighbor minimum is taken
    * over ACTIVE vertices only.
    */
  lazy val coloringMis: Q = Q("graph_coloring_mis", (s, dir) => {
    // counted gate justified as in graph_mis_greedy (edges ≤ 64·V)
    val (trace, indep) = graft.ops.Graph.greedyColoring(
      partTransitions(s, dir), "src", "dst", colors = 3, maxRounds = 12,
      smallCutoff = 2000000L)
    import s.implicits._
    trace.map { case (c, n, r) => (c.toLong, n, r, indep) }
      .toDF("color", "n_colored", "n_remaining", "independent_ok")
      .orderBy("color")
  }, Some {
    val R = 12
    val blocks = (1 to 3).map { c =>
      val rounds = (1 to R).map { r =>
        s"""w$c$r AS MATERIALIZED (
        SELECT t.v FROM a$c$r t LEFT JOIN (
          SELECT e.v, min(b.pr) AS mn FROM ad e JOIN a$c$r b ON b.v = e.u
          GROUP BY e.v) m ON m.v = t.v
        WHERE m.mn IS NULL OR t.pr < m.mn),
      a$c${r + 1} AS MATERIALIZED (
        SELECT t.v, t.pr FROM a$c$r t
        WHERE t.v NOT IN (SELECT v FROM w$c$r)
          AND t.v NOT IN (SELECT e.u FROM ad e JOIN w$c$r x ON x.v = e.v))"""
      }.mkString(",\n      ")
      val misUnion = (1 to R).map(r => s"SELECT v FROM w$c$r").mkString(" UNION ALL ")
      s"""$rounds,
      mis$c AS MATERIALIZED ($misUnion),
      rem$c AS MATERIALIZED (SELECT t.v, t.pr FROM rem${c - 1} t
        WHERE t.v NOT IN (SELECT v FROM mis$c)),
      a${c + 1}1 AS MATERIALIZED (SELECT v, pr FROM rem$c)"""
    }.mkString(",\n    ")
    s"""WITH $partTransitionsSql,
    und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
        greatest(src, dst) AS b FROM ec WHERE src <> dst),
    ad AS MATERIALIZED (SELECT a AS v, b AS u FROM und
      UNION ALL SELECT b, a FROM und),
    rem0 AS MATERIALIZED (SELECT v,
        CAST('0x' || substr(md5('mis' || CAST(v AS VARCHAR)), 1, 15) AS BIGINT) AS pr
      FROM (SELECT DISTINCT v FROM ad)),
    a11 AS MATERIALIZED (SELECT v, pr FROM rem0),
    $blocks,
    fin AS (SELECT NOT EXISTS (
        SELECT 1 FROM und e
        JOIN (SELECT v, 1 AS c FROM mis1 UNION ALL SELECT v, 2 FROM mis2
          UNION ALL SELECT v, 3 FROM mis3) m1 ON m1.v = e.a
        JOIN (SELECT v, 1 AS c FROM mis1 UNION ALL SELECT v, 2 FROM mis2
          UNION ALL SELECT v, 3 FROM mis3) m2 ON m2.v = e.b
        WHERE m1.c = m2.c) AS independent_ok)
    SELECT CAST(color AS BIGINT) AS color,
      CAST(n_colored AS BIGINT) AS n_colored,
      CAST(n_remaining AS BIGINT) AS n_remaining, independent_ok
    FROM (
      SELECT 1 AS color, (SELECT count(*) FROM mis1) AS n_colored,
        (SELECT count(*) FROM rem1) AS n_remaining
      UNION ALL SELECT 2, (SELECT count(*) FROM mis2),
        (SELECT count(*) FROM rem2)
      UNION ALL SELECT 3, (SELECT count(*) FROM mis3),
        (SELECT count(*) FROM rem3)), fin
    ORDER BY color"""
  })
}
