package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the core primitives of a
  * 100 TB training-data pipeline:
  *
  *  - exact:     hash-groupBy (one shuffle on the content hash);
  *  - n-gram Jaccard: exact set similarity on word-3-gram shingles via an
  *    inverted-index self-join (shuffle on shingle). At 100 TB this runs
  *    on LSH CANDIDATES only — the all-pairs form here is the verifier;
  *  - MinHash+LSH: 16 permutations → 8 bands × 2 rows → bucket join.
  *    Candidate generation touches only band-signature collisions, so the
  *    join is tiny even at full scale; signatures are one groupBy;
  *  - SimHash: 32-bit signature; the 4-byte chunk join is EXACT for
  *    hamming ≤ 3 by pigeonhole (3 flipped bits leave ≥1 of 4 chunks
  *    intact) — a bucketed near-dup join with no recall loss.
  *
  * All hashes derive from md5 (cross-engine reproducible:
  * `conv(substr(md5(x),1,15),16,10)` ≡ DuckDB `('0x'||…)::BIGINT`), so the
  * DuckDB oracle reproduces signatures bit-for-bit.
  */
object Dedup {

  def all: Seq[Q] = Seq(dedupExact, ngramJaccard, minhashLsh, simhash,
    dedupClusters, hashSplit, decontaminate, decontaminate13,
    dedupIncremental, pipelineTrainingSet, pipelineEvalSet,
    dedupCrossSource, minhashContainment, dedupMaxSpan, dedupSpanApply,
    dedupSpanApplyBest, rougePairs, lshEval, groupKfold, cdcRewrite,
    lshBands, prefixFilter, urlCanonical, dedupRateBySource, symspell,
    mergeMatching, lshTuning, minhashBbit, capCoverage)

  /** Composed EVAL-set pipeline — the round-3 ops chained end-to-end the
    * way an eval-curation job runs them: (1) reproducible test split
    * (hash bucket ≥ 90, same primitive as sample_hash_split), (2)
    * DECONTAMINATE the test side against train (drop any test doc whose
    * word-3-gram shingles overlap the train shingle set by ≥ 7500 basis
    * points — the reverse direction of dedup_decontaminate, because an
    * eval set leaking training text is the error that actually costs
    * you; the ratio form matters on this 30-word-vocab corpus where
    * EVERY doc shares some shingle), (3) exactly 5 docs per source from
    * the clean remainder in salted-hash order
    * (ops/Sample.stratifiedTopN), with token counts for the manifest.
    * One hash-exact oracle across all three stages — a regression in
    * the split hash, the shingle grammar, or the stratified ordering
    * surfaces here even if each stage's own query still passes.
    */
  // lazy: sits above duckShingles in the object body, and a strict val
  // would interpolate it as null at class init (the documented gotcha)
  lazy val pipelineEvalSet: Q = Q("pipeline_eval_set", (s, dir) => {
    val docs = Tables.t(s, dir, "documents")
      .withColumn("h", graft.ops.Text.hashBucket(col("doc_id")))
    val sh = sparkShingles(s, dir).withColumn("h", expr(
      "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
    val trainSh = sh.filter(col("h") < 80).select(col("sh").as("t_sh")).distinct()
    val testSh = sh.filter(col("h") >= 90)
    // shingles are already distinct per doc (Lsh.shingles array_distincts
    // before exploding), so plain counts are per-doc distinct counts
    val tot = testSh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val shared = testSh.join(trainSh, col("sh") === col("t_sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("shared"))
    val dirty = shared.join(tot, "doc_id")
      .filter(expr("10000 * shared DIV nsh >= 7500"))
      .select(col("doc_id").as("bad_id"))
    val clean = docs.filter(col("h") >= 90)
      .join(dirty, col("doc_id") === col("bad_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        graft.ops.Text.bpeTokens(col("text")).as("n_tokens"))
    graft.ops.Sample.stratifiedTopN(clean, "source", "doc_id", n = 5)
      .select(col("source"), col("rn"), col("doc_id"), col("n_tokens"))
      .orderBy("source", "rn")
  }, Some(s"""WITH $duckShingles,
    hs AS (SELECT doc_id, sh,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h
      FROM sh),
    train_sh AS (SELECT DISTINCT sh FROM hs WHERE h < 80),
    tot AS (SELECT doc_id, count(*) AS nsh FROM hs WHERE h >= 90 GROUP BY doc_id),
    shared AS (SELECT t.doc_id, count(*) AS shared FROM hs t
      JOIN train_sh x ON t.sh = x.sh WHERE t.h >= 90 GROUP BY t.doc_id),
    dirty AS (SELECT s.doc_id FROM shared s JOIN tot USING (doc_id)
      WHERE 10000 * s.shared // tot.nsh >= 7500),
    clean AS (SELECT d.doc_id, d.source,
        CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
      FROM documents d
      WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 >= 90
        AND d.doc_id NOT IN (SELECT doc_id FROM dirty)),
    ranked AS (SELECT source, doc_id, n_tokens,
        CAST(row_number() OVER (PARTITION BY source
          ORDER BY CAST('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
          doc_id) AS BIGINT) AS rn
      FROM clean)
    SELECT source, rn, doc_id, n_tokens FROM ranked WHERE rn <= 5
    ORDER BY source, rn"""))


  /** INCREMENTAL dedup — the daily-batch shape: a new source arrives and
    * must be deduped against the already-ingested corpus. A Bloom filter
    * built over the corpus fingerprints (distributed aggregation; final
    * sketch is a few MB regardless of corpus row count — sized by bits,
    * not rows) is broadcast and prefilters the batch BEFORE any shuffle:
    *  - bloom-miss  → definitely new (no false negatives), never shuffled;
    *  - bloom-hit   → possibly seen; only these (a tiny fraction at a
    *    1% fpp) enter the exact anti-join that removes false positives.
    * The result is EXACTLY the plain anti-join — the oracle is the plain
    * anti-join — but at 100 TB the shuffle carries ~1% of the batch
    * instead of all of it. The mightContain UDF runs on a broadcast
    * sketch: bounded memory, no per-row state, deliberately outside
    * codegen (a hash probe, not an expression tree).
    */
  val dedupIncremental: Q = Q("dedup_incremental", (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.ops.Text.fingerprint(col("text")).as("fp"))
    val seen = d.filter(col("source") =!= "src19").select("fp")
    val batch = d.filter(col("source") === "src19").select("doc_id", "fp")
    val bloom = seen.stat.bloomFilter("fp", 1000000L, 0.01)
    val bloomBc = s.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: String) => bloomBc.value.mightContainString(fp))
    val misses = batch.filter(!mightContain(col("fp")))
    val hits = batch.filter(mightContain(col("fp")))
      .join(seen, Seq("fp"), "left_anti")
      .select("doc_id", "fp")
    misses.select("doc_id", "fp").union(hits)
      .orderBy("doc_id")
  }, Some("""SELECT doc_id,
      md5(list_aggregate(list_sort(list_distinct(
        list_filter(string_split(lower(text), ' '), w -> w <> ''))), 'string_agg', ' ')) AS fp
    FROM documents b WHERE source = 'src19'
      AND NOT EXISTS (SELECT 1 FROM documents s WHERE s.source <> 'src19'
        AND md5(list_aggregate(list_sort(list_distinct(
          list_filter(string_split(lower(s.text), ' '), w -> w <> ''))), 'string_agg', ' '))
          = md5(list_aggregate(list_sort(list_distinct(
          list_filter(string_split(lower(b.text), ' '), w -> w <> ''))), 'string_agg', ' ')))
    ORDER BY doc_id"""))

  // constants live in the generic ops/Lsh module (shared by the library
  // surface and these oracle builders)
  private val P = graft.ops.Lsh.P
  private[graft] val perms: Seq[(Long, Long)] = graft.ops.Lsh.perms

  // ---- shared SQL fragments (DuckDB side) ----
  private val duckShingles =
    """ws AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
      FROM ws WHERE len(w) >= 3)"""

  /** Document-frequency cap for the EXACT shingle pair-miners: grams
    * occurring in more than DfCap documents are dropped from the
    * inverted index BEFORE the gram self-join, bounding the pairs a
    * single gram can emit at DfCap² (without it one stop-gram with
    * df=10⁶ at 100 TB emits 10¹² pairs from one shuffle key). Near-dup
    * recall is unaffected while the cap exceeds real duplicate-cluster
    * sizes — a gram shared by more documents than any dup cluster is
    * boilerplate, not dup signal; dropping ultra-common n-grams is the
    * standard cut in exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — public).
    * Max observed 3-gram df at sf0.1 is 25, so 128 is results-neutral
    * at test scale while the bound is structural (ScaleSpec pins the
    * plan shape; the DuckDB oracles apply the identical QUALIFY cut).
    * The cap reuses [[graft.ops.Scale.capGroups]]: the df window is
    * partitioned on the gram, the same key the self-join shuffles on,
    * so the cap adds no extra shuffle.
    */
  private[graft] val DfCap = 128L

  /** duckShingles + the hashed-gram view `shh`: every downstream join,
    * window and count in the exact pair-miner oracles runs on the
    * canonical 60-bit md5-derived long, mirroring the Spark side
    * ([[hashedShingles]]) so a 2^-60 gram collision would merge the
    * same two grams on both engines — bit-exact by construction.
    */
  private[graft] lazy val duckHashedShingles =
    s"""$duckShingles,
    shh AS (SELECT doc_id,
        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh
      FROM sh)"""

  /** duckHashedShingles + the df-capped view `shc` the pair-miner
    * oracles join on (the QUALIFY twin of capGroups over the gram key).
    */
  private lazy val duckCappedShingles =
    s"""$duckHashedShingles,
    shc AS (SELECT doc_id, sh FROM shh
      QUALIFY count(*) OVER (PARTITION BY sh) <= $DfCap)"""

  /** Hashed shingles: gram STRINGS leave the pipeline at the explode —
    * every shuffle key, window partition, join key and count below runs
    * on the canonical md5-derived 60-bit long (the MinHash/SimHash
    * parity hash). Same move as dedup_prefix_filter's A/B-measured
    * 6.9→4.1 s at sf0.1: 8-byte fixed-width exchange rows instead of
    * ~20-byte gram strings, and long equality in the joins.
    */
  private[graft] def hashedShingles(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.Md5Hash60.register(s)
    sparkShingles(s, dir).select(col("doc_id"), expr("graft_h60(sh)").as("sh"))
  }

  /** The df-capped HASHED shingle table feeding the exact pair-miners. */
  private[graft] def cappedShingles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scale.capGroups(hashedShingles(s, dir), "sh", DfCap)

  /** The md5-derived shingle hash reduced into the minhash universe. */
  private[graft] val hashExpr = graft.ops.Lsh.hashExpr

  /** The 16 permutation min-aggregates over `hm`. */
  private[graft] def sigCols: Seq[Column] = perms.zipWithIndex.map { case ((a, b), i) =>
    min(expr(s"($a * hm + $b) % $P")).as(s"m$i")
  }

  /** Spark twin: doc_id + exploded distinct word-3-gram shingles (the
    * generic shingler from ops/Lsh applied to the documents table).
    */
  private[graft] def sparkShingles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Lsh.shingles(Tables.t(s, dir, "documents"), "doc_id", "text", n = 3)

  /** Exact dedup: group by content hash, keep the min doc_id per group. */
  val dedupExact: Q = Q("dedup_exact", (s, dir) => {
    Tables.t(s, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .orderBy("content_hash")
  }, Some("""SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM documents GROUP BY 1 ORDER BY content_hash"""))

  /** Per-source duplication health report — the corpus-quality number
    * every crawl snapshot publishes before mixing (a source whose
    * exact-dup rate spikes is re-crawling itself): per source, doc
    * count, distinct exact content hashes, distinct canonical word-set
    * fingerprints (the template/boilerplate collision key — catches
    * near-dups that differ only in word order or repetition), and both
    * duplication rates in basis points. Two exact count-distincts in
    * ONE aggregate pass (Spark expands them into a grouping-id
    * two-phase plan — partial aggregation per distinct column, never a
    * row-level self-join); output is #sources rows.
    */
  val dedupRateBySource: Q = Q("dedup_rate_by_source", (s, dir) => {
    Tables.t(s, dir, "documents")
      .select(col("source"), md5(col("text")).as("ch"),
        graft.ops.Text.fingerprint(col("text")).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("ch").as("n_exact"),
        countDistinct("fp").as("n_fingerprint"))
      .withColumn("exact_dup_bp", expr("((n_docs - n_exact) * 10000) DIV n_docs"))
      .withColumn("template_dup_bp", expr("((n_docs - n_fingerprint) * 10000) DIV n_docs"))
      .orderBy("source")
  }, Some("""WITH d AS (SELECT source, md5(text) AS ch,
      md5(array_to_string(list_sort(list_distinct(
        list_filter(string_split(lower(text), ' '), x -> x <> ''))), ' ')) AS fp
    FROM documents)
    SELECT source, count(*)::BIGINT AS n_docs,
      count(DISTINCT ch)::BIGINT AS n_exact,
      count(DISTINCT fp)::BIGINT AS n_fingerprint,
      ((count(*) - count(DISTINCT ch)) * 10000) // count(*) AS exact_dup_bp,
      ((count(*) - count(DISTINCT fp)) * 10000) // count(*) AS template_dup_bp
    FROM d GROUP BY source ORDER BY source"""))

  /** Exact word-3-gram Jaccard ≥ 0.5 via inverted-index self-join,
    * df-capped at [[DfCap]] so no gram key can blow up the join.
    */
  /** Exact-Jaccard pairs (inverted-index join at ≥ 0.5) from an already
    * df-capped, persisted shingle relation — the ONE code path under
    * dedup_ngram_jaccard AND the detector eval, so the eval can never
    * drift from the operator it grades while still sharing a single
    * shingle explode with the other detector.
    */
  private def exactPairsFrom(sh: DataFrame): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("d1"), col("sh"))
    val b = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    val shared = a.join(b, col("sh") === col("sh2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
    shared
      .join(counts.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jaccard", round(col("shared") / (col("n1") + col("n2") - col("shared")), 4))
      .filter(col("shared") / (col("n1") + col("n2") - col("shared")) >= 0.5)
      .select("d1", "d2", "jaccard")
  }

  val ngramJaccard: Q = Q("dedup_ngram_jaccard", (s, dir) => {
    // the exploded shingle set feeds three subtrees (counts + both join
    // sides) — persist it once instead of re-exploding per consumer
    exactPairsFrom(cappedShingles(s, dir).persist()).orderBy("d1", "d2")
  }, Some(s"""WITH $duckCappedShingles,
    cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT d1, d2, round(shared * 1.0 / (x.n + y.n - shared), 4) AS jaccard
    FROM pairs JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2
    WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5
    ORDER BY d1, d2"""))

  /** MinHash + LSH near-dup detection: signature = 16 min-hashes, banded
    * 8×2; bucket-joined candidates filtered at estimated Jaccard ≥ 0.5.
    */
  /** Estimated-Jaccard pairs (typed-UDAF signatures → banded candidates
    * → est ≥ 0.5) from an exploded shingle relation — the ONE code path
    * under dedup_minhash_lsh AND the detector eval (same no-drift
    * contract as [[exactPairsFrom]]).
    */
  private def estPairsFrom(shRaw: DataFrame): DataFrame = {
    // generic pipeline from ops/Lsh: HASHED shingle → typed-UDAF
    // signatures (persisted: feeds the bands and both estimated-Jaccard
    // sides) → banded candidate pairs. Input contract: shRaw carries the
    // 60-bit hashed gram ([[hashedShingles]]); hm = sh % P is bit-equal
    // to hashing the string directly, so the oracle sig CTEs (string
    // md5) are unchanged
    val sigArr = graft.ops.Lsh.signaturesHashed(shRaw, "doc_id").persist()
    val sig = sigArr.select(col("doc_id") +:
      (0 until 16).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
    val cand = graft.ops.Lsh.candidatePairs(sigArr, "doc_id")
    val sigX = sig.select(col("doc_id").as("d1") +: (0 until 16).map(i => col(s"m$i").as(s"x$i")): _*)
    val sigY = sig.select(col("doc_id").as("d2") +: (0 until 16).map(i => col(s"m$i").as(s"y$i")): _*)
    // double(16) denominator (not the literal 16.0): Spark types decimal
    // literals as DECIMAL and the column must be DOUBLE to match the oracle
    val estExpr = graft.ops.Lsh.estJaccardExpr()
    cand.join(sigX, "d1").join(sigY, "d2")
      .withColumn("est_jaccard", round(expr(estExpr), 4))
      .filter(expr(estExpr) >= 0.5)
      .select("d1", "d2", "est_jaccard")
  }

  /** Prefix-filtering exact-Jaccard self-join (AllPairs/PPJoin family —
    * Bayardo, Ma, Srikant, "Scaling Up All Pairs Similarity Search",
    * WWW'07; Xiao, Wang, Lin, Yu, "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08 — public). The scale-native EXACT
    * alternative to the df-capped inverted index: order every document's
    * shingle set by ascending global document frequency (rarest gram
    * first, gram string as tie-break) and index only the PREFIX of
    * length |x| − ⌈t·|x|⌉ + 1. For Jaccard ≥ t the smallest common gram
    * w satisfies pos_x(w) ≤ |x| − o + 1 ≤ |x| − ⌈t·|x|⌉ + 1 on BOTH
    * sides (o ≥ t·max(|x|,|y|)), so every qualifying pair collides on a
    * prefix-prefix equi-join — no recall loss, and the joined postings
    * carry only each document's RAREST grams, so hot boilerplate grams
    * never reach the join. A [[graft.ops.Scale.capGroups]] belt at
    * [[DfCap]] on the prefix postings makes the per-key bound absolute
    * (non-binding at test scale — max 3-gram df is 25); candidates are
    * then verified EXACTLY against the full (per-doc bounded) gram sets,
    * so precision is always exact. t = 0.5 ⇒ prefix = n − (n+1) DIV 2
    * + 1 in shared integer arithmetic.
    */
  val prefixFilter: Q = Q("dedup_prefix_filter", (s, dir) => {
    // gram STRINGS leave the pipeline at the explode: every window sort,
    // join key, array element and intersect below runs on the canonical
    // md5-derived 60-bit long (the MinHash/SimHash parity hash) — the
    // prefix-filter A/B-measured 6.9→4.1 s move at sf0.1, bit-exact because
    // both engines hash identically (a within-doc 2^-60 collision would
    // merge the same two grams on both sides)
    val sh = hashedShingles(s, dir).persist()
    val pre = graft.ops.Scale.capGroups(
      graft.ops.Lsh.prefixPostings(sh, "doc_id"), "sh", DfCap)
    val cand = pre.select(col("doc_id").as("d1"), col("sh"))
      .join(pre.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        col("sh") === col("sh2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    // candidate-keyed EXACT verification (the rougePairs overlap shape):
    // |g1 ∩ g2| as a posting join probed by the bounded candidate list —
    // no per-doc gram arrays at all, so nothing corpus-sized ever
    // collects (the collect_list form built every document's set to
    // verify a handful of pairs, and a candidate-restricted set build
    // serialized the previously parallel stages — A/B'd worse both
    // ways). Every candidate shares ≥1 gram by construction (the
    // colliding prefix gram is in both FULL sets), so the inner joins
    // drop nothing.
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shr = cand
      .join(sh.select(col("doc_id").as("d1"), col("sh")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("shb")),
        Seq("d2"), "inner")
      .filter(col("sh") === col("shb"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
    shr
      .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(col("shared") / (col("n1") + col("n2") - col("shared")) >= 0.5)
      .select(col("d1"), col("d2"),
        round(col("shared") / (col("n1") + col("n2") - col("shared")), 4).as("jaccard"))
      .orderBy("d1", "d2")
  }, Some(s"""WITH $duckShingles,
    shh AS (SELECT doc_id,
        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh
      FROM sh),
    gdf AS (SELECT sh, count(*) AS df FROM shh GROUP BY sh),
    rk AS (SELECT s.doc_id, s.sh,
        row_number() OVER (PARTITION BY s.doc_id ORDER BY g.df, s.sh) AS rk,
        count(*) OVER (PARTITION BY s.doc_id) AS n
      FROM shh s JOIN gdf g USING (sh)),
    pre AS (SELECT doc_id, sh FROM rk WHERE rk <= n - ((n + 1) // 2) + 1
      QUALIFY count(*) OVER (PARTITION BY sh) <= $DfCap),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc_id < b.doc_id),
    cnt AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
    shr AS (SELECT c.d1, c.d2, count(*)::BIGINT AS shared
      FROM cand c JOIN shh a ON a.doc_id = c.d1
        JOIN shh b ON b.doc_id = c.d2 AND b.sh = a.sh
      GROUP BY c.d1, c.d2)
    SELECT d1, d2,
      round(shared * 1.0 / (x.n + y.n - shared), 4) AS jaccard
    FROM shr JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2
    WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5
    ORDER BY d1, d2"""))

  val minhashLsh: Q = Q("dedup_minhash_lsh", (s, dir) =>
    estPairsFrom(hashedShingles(s, dir)).orderBy("d1", "d2"),
  Some(s"""WITH $minhashCtes
    SELECT d1, d2, round($minhashEstExpr, 4) AS est_jaccard
    FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2
    WHERE $minhashEstExpr >= 0.5 ORDER BY d1, d2"""))

  /** The DuckDB CTE chain producing minhash band candidates — shared by
    * the minhash oracle and the clustering oracle.
    */
  private lazy val minhashCtes: String = {
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * hm + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR) AS bsig FROM sig"
    }.mkString(" UNION ALL ")
    s"""$duckShingles,
    h AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % 2147483647 AS hm FROM sh),
    sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
    bands AS ($bandSelects),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)"""
  }

  private lazy val minhashEstExpr: String =
    (0 until 16).map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
      .mkString("(", " + ", ") / 16.0")

  /** Asymmetric CONTAINMENT on the LSH candidate pairs: |S₁∩S₂|/|S₁| and
    * /|S₂| on the exact shingle sets, in integer basis points — the
    * doc-inside-doc signal (quote farms, page-plus-boilerplate mirrors)
    * that symmetric Jaccard misses: a short doc fully embedded in a long
    * one has low Jaccard but containment ≈ 1 on the short side
    * (Broder's containment, SEQUENCES'97 — public). Candidates come
    * from the SAME banded MinHash index as dedup_minhash_lsh (never
    * all-pairs); the exact intersection join touches only candidate
    * pairs' shingles.
    */
  val minhashContainment: Q = Q("text_minhash_containment", (s, dir) => {
    // one HASHED shingle explode feeds the signature aggregation and
    // both exact-intersection sides (see hashedShingles — 8-byte keys)
    val sh = hashedShingles(s, dir).persist()
    val cand = graft.ops.Lsh.candidatePairs(
      graft.ops.Lsh.signaturesHashed(sh, "doc_id"), "doc_id")
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("d1"), col("sh"))
    val b = sh.select(col("doc_id").as("d2b"), col("sh").as("sh2"))
    val shared = cand.join(a, "d1")
      .join(b, col("d2") === col("d2b") && col("sh") === col("sh2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
    shared
      .join(counts.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("cont12_bp", expr("shared * 10000 DIV n1"))
      .withColumn("cont21_bp", expr("shared * 10000 DIV n2"))
      .filter(expr("greatest(cont12_bp, cont21_bp) >= 6000"))
      .select("d1", "d2", "shared", "n1", "n2", "cont12_bp", "cont21_bp")
      .orderBy("d1", "d2")
  }, Some(s"""WITH $minhashCtes,
    shh AS (SELECT doc_id,
        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh
      FROM sh),
    cnt AS (SELECT doc_id, count(*)::BIGINT AS n FROM shh GROUP BY doc_id),
    shr AS (SELECT c.d1, c.d2, count(*)::BIGINT AS shared
      FROM cand c JOIN shh a ON a.doc_id = c.d1
        JOIN shh b ON b.doc_id = c.d2 AND b.sh = a.sh
      GROUP BY c.d1, c.d2),
    sc AS (SELECT d1, d2, shared, x.n AS n1, y.n AS n2,
        shared * 10000 // x.n AS cont12_bp, shared * 10000 // y.n AS cont21_bp
      FROM shr JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2)
    SELECT d1, d2, shared, n1, n2, cont12_bp, cont21_bp
    FROM sc WHERE greatest(cont12_bp, cont21_bp) >= 6000
    ORDER BY d1, d2"""))

  /** 32-bit SimHash near-dup pairs at hamming ≤ 3, candidate-joined on the
    * four 8-bit chunks (exact by pigeonhole).
    */
  val simhash: Q = Q("dedup_simhash", (s, dir) => {
    // generic pipeline from ops/Lsh: typed-UDAF signatures + pigeonhole
    // chunk banding (exact for hamming <= 3)
    graft.ops.Lsh.simhashPairs(
        graft.ops.Lsh.simhashSignatures(sparkShingles(s, dir), "doc_id"), "doc_id")
      .orderBy("d1", "d2")
  }, Some {
    val bitSums = (0 until 32).map { b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val sigExpr = (0 until 32).map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val chunkSelects = (0 until 4).map { c =>
      s"SELECT doc_id, sig, $c AS chunk, (sig >> ${8 * c}) & 255 AS cv FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $duckShingles,
    h AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h FROM sh),
    sums AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, $sigExpr AS sig FROM sums),
    chunks AS ($chunkSelects),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sig AS sig1, b.sig AS sig2
      FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id)
    SELECT d1, d2, CAST(bit_count(xor(sig1, sig2)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sig1, sig2)) <= 3 ORDER BY d1, d2"""
  })

  /** Near-dup CLUSTERING: connected components over the MinHash pair
    * graph via min-label propagation, iterated TO THE FIXPOINT (the
    * round cap is a runaway-guard far above any real diameter, and
    * hitting it THROWS rather than returning unconverged labels — the
    * oracle computes exact components, so a silent early exit would be a
    * wrong answer). Cluster id = min doc_id of the component = the
    * canonical "keep" doc. At 100 TB the same loop runs with the
    * large-star/small-star optimization.
    */
  val dedupClusters: Q = Q("dedup_clusters", (s, dir) => {
    // generic min-label-propagation core lives in ops/Graph (reliable
    // checkpoints when spark.graft.checkpointDir is set, local otherwise)
    val pairs = minhashLsh.fn(s, dir).select("d1", "d2").persist()
    graft.ops.Graph.connectedComponents(pairs, "d1", "d2")
      .select(col("v").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }, Some(s"""WITH RECURSIVE $minhashCtes,
    pairs AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
      JOIN sig y ON y.doc_id = d2 WHERE $minhashEstExpr >= 0.5),
    edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs),
    reach AS (
      SELECT DISTINCT src AS v, src AS r FROM edges
      UNION
      SELECT e.dst AS v, r.r FROM reach r JOIN edges e ON e.src = r.v)
    SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
    ORDER BY doc_id"""))

  /** Eval DECONTAMINATION — the train/test n-gram overlap check every
    * training pipeline runs before shipping a split: train-side documents
    * sharing any word-3-gram shingle with any test-side document, with
    * the shared-shingle count. Splits come from the same reproducible
    * md5 hash as `sample_hash_split` (h<80 train, h>=90 test). The join
    * is an inverted shingle index — at 100 TB the test-side shingle set
    * is small (eval suites are) and broadcasts; the train side streams
    * through it with no all-pairs work.
    */
  val decontaminate: Q = Q("dedup_decontaminate", (s, dir) => {
    val sh = sparkShingles(s, dir).withColumn("h", expr(
      "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
    val trainSh = sh.filter(col("h") < 80).select(col("doc_id"), col("sh"))
    val testSh = sh.filter(col("h") >= 90).select(col("sh").as("t_sh")).distinct()
    trainSh.join(testSh, col("sh") === col("t_sh"))
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_shared_shingles"))
      .orderBy("doc_id")
  }, Some(s"""WITH $duckShingles,
    hs AS (SELECT doc_id, sh,
      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h FROM sh),
    t AS (SELECT DISTINCT sh FROM hs WHERE h >= 90)
    SELECT hs.doc_id, count(DISTINCT hs.sh) AS n_shared_shingles
    FROM hs JOIN t ON hs.sh = t.sh WHERE hs.h < 80
    GROUP BY hs.doc_id ORDER BY doc_id"""))

  /** Eval decontamination at the LITERATURE n: the word-3-gram check
    * above is the cheap screen; published contamination filters use
    * ~13-token verbatim overlap (Lee et al., ACL'22 dedup suffix spans;
    * Rae et al., Gopher, report 13-gram decontamination of their evals)
    * because 3-grams flag benign phrase reuse while 13 consecutive
    * shared tokens are near-certain leakage. Same inverted-index shape —
    * the n only changes the shingle grammar ([[graft.ops.Lsh.shingles]]
    * is n-generic): test-side 13-gram set is far SMALLER than the
    * 3-gram set (only verbatim runs survive), so the broadcast side
    * shrinks as n grows — the literature n is also the cheaper join at
    * 100 TB.
    */
  val decontaminate13: Q = Q("dedup_decontaminate_13g", (s, dir) => {
    val sh = graft.ops.Lsh
      .shingles(Tables.t(s, dir, "documents"), "doc_id", "text", n = 13)
      .withColumn("h", expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
    val trainSh = sh.filter(col("h") < 80).select(col("doc_id"), col("sh"))
    val testSh = sh.filter(col("h") >= 90).select(col("sh").as("t_sh")).distinct()
    trainSh.join(testSh, col("sh") === col("t_sh"))
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_shared_shingles"))
      .orderBy("doc_id")
  }, Some("""WITH ws AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents),
    sh13 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 11),
        i -> list_aggregate(w[i:i+12], 'string_agg', ' ')))) AS sh
      FROM ws WHERE len(w) >= 13),
    hs AS (SELECT doc_id, sh,
      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h FROM sh13),
    t AS (SELECT DISTINCT sh FROM hs WHERE h >= 90)
    SELECT hs.doc_id, count(DISTINCT hs.sh) AS n_shared_shingles
    FROM hs JOIN t ON hs.sh = t.sh WHERE hs.h < 80
    GROUP BY hs.doc_id ORDER BY doc_id"""))

  /** Deterministic hash-based sampling + train/val/test split — the
    * reproducible (no rand()) mixing primitive a training-data pipeline
    * needs: membership is a pure function of the key, stable across
    * engines, retries, and scales.
    */
  val hashSplit: Q = Q("sample_hash_split", (s, dir) => {
    Tables.t(s, dir, "documents")
      .withColumn("h", expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
      .withColumn("split", expr(
        "CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END"))
      .withColumn("sampled10", expr(
        "CAST(conv(substr(md5(concat('s', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100 < 10"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("sampled10"), 1)).as("n_sampled"))
      .orderBy("source", "split")
  }, Some("""SELECT source, split, count(*) AS n_docs,
      count(CASE WHEN sampled10 THEN 1 END) AS n_sampled
    FROM (SELECT source,
      CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
      CAST('0x' || substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 10 AS sampled10
      FROM (SELECT doc_id, source,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h
        FROM documents))
    GROUP BY source, split ORDER BY source, split"""))
  /** END-TO-END training-set assembly — the flagship composition: every
    * stage a real pipeline runs between raw corpus and trainer-ready
    * contexts, in one verified dataflow:
    *   1. exact dedup        (keep min doc_id per content hash);
    *   2. near-dup removal   (MinHash/LSH clusters; only each cluster's
    *                          canonical representative survives);
    *   3. quality filter     (integer-exact composite score ≥ 5700 bp);
    *   4. reproducible split (md5 hash < 80 → train);
    *   5. context packing    (distributed prefix-sum 512-token bins).
    * Output: the packed-bin manifest of the train split. The oracle
    * composes the SAME five stages over the recursive-CTE component
    * computation — one hash-exact check over the whole pipeline, so a
    * regression ANYWHERE in the chain (a hash, a threshold, a window)
    * surfaces here even if each stage's own query still passes.
    */
  val pipelineTrainingSet: Q = Q("pipeline_training_set", (s, dir) => {
    // stages compose the SHARED ops/Text primitives — a tweak to the
    // quality formula or hash bucketing changes this flagship check too
    val feat = graft.ops.Text.qualityBp(
        Tables.t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
      .withColumn("n_words", graft.ops.Text.wsTokens(col("text")))
      .withColumn("ch", md5(col("text")))
      .withColumn("hsplit", graft.ops.Text.hashBucket(col("doc_id")))
      .drop("text")
    val exk = feat.withColumn("keep_id",
      min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("ch")))
    val comp = dedupClusters.fn(s, dir)
      .select(col("doc_id").as("c_doc"), col("cluster_id").as("comp"))
    val kept = exk.join(comp, col("doc_id") === col("c_doc"), "left_outer")
      .filter(col("doc_id") === col("keep_id") &&
        (col("comp").isNull || col("comp") === col("doc_id")) &&
        col("quality_bp") >= 5700 && col("hsplit") < 80)
      .select(col("doc_id"), col("n_words").as("n_tokens"))
    graft.ops.Pack.assignBins(kept, "doc_id", "n_tokens", binTokens = 512L)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin")
  }, Some(s"""WITH RECURSIVE $minhashCtes,
    prs AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
      JOIN sig y ON y.doc_id = d2 WHERE $minhashEstExpr >= 0.5),
    edges AS (SELECT d1 AS src, d2 AS dst FROM prs
      UNION ALL SELECT d2, d1 FROM prs),
    reach AS (
      SELECT DISTINCT src AS v, src AS r FROM edges
      UNION
      SELECT e.dst AS v, r.r FROM reach r JOIN edges e ON e.src = r.v),
    comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
    feat AS (SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '[a-z]')) AS BIGINT) AS n_alpha,
        CAST(len(list_distinct(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS BIGINT) AS n_distinct,
        md5(text) AS ch,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS hsplit
      FROM documents),
    qual AS (SELECT *, (40 * least(n_words, 100) * n_chars * n_words
        + 3000 * n_alpha * n_words + 3000 * n_distinct * n_chars)
        // nullif(n_chars * n_words, 0) AS quality_bp FROM feat),
    exk AS (SELECT *, min(doc_id) OVER (PARTITION BY ch) AS keep_id FROM qual),
    kept AS (SELECT e.doc_id, e.n_words AS n_tokens
      FROM exk e LEFT JOIN comp c ON c.doc_id = e.doc_id
      WHERE e.doc_id = e.keep_id AND (c.cluster_id IS NULL OR c.cluster_id = e.doc_id)
        AND e.quality_bp >= 5700 AND e.hsplit < 80),
    bins AS (SELECT doc_id, n_tokens,
        CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT) AS bin
      FROM kept)
    SELECT bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM bins GROUP BY bin ORDER BY bin"""))

  /** Cross-source near-duplicate report (mirror/syndication detection):
    * the MinHash-LSH candidate pairs restricted to documents from
    * DIFFERENT sources, rolled up per source pair — the curation signal
    * that two feeds are republishing each other, which per-source dedup
    * never sees. Same banded-bucket shape as dedup_minhash_lsh (never
    * all-pairs) plus two broadcast-size joins of the source dimension.
    */
  val dedupCrossSource: Q = Q("dedup_cross_source", (s, dir) => {
    val sigArr = graft.ops.Lsh.signaturesHashed(hashedShingles(s, dir), "doc_id").persist()
    val sig = sigArr.select(col("doc_id") +:
      (0 until 16).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
    val cand = graft.ops.Lsh.candidatePairs(sigArr, "doc_id")
    val sigX = sig.select(col("doc_id").as("d1") +: (0 until 16).map(i => col(s"m$i").as(s"x$i")): _*)
    val sigY = sig.select(col("doc_id").as("d2") +: (0 until 16).map(i => col(s"m$i").as(s"y$i")): _*)
    val estExpr = graft.ops.Lsh.estJaccardExpr()
    val srcs = Tables.t(s, dir, "documents").select(col("doc_id"), col("source"))
    val pairs = cand.join(sigX, "d1").join(sigY, "d2")
      .filter(expr(estExpr) >= 0.5)
      .join(srcs.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
      .join(srcs.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
      .filter(col("src1") =!= col("src2"))
      .select(least(col("src1"), col("src2")).as("src_a"),
        greatest(col("src1"), col("src2")).as("src_b"))
    pairs.groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }, Some(s"""WITH $minhashCtes,
    xp AS (SELECT d1, d2 FROM cand
      JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2
      WHERE $minhashEstExpr >= 0.5),
    sp AS (SELECT least(sa.source, sb.source) AS src_a,
        greatest(sa.source, sb.source) AS src_b
      FROM xp JOIN documents sa ON sa.doc_id = xp.d1
        JOIN documents sb ON sb.doc_id = xp.d2
      WHERE sa.source <> sb.source)
    SELECT src_a, src_b, count(*)::BIGINT AS n_pairs FROM sp
    GROUP BY src_a, src_b ORDER BY src_a, src_b"""))

  /** MAXIMAL shared-span detection — the relational form of
    * exact-substring training-data dedup (Lee et al., ACL'22: suffix
    * arrays find verbatim repeated spans that document-level near-dup
    * scoring under-weighs; a 60-token boilerplate block inside two
    * otherwise-different documents is invisible to whole-doc Jaccard
    * but is exactly what substring dedup removes). Relationally: a
    * positional 5-gram inverted index ([[graft.ops.Text.gramPositionIndex]]),
    * matches between two documents lie on DIAGONALS (pa − pb constant)
    * of their k-gram dotplot, and a maximal shared span is a maximal
    * run of consecutive positions on one diagonal — found with the
    * gaps-and-islands trick (pa − row_number() constant per run), no
    * per-pair alignment loop. Grams occurring in &gt; 50 positions are
    * cut first (boilerplate/hot-gram cap — the standard bound that
    * keeps the inverted-index self-join from exploding at corpus
    * scale). Output: every ≥ 8-token maximal shared span with both
    * start offsets. Shape: one gram-frequency window, one equi-join on
    * the gram hash, one partitioned islands window — all keyed
    * shuffles, never all-pairs.
    */
  val dedupMaxSpan: Q = Q("dedup_max_span", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), graft.ops.Text.words(col("text")).as("w"))
    // persisted: BOTH sides of the dotplot self-join read it — without
    // the cache the gram hashing (one md5 per k-gram) runs twice
    val idx = graft.ops.Text.gramPositionIndex(docs, "doc_id", "w", k)
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("n_occ") <= 50)
      .persist()
    val a = idx.select(col("doc_id").as("da"), col("p").as("pa"), col("gh"))
    val b = idx.select(col("doc_id").as("db"), col("p").as("pb"), col("gh"))
    val m = a.join(b, "gh").filter(col("da") < col("db"))
      .withColumn("diag", col("pa") - col("pb"))
    val runs = Window.partitionBy("da", "db", "diag").orderBy("pa")
    m.withColumn("isl", col("pa") - row_number().over(runs))
      .groupBy("da", "db", "diag", "isl")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= (k - 1) + 4)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("start_a"), col("start_b"), col("span_tokens"))
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
  }, Some("""WITH d AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents),
    jd AS (SELECT doc_id, w,
        unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS j
      FROM d),
    g AS (SELECT doc_id, CAST(j - 1 AS BIGINT) AS p,
        CAST('0x' || substr(md5(list_aggregate(w[j:j+4], 'string_agg', ' ')), 1, 15) AS BIGINT) AS gh
      FROM jd),
    f AS (SELECT * FROM g QUALIFY count(*) OVER (PARTITION BY gh) <= 50),
    m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb,
        a.p - b.p AS diag
      FROM f a JOIN f b ON a.gh = b.gh AND a.doc_id < b.doc_id),
    i AS (SELECT *,
        pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS isl
      FROM m)
    SELECT da AS doc_a, db AS doc_b, min(pa) AS start_a, min(pb) AS start_b,
      CAST(count(*) + 4 AS BIGINT) AS span_tokens
    FROM i GROUP BY da, db, diag, isl
    HAVING count(*) + 4 >= 8
    ORDER BY doc_a, doc_b, start_a, start_b"""))

  /** Span-dedup APPLY — the removal step the detector feeds (Lee et al.
    * keep ONE copy of each duplicated span and cut the rest): for every
    * maximal shared span found by [[dedupMaxSpan]], the LATER document
    * (doc_b — higher id loses, deterministic) drops the covered tokens;
    * overlapping spans union naturally through the anti-join. Output is
    * the per-document removal manifest with an md5 fingerprint of the
    * cleaned text — volume-proof, and a regression in the detector, the
    * tokenizer, or the cut logic all surface in one hash. Composes the
    * REGISTERED detector and its oracle subquery (same pattern as
    * ts_anomaly_agreement), so apply can never drift from detect.
    * Shape: positions explode only for AFFECTED docs (semi-join first),
    * the coverage test is an anti-join equi-keyed on doc id with a
    * bounded range predicate per span.
    */
  /** Shared apply machinery for the span-dedup removal variants: given
    * a LOSER-oriented cut manifest (`loser`, `start_l`, `span_tokens`),
    * drop the covered tokens from each loser document and emit the
    * per-document removal report. The manifest is materialized ONCE (it
    * feeds both the affected-doc semi-join and the coverage anti-join;
    * without the persist the whole detector subtree — gram index,
    * dotplot self-join, islands window — would be planned and EXECUTED
    * twice). The token explode is also read twice (before + after
    * aggregations) and is bounded by the AFFECTED documents only, so
    * its cache is manifest-sized times average doc length, never
    * corpus-sized.
    */
  private def applySpanCuts(
      s: SparkSession, dir: String, manifest: DataFrame): DataFrame = {
    val spans = manifest
      .select(col("loser"), col("start_l"), col("span_tokens"))
      .persist()
    val affected = spans.select(col("loser").as("doc_id")).distinct()
    val tw = Tables.t(s, dir, "documents")
      .select(col("doc_id"), graft.ops.Text.words(col("text")).as("w"))
      .join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "word")))
      .withColumn("p", col("p").cast("bigint"))
      .persist()
    val coverCond = tw("doc_id") === spans("loser") &&
      tw("p") >= spans("start_l") &&
      tw("p") < spans("start_l") + spans("span_tokens")
    val kept = tw.join(spans, coverCond, "left_anti")
    val before = tw.groupBy("doc_id").agg(count(lit(1)).as("tokens_before"))
    val after = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("tokens_after"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(struct(p, word))), x -> x.word)"),
          " ")).as("cleaned_md5"))
    before.join(after, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("tokens_before"),
        (col("tokens_before") - coalesce(col("tokens_after"), lit(0L)))
          .as("tokens_removed"),
        coalesce(col("tokens_after"), lit(0L)).as("tokens_after"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  val dedupSpanApply: Q = Q("dedup_span_apply", (s, dir) => {
    applySpanCuts(s, dir, dedupMaxSpan.fn(s, dir)
      .select(col("doc_b").as("loser"), col("start_b").as("start_l"),
        col("span_tokens")))
  }, Some(s"""WITH spans AS (${dedupMaxSpan.oracle.get}),
    w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents WHERE doc_id IN (SELECT doc_b FROM spans)),
    tw AS (SELECT doc_id, CAST(j - 1 AS BIGINT) AS p, w[j] AS word
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS j FROM w)),
    kept AS (SELECT tw.* FROM tw WHERE NOT EXISTS (
        SELECT 1 FROM spans sp WHERE sp.doc_b = tw.doc_id
          AND tw.p >= sp.start_b AND tw.p < sp.start_b + sp.span_tokens)),
    b AS (SELECT doc_id, count(*)::BIGINT AS tokens_before FROM tw GROUP BY doc_id),
    a AS (SELECT doc_id, count(*)::BIGINT AS tokens_after,
        md5(list_aggregate(list(word ORDER BY p), 'string_agg', ' ')) AS cleaned_md5
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id, b.tokens_before,
      b.tokens_before - coalesce(a.tokens_after, 0) AS tokens_removed,
      coalesce(a.tokens_after, 0) AS tokens_after,
      coalesce(a.cleaned_md5, md5('')) AS cleaned_md5
    FROM b LEFT JOIN a USING (doc_id)
    ORDER BY doc_id"""))

  /** Span-dedup apply, KEEP-BEST policy — instead of the keep-first
    * rule (doc_b, the higher id, always loses), each shared span is cut
    * from the LOWER-QUALITY copy (the shared ops/Text.qualityBp integer
    * score; ties fall back to keep-first, so the orientation is total).
    * This is the policy a curation pipeline actually wants: when
    * boilerplate is shared between a high-quality page and a junk page,
    * the junk page pays. Same materialized-manifest machinery as
    * [[dedupSpanApply]] — only the loser orientation differs, composed
    * from the REGISTERED detector and the registered quality formula so
    * neither can drift from its own oracle.
    */
  val dedupSpanApplyBest: Q = Q("dedup_span_apply_best", (s, dir) => {
    val qual = graft.ops.Text.qualityBp(
        Tables.t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("quality_bp"))
    val oriented = dedupMaxSpan.fn(s, dir)
      .join(qual.select(col("doc_id").as("doc_a"), col("quality_bp").as("qa")), "doc_a")
      .join(qual.select(col("doc_id").as("doc_b"), col("quality_bp").as("qb")), "doc_b")
      .select(
        when(col("qa") < col("qb"), col("doc_a")).otherwise(col("doc_b")).as("loser"),
        when(col("qa") < col("qb"), col("start_a")).otherwise(col("start_b")).as("start_l"),
        col("span_tokens"))
    applySpanCuts(s, dir, oriented)
  }, Some(s"""WITH spans0 AS (${dedupMaxSpan.oracle.get}),
    qd AS (SELECT doc_id,
        (40 * least(n_words, 100) * n_chars * n_words
          + 3000 * n_alpha * n_words + 3000 * n_distinct * n_chars)
          // nullif(n_chars * n_words, 0) AS quality_bp
      FROM (SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '[a-z]')) AS BIGINT) AS n_alpha,
        CAST(len(list_distinct(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS BIGINT) AS n_distinct
        FROM documents)),
    spans AS (SELECT
        CASE WHEN qa.quality_bp < qb.quality_bp THEN sp.doc_a ELSE sp.doc_b END AS loser,
        CASE WHEN qa.quality_bp < qb.quality_bp THEN sp.start_a ELSE sp.start_b END AS start_l,
        sp.span_tokens
      FROM spans0 sp JOIN qd qa ON qa.doc_id = sp.doc_a
        JOIN qd qb ON qb.doc_id = sp.doc_b),
    w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents WHERE doc_id IN (SELECT loser FROM spans)),
    tw AS (SELECT doc_id, CAST(j - 1 AS BIGINT) AS p, w[j] AS word
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS j FROM w)),
    kept AS (SELECT tw.* FROM tw WHERE NOT EXISTS (
        SELECT 1 FROM spans sp WHERE sp.loser = tw.doc_id
          AND tw.p >= sp.start_l AND tw.p < sp.start_l + sp.span_tokens)),
    b AS (SELECT doc_id, count(*)::BIGINT AS tokens_before FROM tw GROUP BY doc_id),
    a AS (SELECT doc_id, count(*)::BIGINT AS tokens_after,
        md5(list_aggregate(list(word ORDER BY p), 'string_agg', ' ')) AS cleaned_md5
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id, b.tokens_before,
      b.tokens_before - coalesce(a.tokens_after, 0) AS tokens_removed,
      coalesce(a.tokens_after, 0) AS tokens_after,
      coalesce(a.cleaned_md5, md5('')) AS cleaned_md5
    FROM b LEFT JOIN a USING (doc_id)
    ORDER BY doc_id"""))

  /** Group-aware k-fold assignment (sklearn's GroupKFold discipline,
    * hash-deterministic): the fold is a pure function of the GROUP key
    * (source), never the row, so all documents of one source land in
    * one fold and a model evaluated across folds can never see its
    * eval sources in training — the leakage [[hashSplit]]'s row-level
    * split cannot rule out. Emits per (fold, source) counts plus a
    * `sources_intact` guard (count of folds the source appears in,
    * provably 1 by construction — the oracle recomputes it, so a
    * regression to row-level hashing flips the column and fails the
    * hash check). One groupBy; the md5 fold hash is the house
    * cross-engine primitive.
    */
  val groupKfold: Q = Q("sample_group_kfold", (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .withColumn("fold", expr(
        "CAST(conv(substr(md5(concat('gkf', source)), 1, 15), 16, 10) AS BIGINT) % 5"))
    val perFold = d.groupBy("fold", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val intact = perFold.groupBy("source")
      .agg(countDistinct("fold").as("sources_intact"))
    perFold.join(intact, "source")
      .select("fold", "source", "n_docs", "n_chars", "sources_intact")
      .orderBy("fold", "source")
  }, Some("""WITH d AS (SELECT source, n_chars,
      CAST('0x' || substr(md5('gkf' || source), 1, 15) AS BIGINT) % 5 AS fold
      FROM documents),
    pf AS (SELECT fold, source, count(*)::BIGINT AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM d GROUP BY fold, source),
    it AS (SELECT source, count(DISTINCT fold)::BIGINT AS sources_intact
      FROM pf GROUP BY source)
    SELECT fold, source, n_docs, n_chars, sources_intact
    FROM pf JOIN it USING (source)
    ORDER BY fold, source"""))

  /** Detector-quality eval: MinHash/LSH near-dup pairs graded against
    * the exact n-gram Jaccard pairs as ground truth — the
    * precision/recall check a pipeline runs before trusting the cheap
    * detector at scale (both detectors are REGISTERED queries, so this
    * eval composes their exact subtrees and regresses if either
    * drifts). TP/FP/FN via semi/anti joins on the pair key; precision
    * and recall in exact integer basis points; one row.
    */
  val lshEval: Q = Q("dedup_lsh_eval", (s, dir) => {
    // ONE shingle explode feeds BOTH detectors (round-6 perf: composing
    // the registered .fn's re-derived the index twice — the eval shares
    // the raw shingle relation and runs the IDENTICAL pair builders the
    // registered detectors bind, so nothing can drift)
    val shRaw = hashedShingles(s, dir).persist()
    val est = estPairsFrom(shRaw).select("d1", "d2").persist()
    val ex = exactPairsFrom(
      graft.ops.Scale.capGroups(shRaw, "sh", DfCap).persist()).select("d1", "d2").persist()
    val tp = est.join(ex, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("tp"))
    val fp = est.join(ex, Seq("d1", "d2"), "left_anti")
      .agg(count(lit(1)).as("fp"))
    val fn = ex.join(est, Seq("d1", "d2"), "left_anti")
      .agg(count(lit(1)).as("fn"))
    tp.crossJoin(fp).crossJoin(fn)
      .select(col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp > 0 THEN 10000 * tp DIV (tp + fp) END").as("precision_bp"),
        expr("CASE WHEN tp + fn > 0 THEN 10000 * tp DIV (tp + fn) END").as("recall_bp"))
  }, Some(s"""WITH $minhashCtes,
    estp AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
      JOIN sig y ON y.doc_id = d2 WHERE $minhashEstExpr >= 0.5),
    shh AS (SELECT doc_id,
        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh
      FROM sh),
    shc AS (SELECT doc_id, sh FROM shh
      QUALIFY count(*) OVER (PARTITION BY sh) <= $DfCap),
    cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
    shp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exp_ AS (SELECT d1, d2 FROM shp
      JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2
      WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5),
    m AS (SELECT
      (SELECT count(*) FROM estp JOIN exp_ USING (d1, d2))::BIGINT AS tp,
      (SELECT count(*) FROM estp ANTI JOIN exp_ USING (d1, d2))::BIGINT AS fp,
      (SELECT count(*) FROM exp_ ANTI JOIN estp USING (d1, d2))::BIGINT AS fn)
    SELECT tp, fp, fn,
      CAST(CASE WHEN tp + fp > 0 THEN 10000 * tp // (tp + fp) END AS BIGINT) AS precision_bp,
      CAST(CASE WHEN tp + fn > 0 THEN 10000 * tp // (tp + fn) END AS BIGINT) AS recall_bp
    FROM m"""))

  /** b-BIT MINWISE HASHING calibration (Li & König, "b-Bit Minwise
    * Hashing", WWW 2010 — public): storing only the lowest b bits of
    * each minhash slot cuts signature storage 64/b× at the price of
    * accidental collisions (probability ≈ 2⁻ᵇ for unrelated sets), and
    * the paper's unbiased correction recovers Jaccard from the b-bit
    * agreement rate: Ĵ = (A·2ᵇ − 1)/(2ᵇ − 1). This query measures that
    * trade EMPIRICALLY on the corpus — for b ∈ {1, 2, 4, 8}, the exact
    * integer mean |Ĵ − J| over the exact-Jaccard (≥ 0.5, integer test:
    * 2·shared ≥ union) ground-truth pairs, everything in basis points
    * (est clamped at 0; DIV truncation both engines). The table an
    * operator reads before shrinking a petabyte-scale signature store.
    * Shares the ONE hashed shingle explode with the signature
    * aggregation (the lsh_eval composition rule); pair volume is the
    * df-capped exact miner's, never all-pairs.
    */
  /** Shared (jbp, x0..x15, y0..y15) relation of the b-bit calibration:
    * exact-Jaccard (≥ 0.5) ground-truth pairs joined to both documents'
    * 16-slot minhash signatures. The query, its streaming twin
    * ([[graft.streaming.BbitProcessor]]) and their specs all compose
    * from THIS builder (the lsh_eval composition rule) so batch/stream
    * parity is structural, not re-derived.
    */
  def bbitPairSignatures(s: SparkSession, dir: String): DataFrame = {
    val shRaw = hashedShingles(s, dir).persist()
    val shc = graft.ops.Scale.capGroups(shRaw, "sh", DfCap).persist()
    val counts = shc.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = shc.select(col("doc_id").as("d1"), col("sh"))
    val b = shc.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    val pairs = a.join(b, col("sh") === col("sh2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(expr("2 * shared >= n1 + n2 - shared"))
      .withColumn("jbp", expr("(shared * 10000) DIV (n1 + n2 - shared)"))
      .select("d1", "d2", "jbp")
    val sig = graft.ops.Lsh.signaturesHashed(shRaw, "doc_id")
      .select(col("doc_id") +:
        (0 until 16).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
    pairs
      .join(sig.select(col("doc_id").as("d1") +:
        (0 until 16).map(i => col(s"m$i").as(s"x$i")): _*), "d1")
      .join(sig.select(col("doc_id").as("d2") +:
        (0 until 16).map(i => col(s"m$i").as(s"y$i")): _*), "d2")
  }

  val minhashBbit: Q = Q("dedup_minhash_bbit", (s, dir) => {
    val j = bbitPairSignatures(s, dir).persist()
    Seq(1, 2, 4, 8).map { bb =>
      val mask = (1L << bb) - 1
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN (x$i & $mask) = (y$i & $mask) THEN 1L ELSE 0L END)")
        .mkString("(", " + ", ")")
      val est = s"greatest(0L, (($agree * ${1L << bb} - 16) * 10000) DIV (16 * $mask))"
      j.agg(count(lit(1)).as("n_pairs"),
          expr(s"sum(abs(($est) - jbp))").as("sum_err"),
          expr(s"sum($est)").as("sum_est"),
          sum("jbp").as("sum_exact"))
        .select(lit(bb.toLong).as("b"), col("n_pairs"),
          expr("sum_err DIV nullif(n_pairs, 0)").as("mae_bp"),
          expr("sum_est DIV nullif(n_pairs, 0)").as("mean_est_bp"),
          expr("sum_exact DIV nullif(n_pairs, 0)").as("mean_exact_bp"))
    }.reduce(_ unionByName _).orderBy("b")
  }, Some {
    val jj = (0 until 16).map(i => s"x.m$i AS x$i, y.m$i AS y$i").mkString(", ")
    val perB = Seq(1, 2, 4, 8).map { bb =>
      val mask = (1L << bb) - 1
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN (x$i & $mask) = (y$i & $mask) THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
      val est = s"greatest(0, (($agree * ${1L << bb} - 16) * 10000) // (16 * $mask))"
      s"""SELECT CAST($bb AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(abs(($est) - jbp)) AS BIGINT)
            // nullif(CAST(count(*) AS BIGINT), 0) AS mae_bp,
          CAST(sum($est) AS BIGINT)
            // nullif(CAST(count(*) AS BIGINT), 0) AS mean_est_bp,
          CAST(sum(jbp) AS BIGINT)
            // nullif(CAST(count(*) AS BIGINT), 0) AS mean_exact_bp
        FROM jj"""
    }.mkString(" UNION ALL ")
    s"""WITH $minhashCtes,
    shh AS (SELECT doc_id,
        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh
      FROM sh),
    shc AS (SELECT doc_id, sh FROM shh
      QUALIFY count(*) OVER (PARTITION BY sh) <= $DfCap),
    cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
    shp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exp_ AS (SELECT d1, d2, (shared * 10000) // (x.n + y.n - shared) AS jbp
      FROM shp JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2
      WHERE 2 * shared >= x.n + y.n - shared),
    jj AS MATERIALIZED (SELECT e.jbp, $jj
      FROM exp_ e JOIN sig x ON x.doc_id = e.d1 JOIN sig y ON y.doc_id = e.d2)
    SELECT * FROM ($perB) ORDER BY b"""
  })

  /** LSH band-shape sensitivity sweep — the S-curve tuning table
    * (Leskovec/Rajaraman/Ullman, MMDS ch.3, public: b bands × r rows
    * collide at probability 1−(1−s^r)^b, so (16,1) is recall-greedy,
    * (4,4) precision-greedy) measured EMPIRICALLY on this corpus: the
    * same 16-slot signatures re-banded three ways, each config's
    * candidate volume and recall against the exact-Jaccard truth set.
    * This is the table an operator reads before picking the production
    * banding — the repo ships (8,2); the sweep shows what moving
    * either way costs. Shares ONE shingle explode and ONE signature
    * aggregation across all three configs (the dedup_lsh_eval
    * composition rule); candidates stay bucket-keyed per config.
    *
    * Two scale guards, both caught by the ×128 DevScale rung
    * (c[x32→x128] = 1.7-3.1 before them, invisible at certified SFs):
    * (1) the r = 1 config bands the 61-BIT single-slot family
    * ([[graft.ops.Lsh.wideSlotSql]]) instead of the mod-P signature
    * slots — a mod-P min concentrates in [0, ~P/n], so unrelated docs
    * collide at rate ~n̄/P and the corpus accumulates N²·n̄/2P
    * accidental pairs, QUADRATIC in corpus size and un-cappable (they
    * sit in myriad 2-doc buckets); (2) band buckets are additionally
    * df-capped at [[DfCap]] (QUALIFY twin) — an over-full bucket is a
    * degenerate band key, not duplication evidence. rows ≥ 2 configs
    * square the accidental rate away and keep the shared signature.
    */
  val lshBands: Q = Q("dedup_lsh_bands", (s, dir) => {
    import s.implicits._
    val shRaw = hashedShingles(s, dir).persist()
    val sigArr = graft.ops.Lsh.signaturesHashed(shRaw, "doc_id").persist()
    val ex = exactPairsFrom(
      graft.ops.Scale.capGroups(shRaw, "sh", DfCap).persist())
      .select("d1", "d2").persist()
    // ONE config-tagged band relation, ONE collision self-join, ONE
    // dedup, ONE counting pass for all three (bands, rows) settings —
    // the per-config version paid 3 joins + 3 distincts + 3 semi-join
    // count trios for identical sig input (the dedup_lsh_eval
    // shared-explode rule applied across CONFIGS)
    val configs = Seq((16, 1), (8, 2), (4, 4))
    // r >= 2 configs band the shared mod-P signature; the r = 1 config
    // bands the 61-bit single-slot family instead (see wideSlotSql —
    // mod-P single slots accumulate quadratic accidental pairs)
    val bandsMulti = configs.filter(_._2 >= 2).map { case (bands, rows) =>
      graft.ops.Lsh.bandRows(sigArr, "doc_id", bands, rows)
        .select(lit(rows).as("cfg_rows"), lit(bands).as("cfg_bands"),
          col("band"), col("bsig"), col("doc_id"))
    }
    val wideMins = (0 until 16).map(i =>
      min(expr(graft.ops.Lsh.wideSlotSql(i, "sh", "DIV"))).as(s"w$i"))
    val bands16 = shRaw.groupBy("doc_id")
      .agg(wideMins.head, wideMins.tail: _*)
      .select(col("doc_id"), explode(array((0 until 16).map(b =>
        struct(lit(b).as("band"), col(s"w$b").cast("string").as("bsig"))): _*)).as("bs"))
      .select(lit(1).as("cfg_rows"), lit(16).as("cfg_bands"),
        col("bs.band").as("band"), col("bs.bsig").as("bsig"), col("doc_id"))
    val bandsAll = (bandsMulti :+ bands16).reduce(_ unionByName _)
    val bandsCapped = graft.ops.Scale.capGroups(
      bandsAll.withColumn("bkey",
        concat_ws("|", col("cfg_rows"), col("band"), col("bsig"))),
      "bkey", DfCap).drop("bkey")
    val cand = bandsCapped
      .select(col("cfg_rows"), col("cfg_bands"), col("band"), col("bsig"),
        col("doc_id").as("d1"))
      .join(bandsCapped.select(col("cfg_rows").as("cr2"), col("band").as("band2"),
          col("bsig").as("bsig2"), col("doc_id").as("d2")),
        col("cfg_rows") === col("cr2") && col("band") === col("band2") &&
          col("bsig") === col("bsig2") && col("d1") < col("d2"))
      .select("cfg_rows", "cfg_bands", "d1", "d2").distinct()
    val counted = cand
      .join(ex.withColumn("hit", lit(1L)), Seq("d1", "d2"), "left_outer")
      .groupBy("cfg_rows", "cfg_bands")
      .agg(count(lit(1)).as("nc"), sum(coalesce(col("hit"), lit(0L))).as("nh"))
    // literal config spine: a config with ZERO candidates must still
    // emit its row (the old per-config agg always did)
    configs.toDF("cfg_bands", "cfg_rows")
      .join(counted, Seq("cfg_rows", "cfg_bands"), "left_outer")
      .crossJoin(broadcast(ex.agg(count(lit(1)).as("n_truth"))))
      .select(col("cfg_bands").as("bands"), col("cfg_rows").as("rows_per_band"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"), col("n_truth"),
        coalesce(col("nh"), lit(0L)).as("n_hit"),
        expr("CASE WHEN n_truth > 0 THEN 10000 * coalesce(nh, 0L) DIV n_truth END")
          .as("recall_bp"))
      .orderBy("rows_per_band")
  }, Some {
    val configs = Seq((16, 1), (8, 2), (4, 4))
    val bandCtes = configs.map { case (bands, rows) =>
      val selects =
        if (rows == 1)
          (0 until bands).map { b =>
            s"SELECT doc_id, $b AS band, CAST(w$b AS VARCHAR) AS bsig FROM sigw"
          }.mkString(" UNION ALL ")
        else (0 until bands).map { b =>
          val slots = (0 until rows)
            .map(r => s"CAST(m${b * rows + r} AS VARCHAR)").mkString(" || '_' || ")
          s"SELECT doc_id, $b AS band, $slots AS bsig FROM sig"
        }.mkString(" UNION ALL ")
      s""",
    bands_$bands AS ($selects),
    bandsc_$bands AS (SELECT doc_id, band, bsig FROM bands_$bands
      QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $DfCap),
    cand_$bands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bandsc_$bands a JOIN bandsc_$bands b
      ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)"""
    }.mkString
    val wideMins = (0 until 16).map(i =>
      s"min(${graft.ops.Lsh.wideSlotSql(i, "sh", "//")}) AS w$i").mkString(", ")
    val rowsSql = configs.map { case (bands, rows) =>
      s"""SELECT $bands AS bands, $rows AS rows_per_band,
      (SELECT count(*) FROM cand_$bands)::BIGINT AS n_candidates,
      (SELECT count(*) FROM exp_)::BIGINT AS n_truth,
      (SELECT count(*) FROM cand_$bands JOIN exp_ USING (d1, d2))::BIGINT AS n_hit"""
    }.mkString(" UNION ALL ")
    s"""WITH $minhashCtes,
    shh AS (SELECT doc_id,
        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh
      FROM sh),
    sigw AS (SELECT doc_id, $wideMins FROM shh GROUP BY doc_id)$bandCtes,
    shc AS (SELECT doc_id, sh FROM shh
      QUALIFY count(*) OVER (PARTITION BY sh) <= $DfCap),
    cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
    shp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exp_ AS (SELECT d1, d2 FROM shp
      JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2
      WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5),
    u AS ($rowsSql)
    SELECT bands, rows_per_band, n_candidates, n_truth, n_hit,
      CAST(CASE WHEN n_truth > 0 THEN 10000 * n_hit // n_truth END AS BIGINT) AS recall_bp
    FROM u ORDER BY rows_per_band"""
  })

  /** ROUGE-1/ROUGE-2 between mined near-pairs (Lin, "ROUGE: A Package
    * for Automatic Evaluation of Summaries", ACL WAS'04 — public): for
    * every doc pair with exact 3-gram Jaccard ≥ 0.3 (the inverted-index
    * miner, a lower-threshold [[ngramJaccard]]), the MULTISET n-gram
    * overlap Σ_g min(c_cand(g), c_ref(g)) as recall / precision / F1 in
    * integer basis points (F1 = 2·P·R DIV (P+R) — exact, no floats).
    * Multiset-min is what separates ROUGE from the Jaccard the miner
    * used: repeated grams count, word order beyond n doesn't. The
    * reference is the lower doc_id. Shape: pair mining is the bounded
    * candidate join; gram overlap joins key on (doc, gram) with the
    * BOUNDED pair list as the probe side — never corpus×corpus.
    */
  val rougePairs: Q = Q("text_rouge_pairs", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // pair miner runs on the df-capped index (see DfCap) — same bound
    // as dedup_ngram_jaccard; the overlap joins below probe only the
    // bounded pair list so they need no cap
    val sh = cappedShingles(s, dir).persist()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("d1"), col("sh"))
    val b = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    val pairs = a.join(b, col("sh") === col("sh2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(col("shared") / (col("n1") + col("n2") - col("shared")) >= 0.3)
      .select("d1", "d2")
      // NOTE (r13): persisting this 3-reference miner spine (and the
      // 2-reference ug/bg gram counts) was A/B'd WORSE (2.85 -> 3.3-3.5
      // s): the re-executions are parallel stages on an idle box and
      // the cache barrier serializes them. Left duplicated on purpose.
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), graft.ops.Text.words(col("text")).as("ws"))
    val pos = d.select(col("doc_id"), posexplode(col("ws"))).toDF("doc_id", "pos", "w")
    // ug/bg feed two references each, but persisting them was A/B'd
    // WORSE (their re-executions are parallel stages on an idle box and
    // the cache write serializes — the r7 prefix-filter lesson)
    val ug = pos.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val ww = Window.partitionBy("doc_id").orderBy("pos")
    val bg = pos.withColumn("w2", lead("w", 1).over(ww))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w2")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    def overlap(grams: DataFrame, gramCol: String, out: String): DataFrame = {
      val ga = grams.select(col("doc_id").as("d1"), col(gramCol), col("c").as("ca"))
      val gb = grams.select(col("doc_id").as("_d2"), col(gramCol).as("_g2"), col("c").as("cb"))
      pairs.join(ga, "d1")
        .join(gb, col("d2") === col("_d2") && col(gramCol) === col("_g2"))
        .groupBy("d1", "d2").agg(sum(least(col("ca"), col("cb"))).as(out))
    }
    val tot1 = pos.groupBy("doc_id").agg(count(lit(1)).as("t1"))
    val tot2 = bg.groupBy("doc_id").agg(sum("c").as("t2"))
    val ov1 = overlap(ug, "w", "ov1")
    val ov2 = overlap(bg, "g", "ov2")
    val fExpr = (p: String, r: String) =>
      expr(s"CASE WHEN $p + $r > 0 THEN (2 * $p * $r) DIV ($p + $r) ELSE 0 END")
    pairs
      .join(ov1, Seq("d1", "d2"), "left").na.fill(0L, Seq("ov1"))
      .join(ov2, Seq("d1", "d2"), "left").na.fill(0L, Seq("ov2"))
      .join(tot1.select(col("doc_id").as("d1"), col("t1").as("r1t")), "d1")
      .join(tot1.select(col("doc_id").as("d2"), col("t1").as("c1t")), "d2")
      .join(tot2.select(col("doc_id").as("d1"), col("t2").as("r2t")), "d1")
      .join(tot2.select(col("doc_id").as("d2"), col("t2").as("c2t")), "d2")
      .withColumn("rouge1_r", expr("10000 * ov1 DIV r1t"))
      .withColumn("rouge1_p", expr("10000 * ov1 DIV c1t"))
      .withColumn("rouge1_f", fExpr("rouge1_p", "rouge1_r"))
      .withColumn("rouge2_r", expr("10000 * ov2 DIV r2t"))
      .withColumn("rouge2_p", expr("10000 * ov2 DIV c2t"))
      .withColumn("rouge2_f", fExpr("rouge2_p", "rouge2_r"))
      .select("d1", "d2", "rouge1_r", "rouge1_p", "rouge1_f",
        "rouge2_r", "rouge2_p", "rouge2_f")
      .orderBy("d1", "d2")
  }, Some(s"""WITH $duckCappedShingles,
    cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
    prs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (SELECT d1, d2 FROM prs
      JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2
      WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.3),
    pos AS (SELECT doc_id, unnest(w) AS w FROM ws),
    ug AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM pos GROUP BY doc_id, w),
    bgr AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
        i -> w[i] || ' ' || w[i + 1])) AS g
      FROM ws),
    bg AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM bgr GROUP BY doc_id, g),
    t1 AS (SELECT doc_id, count(*)::BIGINT AS t1 FROM pos GROUP BY doc_id),
    t2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t2 FROM bg GROUP BY doc_id),
    o1 AS (SELECT p.d1, p.d2, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov1
      FROM pairs p JOIN ug a ON a.doc_id = p.d1 JOIN ug b ON b.doc_id = p.d2 AND b.w = a.w
      GROUP BY p.d1, p.d2),
    o2 AS (SELECT p.d1, p.d2, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov2
      FROM pairs p JOIN bg a ON a.doc_id = p.d1 JOIN bg b ON b.doc_id = p.d2 AND b.g = a.g
      GROUP BY p.d1, p.d2),
    m AS (SELECT p.d1, p.d2,
        coalesce(o1.ov1, 0) AS ov1, coalesce(o2.ov2, 0) AS ov2,
        ra.t1 AS r1t, ca.t1 AS c1t, rb.t2 AS r2t, cb.t2 AS c2t
      FROM pairs p
      LEFT JOIN o1 ON o1.d1 = p.d1 AND o1.d2 = p.d2
      LEFT JOIN o2 ON o2.d1 = p.d1 AND o2.d2 = p.d2
      JOIN t1 ra ON ra.doc_id = p.d1 JOIN t1 ca ON ca.doc_id = p.d2
      JOIN t2 rb ON rb.doc_id = p.d1 JOIN t2 cb ON cb.doc_id = p.d2),
    sc AS (SELECT d1, d2,
        10000 * ov1 // r1t AS rouge1_r, 10000 * ov1 // c1t AS rouge1_p,
        10000 * ov2 // r2t AS rouge2_r, 10000 * ov2 // c2t AS rouge2_p
      FROM m)
    SELECT d1, d2,
      CAST(rouge1_r AS BIGINT) AS rouge1_r, CAST(rouge1_p AS BIGINT) AS rouge1_p,
      CAST(CASE WHEN rouge1_p + rouge1_r > 0
        THEN (2 * rouge1_p * rouge1_r) // (rouge1_p + rouge1_r) ELSE 0 END AS BIGINT) AS rouge1_f,
      CAST(rouge2_r AS BIGINT) AS rouge2_r, CAST(rouge2_p AS BIGINT) AS rouge2_p,
      CAST(CASE WHEN rouge2_p + rouge2_r > 0
        THEN (2 * rouge2_p * rouge2_r) // (rouge2_p + rouge2_r) ELSE 0 END AS BIGINT) AS rouge2_f
    FROM sc ORDER BY d1, d2"""))

  /** C4-style keep-first chunk-dedup REWRITE (Raffel et al. 2020 §2.2's
    * repeated-span removal, public): every content-defined chunk
    * ([[graft.ops.Text.cdcChunks]] — the shared builder under
    * `text_cdc_chunks`, which only REPORTS the dup rate) is kept at its
    * globally-first occurrence (lexicographic (doc_id, chunk index))
    * and removed everywhere else, and each doc reports what survives.
    * Keep-first is one min-struct aggregate per chunk hash joined back
    * on the hash — at 100 TB that is a map-side-combinable aggregate
    * over the chunk table plus a hash-partitioned equi-join; the
    * boilerplate chunk that appears a million times costs ONE group,
    * never a pair blow-up (contrast: the df-capped pair miners —
    * rewrite needs no pairs at all). All integer outputs; the oracle
    * applies the identical min-(doc,ck) rule via one window.
    */
  val cdcRewrite: Q = Q("dedup_cdc_rewrite", (s, dir) => {
    val ch = graft.ops.Text.cdcChunks(
      Tables.t(s, dir, "documents"), "doc_id", "text")
    val keeper = ch.groupBy("chash")
      .agg(min(struct(col("doc_id"), col("ck"))).as("k"))
      .select(col("chash"), col("k.doc_id").as("k_doc"), col("k.ck").as("k_ck"))
    ch.join(keeper, "chash")
      .withColumn("kept", col("doc_id") === col("k_doc") && col("ck") === col("k_ck"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_w").as("words_total"),
        sum(when(col("kept"), col("n_w")).otherwise(0L)).as("words_kept"))
      .withColumn("removed_bp", expr("10000 * (words_total - words_kept) DIV words_total"))
      .orderBy("doc_id")
  }, Some(s"""WITH ${graft.ops.Text.cdcChunksSqlCtes("documents", "doc_id", "text")},
    rk AS (SELECT doc_id, ck, n_w,
        row_number() OVER (PARTITION BY chash ORDER BY doc_id, ck) = 1 AS kept
      FROM ch)
    SELECT doc_id, count(*)::BIGINT AS n_chunks,
      sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      sum(n_w)::BIGINT AS words_total,
      sum(CASE WHEN kept THEN n_w ELSE 0 END)::BIGINT AS words_kept,
      CAST(10000 * (sum(n_w) - sum(CASE WHEN kept THEN n_w ELSE 0 END))
        // sum(n_w) AS BIGINT) AS removed_bp
    FROM rk GROUP BY doc_id ORDER BY doc_id"""))
  /** URL canonicalization dedup (the crawl-layer normalizer every
    * web-corpus pipeline runs BEFORE content hashing): deterministic
    * synthetic raw URLs are derived per document (one target URL per
    * doc_id quartet) — mixed-case hosts,
    * explicit default :443 ports, shuffled query-param orders, utm_*
    * tracking params, fragments, trailing slashes (the transport noise
    * real crawls carry) — and collapsed through the shared
    * [[graft.ops.Text.canonicalUrlExpr]] normalizer (lowercase
    * scheme+host, default-port strip, fragment drop, trailing-slash
    * strip, tracking-param drop, param sort; the DuckDB twin is the
    * identical step list). Four raw variants per target URL
    * canonicalize 3:1, so the duplicate groups have known structure.
    * Scale shape: pure per-row canonicalization, ONE groupBy on the
    * canonical key (hash with Md5Hash60 at corpus scale), ordered
    * limit output.
    */
  val urlCanonical: Q = Q("dedup_url_canonical", (s, dir) => {
    import graft.ops.Text
    val raw = """concat('https://',
        CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END,
        CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
        '/d/', CAST(doc_id DIV 4 AS STRING),
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN '/?utm_source=feed&b=2&a=1'
          WHEN 1 THEN '?a=1&b=2'
          WHEN 2 THEN '?b=2&utm_campaign=x&a=1#frag'
          ELSE '/' END)"""
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), expr(raw).as("_u"))
      .select(col("doc_id"), expr(Text.canonicalUrlExpr("_u")).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .filter(col("n_dups") >= 2)
      .orderBy(desc("n_dups"), asc("canonical_url")).limit(50)
  }, Some {
    import graft.ops.Text
    s"""WITH r AS (SELECT doc_id,
        'https://'
        || CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END
        || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        || '/d/' || CAST(doc_id // 4 AS VARCHAR)
        || CASE doc_id % 4
          WHEN 0 THEN '/?utm_source=feed&b=2&a=1'
          WHEN 1 THEN '?a=1&b=2'
          WHEN 2 THEN '?b=2&utm_campaign=x&a=1#frag'
          ELSE '/' END AS u
      FROM documents),
    c AS (SELECT doc_id, ${Text.canonicalUrlSql("u")} AS canonical_url FROM r)
    SELECT canonical_url, count(*)::BIGINT AS n_dups,
      CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM c GROUP BY 1 HAVING count(*) >= 2
    ORDER BY n_dups DESC, canonical_url LIMIT 50"""
  })

  /** SymSpell-style deletion-neighborhood fuzzy dedup (Garbe's public
    * symmetric-delete algorithm, lifted from characters to TOKENS): two
    * docs whose 8-token prefixes are within token-edit-distance 1 are
    * found WITHOUT an all-pairs scan by joining single-deletion
    * variants — `del_p(a) = full(b)` proves an insert/delete edit, and
    * `del_p(a) = del_p(b)` at the SAME position p with different full
    * strings proves exactly one substitution. Both tests are pure
    * equi-joins on the md5-derived 60-bit key, so candidate volume is
    * Σ bucket², df-capped at 128 per variant bucket (QUALIFY twin) —
    * the blocking scheme that replaces O(n²) edit-distance at corpus
    * scale. Ground truth is PLANTED (the ann_recall_eval pattern): each
    * doc_id % 5 = 0 doc gets a substitution variant (+1,000,000, token
    * at doc_id%8+1 replaced with out-of-vocab 'xq'), each doc_id % 7 = 0
    * doc a deletion variant (+2,000,000), derived identically in both
    * engines, so the pair list is non-trivial and self-verifying.
    * Pair kinds collapse per (a,b) to the strongest claim
    * (dup < del < sub).
    */
  /** The symspell corpus: 8-token doc prefixes plus the PLANTED
    * substitution (+1e6) and deletion (+2e6) variants — shared with the
    * StreamingSpec gate-reuse test so stream and batch cannot drift.
    */
  private[graft] def symspellCorpus(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        expr("slice(filter(split(text, ' '), x -> x <> ''), 1, 8)").as("t"))
      .filter(size(col("t")) === 8)
    val subVar = toks.filter(expr("doc_id % 5 = 0"))
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(slice(t, 1, CAST(doc_id % 8 AS INT)), array('xq'), " +
          "slice(t, CAST(doc_id % 8 AS INT) + 2, 7 - CAST(doc_id % 8 AS INT)))").as("t"))
    val delVar = toks.filter(expr("doc_id % 7 = 0"))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("concat(slice(t, 1, CAST(doc_id % 8 AS INT)), " +
          "slice(t, CAST(doc_id % 8 AS INT) + 2, 7 - CAST(doc_id % 8 AS INT)))").as("t"))
    toks.unionAll(subVar).unionAll(delVar)
  }

  /** The full symspell pair pipeline — (a, b, kind) rows, shared by the
    * [[symspell]] query and [[mergeMatching]]'s merge scheduler.
    */
  /** The UNCAPPED deletion-neighborhood posting relation (id, p, vh,
    * fh) — exposed so the cap-bite census (dedup_cap_coverage) audits
    * the same relation the pair miner caps.
    */
  private[graft] def symspellPosts(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.Md5Hash60.register(s)
    symspellCorpus(s, dir)
      .select(col("doc_id").as("id"), col("t"),
        explode(expr("sequence(0, size(t))")).as("p"))
      .select(col("id"), col("p"),
        expr("CASE WHEN p = 0 THEN array_join(t, ' ') ELSE array_join(" +
          "concat(slice(t, 1, p - 1), slice(t, p + 1, size(t) - p)), ' ') END").as("v"),
        expr("array_join(t, ' ')").as("f"))
      .select(col("id"), col("p"),
        expr("graft_h60(v)").as("vh"), expr("graft_h60(f)").as("fh"))
  }

  /** The symspell variant-bucket cap ([[graft.ops.Scale.capGroups]] on
    * the deletion-key hash).
    */
  private[graft] val SymspellCap = 128L

  private[graft] def symspellPairs(s: SparkSession, dir: String): DataFrame = {
    val posts = symspellPosts(s, dir)
    val capped = graft.ops.Scale.capGroups(posts, "vh", SymspellCap)
    val lhs = capped.select(col("id").as("ia"), col("p").as("pa"),
      col("vh"), col("fh").as("fa"))
    val rhs = capped.select(col("id").as("ib"), col("p").as("pb"),
      col("vh").as("vhb"), col("fh").as("fb"))
    val dup = lhs.filter(col("pa") === 0)
      .join(rhs.filter(col("pb") === 0), col("vh") === col("vhb"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), lit(0).as("r"))
    val del = lhs.filter(col("pa") > 0)
      .join(rhs.filter(col("pb") === 0), col("vh") === col("vhb"))
      .filter(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("ia"),
        greatest(col("ia"), col("ib")).as("ib"), lit(1).as("r"))
    val sub = lhs.filter(col("pa") > 0)
      .join(rhs.filter(col("pb") > 0),
        col("vh") === col("vhb") && col("pa") === col("pb"))
      .filter(col("ia") < col("ib") && col("fa") =!= col("fb"))
      .select(col("ia"), col("ib"), lit(2).as("r"))
    dup.unionAll(del).unionAll(sub)
      .groupBy("ia", "ib").agg(min("r").as("r"))
      .select(col("ia").as("a"), col("ib").as("b"),
        expr("CASE r WHEN 0 THEN 'dup' WHEN 1 THEN 'del' ELSE 'sub' END").as("kind"))
  }

  val symspell: Q = Q("dedup_symspell",
    (s, dir) => symspellPairs(s, dir).orderBy("a", "b"),
    Some(s"""WITH $symspellPairsSql
    SELECT a, b, kind FROM sympairs ORDER BY a, b"""))

  /** Oracle CTE chain ending in `sympairs(a, b, kind)` — the twin of
    * [[symspellPairs]], shared by both consumers.
    */
  /** DuckDB twin of [[symspellPosts]]: CTE chain ending in
    * `posts(id, p, vh, fh)` — shared by the pair-miner oracle and the
    * cap-census oracle.
    */
  private[graft] lazy val symspellPostsSql: String = """toks AS (
      SELECT doc_id, tf[1:8] AS t
      FROM (SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x <> '') AS tf
        FROM documents)
      WHERE len(tf) >= 8),
    corp AS (
      SELECT doc_id, t FROM toks
      UNION ALL
      SELECT doc_id + 1000000,
        list_concat(list_concat(t[1:CAST(doc_id % 8 AS INT)], ['xq']),
          t[CAST(doc_id % 8 AS INT) + 2:8])
      FROM toks WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000,
        list_concat(t[1:CAST(doc_id % 8 AS INT)], t[CAST(doc_id % 8 AS INT) + 2:8])
      FROM toks WHERE doc_id % 7 = 0),
    pos0 AS (SELECT doc_id AS id, t,
        unnest(list_transform(range(0, len(t) + 1), i -> CAST(i AS INT))) AS p
      FROM corp),
    postsv AS (SELECT id, p,
        CASE WHEN p = 0 THEN array_to_string(t, ' ')
             ELSE array_to_string(list_concat(t[1:p - 1], t[p + 1:len(t)]), ' ')
        END AS v,
        array_to_string(t, ' ') AS f
      FROM pos0),
    posts AS (SELECT id, p,
        CAST('0x' || substr(md5(v), 1, 15) AS BIGINT) AS vh,
        CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) AS fh
      FROM postsv)"""

  private[graft] lazy val symspellPairsSql: String = s"""$symspellPostsSql,
    capped AS (SELECT * FROM posts
      QUALIFY count(*) OVER (PARTITION BY vh) <= $SymspellCap),
    dup AS (SELECT a.id AS ia, b.id AS ib, 0 AS r
      FROM capped a JOIN capped b ON a.vh = b.vh
      WHERE a.p = 0 AND b.p = 0 AND a.id < b.id),
    del AS (SELECT least(a.id, b.id) AS ia, greatest(a.id, b.id) AS ib, 1 AS r
      FROM capped a JOIN capped b ON a.vh = b.vh
      WHERE a.p > 0 AND b.p = 0 AND a.id <> b.id),
    sub AS (SELECT a.id AS ia, b.id AS ib, 2 AS r
      FROM capped a JOIN capped b ON a.vh = b.vh AND a.p = b.p
      WHERE a.p > 0 AND a.id < b.id AND a.fh <> b.fh),
    u AS (SELECT * FROM dup UNION ALL SELECT * FROM del
      UNION ALL SELECT * FROM sub),
    sympairs AS MATERIALIZED (SELECT ia AS a, ib AS b,
      CASE min(r) WHEN 0 THEN 'dup' WHEN 1 THEN 'del' ELSE 'sub' END AS kind
    FROM u GROUP BY ia, ib)"""

  /** LSH band-shape TUNING table — the S-curve trade every MinHash
    * deployment decides empirically: the SAME 16-slot signature banded
    * three ways (8×2 / 4×4 / 2×8; collision threshold s* ≈ (1/b)^(1/r)
    * ≈ 0.35 / 0.71 / 0.92) against the exact Jaccard ≥ 0.5 ground
    * truth, reporting candidate volume, recall and precision in exact
    * integer basis points. More rows per band = sharper curve = fewer
    * candidates but missed borderline pairs; this is the table that
    * picks (b, r) before a 100-TB dedup run. One shingle explode and
    * ONE signature aggregation feed all three configs (the shared-
    * subtree rule); ground truth reuses the df-capped exact pair miner.
    */
  lazy val lshTuning: Q = Q("dedup_lsh_tuning", (s, dir) => {
    val shingles = hashedShingles(s, dir).persist()
    val sig = graft.ops.Lsh.signaturesHashed(shingles, "doc_id").persist()
    val truth = exactPairsFrom(
        graft.ops.Scale.capGroups(shingles, "sh", DfCap).persist())
      .select("d1", "d2").persist()
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    Seq((8, 2), (4, 4), (2, 8)).map { case (b, r) =>
      val cand = graft.ops.Lsh.candidatePairs(sig, "doc_id", b, r).persist()
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(cand.join(truth, Seq("d1", "d2"))
          .agg(count(lit(1)).as("true_pos")))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("true_pos"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(nTruth))
      .withColumn("recall_bp", expr("true_pos * 10000 DIV greatest(n_truth, 1)"))
      .withColumn("precision_bp",
        expr("true_pos * 10000 DIV greatest(n_candidates, 1)"))
      .select("bands", "rows_per_band", "n_candidates", "n_truth",
        "true_pos", "recall_bp", "precision_bp")
      .orderBy(desc("bands"))
  }, Some {
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * hm + $b) % $P) AS m$i"
    }.mkString(", ")
    def bandCtes(tag: String, b: Int, r: Int): String = {
      val sel = (0 until b).map { bi =>
        val key = (0 until r).map(j => s"CAST(m${r * bi + j} AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, $bi AS band, $key AS bsig FROM sig"
      }.mkString(" UNION ALL ")
      s"""bands_$tag AS ($sel),
    cand_$tag AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands_$tag a JOIN bands_$tag b
      ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)"""
    }
    def cfgRow(tag: String, b: Int, r: Int): String =
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
        (SELECT count(*)::BIGINT FROM cand_$tag) AS n_candidates,
        (SELECT count(*)::BIGINT FROM truth) AS n_truth,
        (SELECT count(*)::BIGINT FROM cand_$tag c
          JOIN truth t ON t.d1 = c.d1 AND t.d2 = c.d2) AS true_pos"""
    s"""WITH $duckCappedShingles,
    cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
    tp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS MATERIALIZED (SELECT d1, d2 FROM tp
      JOIN cnt x ON x.doc_id = d1 JOIN cnt y ON y.doc_id = d2
      WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5),
    h AS (SELECT doc_id, sh % $P AS hm FROM shh),
    sig AS MATERIALIZED (SELECT doc_id, $mins FROM h GROUP BY doc_id),
    ${bandCtes("a", 8, 2)},
    ${bandCtes("b", 4, 4)},
    ${bandCtes("c", 2, 8)},
    rows_out AS (${cfgRow("a", 8, 2)}
      UNION ALL ${cfgRow("b", 4, 4)}
      UNION ALL ${cfgRow("c", 2, 8)})
    SELECT bands, rows_per_band, n_candidates, n_truth, true_pos,
      true_pos * 10000 // greatest(n_truth, 1) AS recall_bp,
      true_pos * 10000 // greatest(n_candidates, 1) AS precision_bp
    FROM rows_out ORDER BY bands DESC"""
  })

  /** MERGE SCHEDULING over the near-dup pair graph — a maximal matching
    * ([[graft.ops.Graph.greedyMatching]], mutual-minimum rounds) is the
    * largest conflict-free batch of pairwise merges one pass can apply:
    * no document appears in two merges, and no mergeable pair is left
    * with both sides untouched. Runs on the [[symspellPairs]] output
    * (the shared builder — the scheduler and the miner cannot drift);
    * emits the round-by-round trace plus the re-verified disjointness /
    * maximality invariants. Spark runs the adaptive counted-small loop;
    * the oracle unrolls 16 MATERIALIZED mutual-min rounds.
    */
  lazy val mergeMatching: Q = Q("dedup_merge_matching", (s, dir) => {
    val (trace, disjoint, maximal) = graft.ops.Graph.greedyMatching(
      symspellPairs(s, dir).select(col("a").as("src"), col("b").as("dst")),
      "src", "dst", maxRounds = 16)
    import s.implicits._
    trace.map { case (r, w, c, e) => (r.toLong, w, c, e, disjoint, maximal) }
      .toDF("round", "n_matched", "cum_matched", "active_edges_after",
        "disjoint_ok", "maximal_ok")
      .orderBy("round")
  }, Some {
    val R = 16
    val rounds = (1 to R).map { r =>
      s"""ae$r AS MATERIALIZED (SELECT e.a, e.b, e.pr FROM ed e
      JOIN av$r va ON va.v = e.a JOIN av$r vb ON vb.v = e.b),
    mn$r AS MATERIALIZED (SELECT v, min(pr) AS mn FROM (
        SELECT a AS v, pr FROM ae$r UNION ALL SELECT b, pr FROM ae$r)
      GROUP BY v),
    w$r AS MATERIALIZED (SELECT t.a, t.b FROM ae$r t
      JOIN mn$r ma ON ma.v = t.a AND t.pr = ma.mn
      JOIN mn$r mb ON mb.v = t.b AND t.pr = mb.mn),
    av${r + 1} AS MATERIALIZED (SELECT v FROM av$r
      WHERE v NOT IN (SELECT a FROM w$r) AND v NOT IN (SELECT b FROM w$r))"""
    }.mkString(",\n    ")
    val traceRows = (1 to R).map { r =>
      s"""SELECT $r AS round, (SELECT count(*) FROM w$r) AS n_matched,
        (SELECT count(*) FROM ae${r + 1}) AS active_edges_after,
        (SELECT count(*) FROM ae$r) AS n_active"""
    }.mkString("\n      UNION ALL ")
    val mmUnion = (1 to R).map(r => s"SELECT a, b FROM w$r").mkString(" UNION ALL ")
    s"""WITH $symspellPairsSql,
    ed AS MATERIALIZED (SELECT a, b,
        CAST('0x' || substr(md5('match:' || CAST(a AS VARCHAR) || ':' ||
          CAST(b AS VARCHAR)), 1, 15) AS BIGINT) AS pr
      FROM sympairs),
    av1 AS MATERIALIZED (SELECT DISTINCT v FROM (
      SELECT a AS v FROM ed UNION ALL SELECT b FROM ed)),
    $rounds,
    ae${R + 1} AS MATERIALIZED (SELECT e.a, e.b FROM ed e
      JOIN av${R + 1} va ON va.v = e.a JOIN av${R + 1} vb ON vb.v = e.b),
    mm AS MATERIALIZED ($mmUnion),
    tr AS ($traceRows),
    fin AS (SELECT
      NOT EXISTS (SELECT 1 FROM (
        SELECT v FROM (SELECT a AS v FROM mm UNION ALL SELECT b FROM mm)
        GROUP BY v HAVING count(*) > 1)) AS disjoint_ok,
      (SELECT count(*) FROM ae${R + 1}) = 0 AS maximal_ok)
    SELECT CAST(round AS BIGINT) AS round,
      CAST(n_matched AS BIGINT) AS n_matched,
      CAST(sum(n_matched) OVER (ORDER BY round) AS BIGINT) AS cum_matched,
      CAST(active_edges_after AS BIGINT) AS active_edges_after,
      disjoint_ok, maximal_ok
    FROM tr, fin WHERE n_active > 0 ORDER BY round"""
  })

  /** CAP-BITE COVERAGE census over the dedup family's candidate caps
    * (r11 verdict task #2 — the no-silent-caps rule the r11 trainer
    * diagnostic established, extended to the dedup miners): every
    * [[graft.ops.Scale.capGroups]] site in the family, audited on its
    * UNCAPPED posting relation via the SHARED builders the miners
    * themselves consume, reporting in exact integers how much
    * candidate-PAIR mass the cap admits vs drops (a bucket of n
    * postings is n·(n−1)/2 pairs — pair mass, not row mass, is a pair-
    * miner cap's honest currency). Sites:
    *
    *  - `shingle_df`: [[hashedShingles]] gram buckets, [[DfCap]] (the
    *    exact pair-miners' shared inverted index).
    *  - `prefix_postings`: [[graft.ops.Lsh.prefixPostings]] buckets
    *    (post-prefix-selection), [[DfCap]] (dedup_prefix_filter's belt).
    *  - `lsh_wide_bands`: the r = 1 wide-slot band buckets
    *    ([[graft.ops.Lsh.wideSlotSql]] 61-bit family), [[DfCap]] — the
    *    r9 quadratic-fix family the verdict names.
    *  - `symspell_variants`: [[symspellPosts]] deletion-key buckets,
    *    [[SymspellCap]].
    *  - `phash_bands`: the pigeonhole image-band buckets over DISTINCT
    *    hashes — the r13 representative layer
    *    ([[graft.queries.TextOps.phashBands]]),
    *    [[graft.queries.TextOps.PhashBandCap]]; pair mass here is
    *    REPRESENTATIVE-pair mass (scales with distinct content).
    *  - `phash_groups`: the per-hash doc groups the representative
    *    pairs re-expand through (key = ahash, same cap) — the
    *    expansion side of the r13 split.
    *
    * At certified SFs every cap is non-binding (buckets_dropped = 0,
    * admitted_bp = 10000 — max observed 3-gram df is 25); the row
    * exists so a corpus where a cap DOES bite says so in a dashboard
    * instead of silently shedding recall (the DevR10Vol capcov rungs
    * show the ladder). Scale shape: each census is two chained
    * aggregates on the key the miner already shuffles on — no window,
    * no join, no collect; strictly cheaper than the miner it audits.
    */
  val capCoverage: Q = Q("dedup_cap_coverage", (s, dir) => {
    import graft.ops.{Lsh, Scale}
    val sh = hashedShingles(s, dir).persist()
    val wideMins = (0 until 16).map(i =>
      min(expr(Lsh.wideSlotSql(i, "sh", "DIV"))).as(s"w$i"))
    val wide = sh.groupBy("doc_id")
      .agg(wideMins.head, wideMins.tail: _*)
      .select(col("doc_id"), explode(array((0 until 16).map(b =>
        struct(lit(b).as("band"), col(s"w$b").as("v"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.v").as("v"))
    Scale.capCensus(sh, Seq("sh"), DfCap, "shingle_df")
      .unionByName(Scale.capCensus(
        Lsh.prefixPostings(sh, "doc_id"), Seq("sh"), DfCap, "prefix_postings"))
      .unionByName(Scale.capCensus(wide, Seq("band", "v"), DfCap, "lsh_wide_bands"))
      .unionByName(Scale.capCensus(
        symspellPosts(s, dir), Seq("vh"), SymspellCap, "symspell_variants"))
      .unionByName {
        val hhc = graft.queries.TextOps.phashHashes(s, dir).persist()
        Scale.capCensus(graft.queries.TextOps.phashBandsOf(hhc), Seq("bk"),
            graft.queries.TextOps.PhashBandCap, "phash_bands")
          .unionByName(Scale.capCensus(hhc, Seq("ahash"),
            graft.queries.TextOps.PhashBandCap, "phash_groups"))
      }
      .withColumn("admitted_bp", expr(
        "CASE WHEN pair_mass_total > 0 THEN pair_mass_admitted * 10000 DIV pair_mass_total ELSE 10000 END"))
      .orderBy("site")
  }, Some {
    import graft.ops.Scale
    val wideMinsSql = (0 until 16)
      .map(i => s"min(${graft.ops.Lsh.wideSlotSql(i, "sh", "//")}) AS w$i").mkString(", ")
    val wbandSelects = (0 until 16)
      .map(b => s"SELECT doc_id, $b AS band, w$b AS v FROM sigw16").mkString(" UNION ALL ")
    s"""WITH $duckHashedShingles,
    gdf AS (SELECT sh, count(*) AS df FROM shh GROUP BY sh),
    rk AS (SELECT s.doc_id, s.sh,
        row_number() OVER (PARTITION BY s.doc_id ORDER BY g.df, s.sh) AS rk,
        count(*) OVER (PARTITION BY s.doc_id) AS n
      FROM shh s JOIN gdf g USING (sh)),
    pp AS (SELECT doc_id, sh FROM rk WHERE rk <= n - ((n + 1) // 2) + 1),
    sigw16 AS (SELECT doc_id, $wideMinsSql FROM shh GROUP BY doc_id),
    wbands AS ($wbandSelects),
    $symspellPostsSql,
    ${graft.queries.TextOps.phashBandsOracleCtes},
    census AS (
      ${Scale.capCensusSql("shh", Seq("sh"), DfCap, "shingle_df")}
      UNION ALL ${Scale.capCensusSql("pp", Seq("sh"), DfCap, "prefix_postings")}
      UNION ALL ${Scale.capCensusSql("wbands", Seq("band", "v"), DfCap, "lsh_wide_bands")}
      UNION ALL ${Scale.capCensusSql("posts", Seq("vh"), SymspellCap, "symspell_variants")}
      UNION ALL ${Scale.capCensusSql("pbands", Seq("bk"), graft.queries.TextOps.PhashBandCap, "phash_bands")}
      UNION ALL ${Scale.capCensusSql("hh", Seq("ahash"), graft.queries.TextOps.PhashBandCap, "phash_groups")})
    SELECT site, cap, buckets_total, buckets_dropped, pair_mass_total, pair_mass_admitted,
      CAST(CASE WHEN pair_mass_total > 0
           THEN pair_mass_admitted * 10000 // pair_mass_total ELSE 10000 END AS BIGINT) AS admitted_bp
    FROM census ORDER BY site"""
  })
}
