package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection, generic over any
  * (id, text) relation — the library surface of the dedup pipeline.
  * Constants are deterministic and shared with the oracle SQL builders in
  * `graft.queries.Dedup`, so every hash is reproducible cross-engine
  * (md5-derived: `conv(substr(md5(x),1,15),16,10)`).
  *
  * Scale shape: signatures are ONE typed-UDAF aggregation per document;
  * candidate generation touches only band-signature collisions (never
  * all pairs); the estimated-Jaccard filter runs on candidates only.
  */
object Lsh {

  /** 2^31-1, Mersenne prime bounding the minhash universe. */
  val P = 2147483647L

  /** 16 deterministic (a,b) permutation constants from a fixed LCG seed —
    * embedded identically in Spark plans and generated oracle SQL.
    */
  val perms: Seq[(Long, Long)] = {
    var x = 42L
    def next(): Long = {
      x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      x % (P - 1) + 1
    }
    Seq.fill(16)((next(), next()))
  }

  /** The md5-derived shingle hash reduced into the minhash universe
    * (applies to a column named `sh`) — the native graft_h60 expression,
    * bit-identical to the conv/substr/md5 chain. Registers the function
    * on the active/default sessions (the fragment resolves at analysis
    * time — same pattern as ops/Sketch.h60).
    */
  def hashExpr: String = {
    graft.expressions.Md5Hash60.registerActive()
    "graft_h60(sh) % 2147483647"
  }

  /** Distinct word n-gram shingles of a text column: (`idCol`, `sh`).
    * Words are lowercased space-split; docs shorter than `n` words drop.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val w = df.select(col(idCol),
        filter(split(lower(col(textCol)), " "), x => x =!= "").as("w"))
      .filter(size(col("w")) >= n)
    w.select(col(idCol), explode(array_distinct(
      transform(sequence(lit(1), size(col("w")) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(col("w"), i + k)): _*)))).as("sh"))
  }

  /** MinHash signatures: one row per id with a 16-element signature array
    * (typed-UDAF aggregation — one aggregate instead of 16 generated
    * mins). Input must carry the shingle column `sh`.
    */
  def signatures(sh: DataFrame, idCol: String): DataFrame = {
    graft.expressions.Md5Hash60.register(sh.sparkSession)
    sh.sparkSession.udf.register("minhash_sig",
      udaf(graft.functions.MinHashAggregator))
    sh.withColumn("hm", expr(hashExpr))
      .groupBy(idCol).agg(expr("minhash_sig(hm)").as("sig"))
  }

  /** [[signatures]] over an ALREADY-HASHED shingle relation (`sh` is the
    * 60-bit md5-derived long, not the gram string): hm = sh % P is the
    * identical minhash-universe value, so signatures are bit-equal to
    * the string path — callers that hash grams once at the explode (the
    * dedup_prefix_filter shuffle-byte win) reuse the hashed relation for
    * both the exact miners and the MinHash pipeline without re-hashing.
    * Collision-safe without oracle mirroring: a 2^-60 gram collision
    * duplicates an hm value and min-aggregation ignores duplicates.
    */
  def signaturesHashed(sh: DataFrame, idCol: String): DataFrame = {
    sh.sparkSession.udf.register("minhash_sig",
      udaf(graft.functions.MinHashAggregator))
    sh.withColumn("hm", expr(s"sh % $P"))
      .groupBy(idCol).agg(expr("minhash_sig(hm)").as("sig"))
  }

  /** WIDE-RANGE single-slot minhash family over a pre-hashed 60-bit
    * shingle column — for r = 1 (single-row) band keys, where the mod-P
    * slots are a SCALE BUG: the min of n values in [0, P) concentrates
    * in [0, ~P/n], so two UNRELATED docs share a slot value at rate
    * ~n̄/P and a corpus accumulates N²·n̄/2P accidental candidate pairs
    * — quadratic in corpus size (caught by the ×128 DevScale rung:
    * c[x32→x128] = 1.7-3.1 on dedup_lsh_bands however the buckets were
    * capped, because the accidental pairs sit in myriad 2-doc buckets).
    * Over the 61-bit Mersenne-prime range the same term is N²·n̄/2⁶² ≈
    * never. Family: (a·low30 + b·high30 + c) mod (2⁶¹−1) with 30-bit
    * literal coefficients — every product < 2⁶⁰, overflow-safe, and the
    * string is dialect-common except the `div` token. P(min-collision)
    * = Jaccard exactly as for any minhash permutation; r ≥ 2 configs
    * don't need this (their accidental rate is squared away).
    */
  def wideSlotSql(i: Int, hCol: String, div: String): String = {
    val a = ((1103515245L * (i + 1) + 12345L) % (1L << 30)) | 1L
    val b = ((69069L * (i + 7) + 1013904223L) % (1L << 30)) | 1L
    val c = (2654435761L * (i + 1)) % (1L << 30)
    s"(($a * ($hCol % 1073741824) + $b * ($hCol $div 1073741824) + $c) % 2305843009213693951)"
  }

  /** Banded LSH candidate pairs (d1 < d2, distinct) from a signature
    * relation: `bands` bands of `rowsPerBand` signature slots each;
    * a pair is a candidate iff some band's slots all collide.
    */
  /** Banded signature rows: one (`idCol`, `band`, `bsig`) row per band
    * per id — the bucket keys of the LSH collision join, exposed so the
    * streaming gate ([[graft.streaming.LshGateProcessor]]) and the
    * batch join below share one construction.
    */
  def bandRows(
      sig: DataFrame, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // out-of-range slots would read as null and concat_ws drops nulls —
    // every doc would silently collide into one degenerate band signature
    require(bands * rowsPerBand <= perms.size,
      s"bands*rowsPerBand = ${bands * rowsPerBand} exceeds the " +
        s"${perms.size}-slot signature")
    val bandArr = array((0 until bands).map { b =>
      val slots = (0 until rowsPerBand)
        .map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), concat_ws("_", slots: _*).as("bsig"))
    }: _*)
    sig.select(col(idCol), explode(bandArr).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  def candidatePairs(
      sig: DataFrame, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val bandsDf = bandRows(sig, idCol, bands, rowsPerBand)
    bandsDf.select(col("band"), col("bsig"), col(idCol).as("d1"))
      .join(bandsDf.select(col("band").as("band2"), col("bsig").as("bsig2"),
          col(idCol).as("d2")),
        col("band") === col("band2") && col("bsig") === col("bsig2") &&
          col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Estimated Jaccard between two exploded signature sides whose columns
    * are x0..x15 / y0..y15 (matching-slot fraction).
    */
  def estJaccardExpr(nPerms: Int = 16): String =
    (0 until nPerms).map(i => s"IF(x$i = y$i, 1, 0)")
      .mkString("(", " + ", s") / double($nPerms)")

  /** Prefix postings for prefix-filtering EXACT similarity self-joins
    * (AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): order each id's distinct `shCol` tokens by ascending
    * GLOBAL document frequency (token string as tie-break) and keep
    * only the first |x| − ⌈t·|x|⌉ + 1 tokens, t = `tNum`/`tDen`.
    * Any pair with Jaccard ≥ t shares its globally-rarest common token
    * within BOTH prefixes (o ≥ t·max(|x|,|y|) bounds the token's
    * position on each side), so an equi-join of prefix postings against
    * themselves loses NO qualifying pair while hot boilerplate tokens —
    * by construction each document's most frequent — never enter the
    * join. ⌈t·n⌉ in exact integer arithmetic: (tNum·n + tDen − 1) DIV
    * tDen.
    */
  def prefixPostings(
      sh: DataFrame, idCol: String, shCol: String = "sh",
      tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    import org.apache.spark.sql.expressions.Window
    // global df attaches as ONE window count on the token exchange —
    // the groupBy + shuffle-join-back form re-shuffled the identical
    // posting volume and lost ~1.5 s at sf0.1 (prefix-filter A/B, both reps)
    sh.select(col(idCol), col(shCol),
        count(lit(1)).over(Window.partitionBy(shCol)).as("_df"))
      .select(col(idCol), col(shCol),
        row_number().over(
          Window.partitionBy(idCol).orderBy(col("_df"), col(shCol))).as("_rk"),
        count(lit(1)).over(Window.partitionBy(idCol)).as("_n"))
      .filter(expr(s"_rk <= _n - (($tNum * _n + ${tDen - 1}) DIV $tDen) + 1"))
      .select(idCol, shCol)
  }

  /** 32-bit SimHash signatures (typed-UDAF aggregation over md5-derived
    * shingle hashes): one row per id with a long `sig`. The cosine-ish
    * complement to MinHash — hamming distance between signatures tracks
    * angular similarity of the shingle frequency vectors.
    */
  def simhashSignatures(sh: DataFrame, idCol: String): DataFrame = {
    graft.expressions.Md5Hash60.register(sh.sparkSession)
    sh.sparkSession.udf.register("simhash_sig",
      udaf(graft.functions.SimHashAggregator))
    sh.withColumn("h", expr("graft_h60(sh)"))
      .groupBy(idCol).agg(expr("simhash_sig(h)").as("sig"))
  }

  /** SimHash near-dup candidate pairs at hamming ≤ `maxHamming` via
    * pigeonhole chunk banding: the 32-bit signature splits into
    * `maxHamming + 1` chunks, and any pair within the hamming budget
    * must agree on at least one whole chunk — so the chunk equi-join is
    * EXACT (no recall loss), never all-pairs. Output: (d1, d2, hamming),
    * d1 < d2. maxHamming must keep chunks byte-aligned here: 3 (4×8-bit
    * chunks) is the supported production setting.
    */
  def simhashPairs(sig: DataFrame, idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming == 3, "chunked banding implemented for maxHamming=3 (4 x 8-bit chunks)")
    val chunkArr = array((0 until 4).map { c =>
      struct(lit(c).as("chunk"), expr(s"shiftright(sig, ${8 * c}) & 255").as("cv"))
    }: _*)
    val chunks = sig.select(col(idCol), col("sig"), explode(chunkArr).as("ch"))
      .select(col(idCol), col("sig"), col("ch.chunk").as("chunk"), col("ch.cv").as("cv"))
      .persist() // both sides of the candidate self-join
    chunks.select(col("chunk"), col("cv"), col(idCol).as("d1"), col("sig").as("sig1"))
      .join(chunks.select(col("chunk").as("chunk2"), col("cv").as("cv2"),
          col(idCol).as("d2"), col("sig").as("sig2")),
        col("chunk") === col("chunk2") && col("cv") === col("cv2") && col("d1") < col("d2"))
      .select("d1", "d2", "sig1", "sig2").distinct()
      .withColumn("hamming", expr("CAST(bit_count(sig1 ^ sig2) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }
}
