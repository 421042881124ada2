package graft

import graft.ops.Unigram
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unigram-LM trainer: fixed-point log₂ pins, planted-vocabulary EM
  * checks, and driver-Viterbi ≡ packed-expression-DP equivalence (the
  * distributed encode path against the exact reference on every
  * distinct corpus word). Spark ≡ DuckDB is the check.py gate's job.
  */
class UnigramSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("log2Fix: exact on powers of two, monotone, bounded error vs real log2") {
    for (d <- Seq(1L, 3L, 977L); k <- 0 to 43
         if (d << k) < (1L << 44) && (d << k) > 0)
      assert(Unigram.log2Fix(d << k, d) === (k.toLong << Unigram.FracBits),
        s"log2(2^$k) must be exact at any denominator (d=$d)")
    // monotone in n (strictly across doublings, weakly pointwise)
    var prev = -1L
    for (n <- 1L to 4096L) {
      val v = Unigram.log2Fix(n, 1L)
      assert(v >= prev, s"monotonicity at n=$n")
      prev = v
    }
    // quantized value within 2^-10 of the real log2 (truncation only
    // ever rounds DOWN mantissa bits; 16 fractional bits, a few ulps)
    for (n <- Seq(3L, 7L, 100L, 12345L, 999999L)) {
      val got = Unigram.log2Fix(n, 1L).toDouble / (1L << Unigram.FracBits)
      val want = math.log(n.toDouble) / math.log(2.0)
      assert(math.abs(got - want) < 0.001, s"n=$n got=$got want=$want")
    }
    intercept[IllegalArgumentException](Unigram.log2Fix(1L, 2L))
    intercept[IllegalArgumentException](Unigram.log2Fix(1L << 44, 1L))
  }

  test("planted vocabulary: a dominant repeated piece survives the EM prune") {
    // corpus words are built from the planted piece "xy" (plus noise
    // words sharing no bigram mass); the trainer must keep "xy" and
    // segment the repeated words into few pieces
    val words = Seq(
      "xyxy" -> 500L, "xyxyxy" -> 300L, "xyxyxyxy" -> 200L,
      "abc" -> 40L, "bcd" -> 30L, "cde" -> 20L, "q" -> 10L)
    val vocab = Unigram.trainFromStats(words)
    val pieces = vocab.map(_.piece).toSet
    assert(pieces.contains("xy") || pieces.contains("xyxy"),
      s"planted piece must survive: ${vocab.filterNot(_.isChar).map(_.piece)}")
    // every char of the corpus is kept (coverage guarantee)
    for (c <- words.flatMap(_._1.toSeq).distinct)
      assert(pieces.contains(c.toString), s"char $c must never be pruned")
    // the dominant word segments into at most half its chars
    val cost = vocab.map(p => p.piece -> p.cost).toMap
    val seg = Unigram.viterbi("xyxyxyxy", cost)
    assert(seg.mkString("") === "xyxyxyxy", "segmentation must tile the word")
    assert(seg.size <= 4, s"planted structure must compress: $seg")
    // and a cheaper-total-cost segmentation than all-chars
    val segCost = seg.map(cost).sum
    val charCost = "xyxyxyxy".map(c => cost(c.toString)).sum
    assert(segCost < charCost, "multi-piece path must beat the char path")
  }

  test("viterbi: UNK fallback keeps out-of-vocab chars encodable; ties break to the earlier start") {
    val cost = Map("a" -> 100L, "b" -> 100L, "ab" -> 200L)
    // 'z' is out of vocab: single-char UNK keeps the word feasible
    assert(Unigram.viterbi("azb", cost) === List("a", "z", "b"))
    // "ab" (one piece, cost 200) ties "a"+"b" (200): the packed
    // (cost, start-of-last-piece) order prefers the SMALLER start,
    // i.e. the longer last piece — "ab" as one piece
    assert(Unigram.viterbi("ab", cost) === List("ab"))
  }

  test("packed-expression DP == driver viterbi on every distinct corpus word (all SFs' vocab shape)") {
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val vocab = Unigram.train(docs)
    val cost = vocab.map(p => p.piece -> p.cost).toMap
    import org.apache.spark.sql.functions._
    val wd = docs
      .select(explode(expr("filter(split(lower(text), ' '), x -> x != '')")).as("word"))
      .distinct()
    val got = Unigram.pieceCounts(wd, vocab).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    got.foreach { case (w, np) =>
      val want = Unigram.viterbi(w, cost).size.toLong
      assert(np === want, s"word '$w': packed DP $np vs driver viterbi $want")
    }
  }

  test("pieceCounts fails LOUDLY past the DP unroll bound") {
    import spark.implicits._
    val vocab = Unigram.trainFromStats(Seq("ab" -> 5L))
    val long = Seq.fill(Unigram.DpUnroll + 1)("a").mkString
    val ex = intercept[Exception] {
      Unigram.pieceCounts(Seq(long).toDF("word").repartition(2), vocab).collect()
    }
    assert(ex.getMessage != null)
  }

  test("trainFromStats fails LOUDLY on a training word past the DP unroll (oracle wd-guard twin)") {
    val long = Seq.fill(Unigram.DpUnroll + 1)("a").mkString
    val ex = intercept[IllegalArgumentException] {
      Unigram.trainFromStats(Seq("ab" -> 5L, long -> 3L))
    }
    assert(ex.getMessage.contains("DP unroll"), ex.getMessage)
  }

  test("DP-unroll guard counts CODE POINTS, not UTF-16 units (r11 advice parity fix)") {
    // 7 supplementary-plane chars = 14 Scala code units but 7 SQL
    // positions: the driver must TRAIN (the old code-unit guard threw
    // where the Spark/DuckDB twins trained fine)
    val s7 = new String(Character.toChars(0x10000)) * 7
    val v = Unigram.trainFromStats(Seq(s7 -> 5L, "ab" -> 3L))
    assert(v.nonEmpty && v.exists(_.piece == new String(Character.toChars(0x10000))))
    // and 13 code points must still throw
    val s13 = new String(Character.toChars(0x10000)) * (Unigram.DpUnroll + 1)
    intercept[IllegalArgumentException](Unigram.trainFromStats(Seq(s13 -> 5L)))
  }

  test("distributed E-step == driver EM: cap-free parity on a planted >1024-word vocabulary (ties + supplementary plane)") {
    import spark.implicits._
    // 1500 distinct words — past the FORMER top-1024 head-cap — with a
    // dense count-tie structure (i % 7 cycles) so seed/prune boundary
    // ties are actually exercised, plus supplementary-plane words so
    // the DP/backtrack and all driver enumerations run in code-point
    // space on both paths, plus planted compressible structure
    val supp = new String(Character.toChars(0x10400))
    val words: Seq[(String, Long)] =
      (0 until 1500).map(i => (f"w${i % 97}%02dx$i", (i % 7 + 1).toLong)) ++
        Seq((supp * 3, 11L), (s"a$supp${supp}b", 7L),
          ("xyxyxyxy", 200L), ("xyxy", 100L), ("xy", 50L))
    val wordsDf = words.toDF("word", "cnt").repartition(4).localCheckpoint(true)
    val dist = Unigram.trainDistributed(wordsDf)
    val drv = Unigram.trainFromStats(words)
    assert(dist.size == drv.size && dist == drv,
      s"distributed vs driver EM diverged:\n dist=$dist\n drv =$drv")
    // the planted piece still survives on both
    assert(dist.exists(p => !p.isChar && (p.piece == "xy" || p.piece == "xyxy")))
  }

  test("train: counted-small driver path == forced-distributed path on the corpus") {
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val viaDriver = Unigram.train(docs) // 31-word vocab -> driver fast path
    val viaDist = Unigram.train(docs, driverCutoff = 0L) // forced distributed
    assert(viaDriver.nonEmpty && viaDriver == viaDist)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("utf8Compare orders like UTF-8 bytes, not UTF-16 code units (supplementary plane)") {
    // U+10000 is UTF-16 surrogate pair (D800 DC00) but UTF-8 F0 90 80 80;
    // U+E000 is UTF-16 E000 but UTF-8 EE 80 80 — Scala's compareTo puts
    // the surrogate FIRST, UTF-8 byte order (Spark UTF8String / DuckDB
    // binary collation) puts it LAST. The trainer's tie-breaks must use
    // the latter.
    val supp = new String(Character.toChars(0x10000))
    val priv = "\uE000"
    assert(supp.compareTo(priv) < 0, "precondition: UTF-16 order differs")
    assert(Unigram.utf8Compare(supp, priv) > 0, "utf8Compare must follow byte order")
    // prefix rule and equality
    assert(Unigram.utf8Compare("ab", "abc") < 0)
    assert(Unigram.utf8Compare("abc", "abc") == 0)
    // ASCII agrees with String order
    assert(Unigram.utf8Compare("abc", "abd") < 0)
  }
}
