package graft

import graft.ops.Scale
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native TopKPerGroup operator (logical node + strategy + physical
  * exec): exact parity with the row_number window form under a total
  * order, plan shape (two custom stages, NO WindowExec, no full sort),
  * and the edge cases (k ≥ group size, single group, expression-keyed
  * groups pre-projected).
  */
class TopKPerGroupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 8)

  override def afterAll(): Unit = spark.stop()

  private def sfDir = "/root/testdata/sf0.001"

  test("parity with row_number window form on the events table (total order)") {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
    val got = Scale.topKPerGroup(e, Seq("event_type"),
        Seq(("value", false), ("event_id", true)), 3)
      .orderBy("event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = ruleOff {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").desc, col("event_id").asc)
      e.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
        .orderBy("event_type", "event_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("plan shape: partial + final custom stages, one exchange between, no WindowExec; only the bounded local sort") {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
    val df = Scale.topKPerGroup(e, Seq("event_type"),
      Seq(("value", false), ("event_id", true)), 3)
    df.collect() // finalize AQE before reading the executed plan
    // AQE's toString prints Final AND Initial plans — assert on the final only
    val whole = df.queryExecution.executedPlan.toString
    val plan = whole.split("== Initial Plan ==")(0)
    assert(plan.contains("TopKPerGroup"), plan)
    val stages = "TopKPerGroupExec|TopKPerGroup".r.findAllIn(plan).size
    assert(stages >= 2, s"expected partial+final stages:\n$plan")
    assert(!plan.contains("Window"), s"WindowExec crept in:\n$plan")
    // the final stage's required ordering plans exactly ONE sort: the
    // spill-capable PARTITION-LOCAL SortExec over the shuffle output the
    // partial stage already bounded to <= k rows per (group, map). A
    // global sort, or one below the exchange (i.e. over the raw data),
    // would defeat the operator.
    val sorts = "Sort \\[".r.findAllIn(plan).size
    assert(sorts <= 1, s"expected at most the one bounded local sort:\n$plan")
    if (sorts == 1) assert(plan.contains("], false, 0"), s"sort must be partition-local:\n$plan")
    assert(plan.contains("Exchange") || plan.contains("ShuffleQueryStage"),
      s"expected the clustered exchange:\n$plan")
  }

  test("partial stage flushes past the byte budget: exact results with a 1 KiB budget over many groups") {
    val sp = spark; import sp.implicits._
    sp.conf.set("graft.topKPerGroup.flushBytes", "1024")
    try {
      // 500 groups x 40 rows in 4 partitions: a 1 KiB budget forces many
      // mid-partition flushes; the final stage must still re-select exactly
      val df = (0 until 20000).map(i => (i % 500, i.toLong)).toDF("g", "v")
        .repartition(4)
      val got = Scale.topKPerGroup(df, Seq("g"), Seq(("v", true)), 2)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val want = ruleOff {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("g").orderBy(col("v").asc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2).drop("rn")
          .collect().map(r => (r.getInt(0), r.getLong(1)))
      }.toSet
      assert(got.size == 1000)
      assert(got == want)
    } finally sp.conf.unset("graft.topKPerGroup.flushBytes")
  }

  test("partial stage bounds what crosses the shuffle: k rows per (group, map partition)") {
    val sp = spark; import sp.implicits._
    // 4 input partitions x 1 group x 1000 rows: the window form shuffles
    // 4000 rows; the partial stage lets at most 4 partitions x k=2 = 8 through
    val df = (1 to 4000).map(i => ("g", i.toLong)).toDF("g", "v")
      .repartition(4)
    val got = Scale.topKPerGroup(df, Seq("g"), Seq(("v", true)), 2).collect()
    assert(got.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
    // count rows emitted by the partial stages via a listener-free proxy:
    // run just the partial semantics — every map partition emits <= k
    val perPartition = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPartition.forall(_ > 2), "precondition: each partition holds > k rows")
  }

  test("k >= group size passes whole groups; ascending and descending agree with the oracle") {
    val sp = spark; import sp.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("g", "v")
    val all = Scale.topKPerGroup(df, Seq("g"), Seq(("v", true)), 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(all == Set(("a", 1L), ("a", 2L), ("b", 5L)))
    val top1Desc = Scale.topKPerGroup(df, Seq("g"), Seq(("v", false)), 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top1Desc == Set(("a", 2L), ("b", 5L)))
  }

  test("expression group keys work when pre-projected to named columns") {
    val e = Tables.events(spark, sfDir)
      .select(expr("user_id % 7").as("bucket"), col("event_id"), col("value"))
    val got = Scale.topKPerGroup(e, Seq("bucket"),
      Seq(("value", false), ("event_id", true)), 2)
    assert(got.groupBy("bucket").count().collect().forall(_.getLong(1) <= 2))
  }

  test("unknown column names fail loudly") {
    val e = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val ex = intercept[IllegalArgumentException] {
      Scale.topKPerGroup(e, Seq("nope"), Seq(("value", true)), 1)
    }
    assert(ex.getMessage.contains("nope"))
  }

  /** `f` under TopKRewrite's kill switch: the plain window plan, the
    * reference the rewritten plans are checked against.
    */
  private def ruleOff[A](f: => A): A = {
    spark.conf.set("spark.graft.rewrite.topK", "false")
    try f finally spark.conf.unset("spark.graft.rewrite.topK")
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("TopKRewrite: the row_number()<=k idiom auto-routes to the bounded operator") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    def idiom = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    val want = ruleOff(idiom.orderBy("event_type", "event_id")
      .collect().map(_.toSeq).toSeq)
    val plan = finalPlan(idiom)
    val got = idiom.orderBy("event_type", "event_id").collect().map(_.toSeq).toSeq
    assert(plan.contains("TopKPerGroup"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window"), s"WindowExec survived the rewrite:\n$plan")
    assert(want.nonEmpty && got == want, "rewritten results diverged from the window form")
    // kill switch honored
    val off = ruleOff(finalPlan(idiom))
    assert(!off.contains("TopKPerGroupExec"), s"kill switch ignored:\n$off")
  }

  test("TopKRewrite: extra filter conjuncts survive above the operator") {
    import org.apache.spark.sql.expressions.Window
    val sp = spark; import sp.implicits._
    val df = (1 to 400).map(i => (i % 7, i.toLong)).toDF("g", "v")
    val w = Window.partitionBy("g").orderBy(col("v").desc)
    def idiom = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("v") % 2 === 0).drop("rn")
    val want = ruleOff(idiom.collect().map(_.toSeq)).toSet
    val (got, plan) = (idiom.collect().map(_.toSeq).toSet, finalPlan(idiom))
    assert(plan.contains("TopKPerGroup"), s"rewrite did not fire:\n$plan")
    assert(got == want, "residual conjunct lost or misapplied")
    // BETWEEN 1 AND k = vacuous lower bound + cap — still rewrites
    def idiomB = df.withColumn("rn", row_number().over(w))
      .filter(col("rn").between(1, 4)).drop("rn")
    val wantB = ruleOff(idiomB.collect().map(_.toSeq)).toSet
    val (gotB, planB) = (idiomB.collect().map(_.toSeq).toSet, finalPlan(idiomB))
    assert(planB.contains("TopKPerGroup"), s"BETWEEN idiom did not rewrite:\n$planB")
    assert(gotB == wantB, "BETWEEN rewrite diverged")
  }

  test("TopKRewrite: conservative non-fires — rank(), float group keys") {
    import org.apache.spark.sql.expressions.Window
    val sp = spark; import sp.implicits._
    val df = (1 to 100).map(i => (i % 5, i / 7.0, i.toLong)).toDF("g", "f", "v")
    val w = Window.partitionBy("g").orderBy(col("v").asc)
    // rank() has different semantics under ties -> no rewrite
    val rk = df.withColumn("rn", rank().over(w)).filter(col("rn") <= 2).drop("rn")
    assert(!finalPlan(rk).contains("TopKPerGroupExec"), "rewrote rank()")
    // raw-float group keys violate the byte-equality contract -> no rewrite
    val wf = Window.partitionBy("f").orderBy(col("v").asc)
    val fl = df.withColumn("rn", row_number().over(wf)).filter(col("rn") <= 2).drop("rn")
    assert(!finalPlan(fl).contains("TopKPerGroupExec"), "rewrote float group keys")
  }

  test("TopKRewrite: rank-keeping projections rewrite with the EMITTED rank (r8 #5)") {
    import org.apache.spark.sql.expressions.Window
    val sp = spark; import sp.implicits._
    val df = (1 to 400).map(i => (i % 7, i.toLong)).toDF("g", "v")
      .repartition(4)
    val w = Window.partitionBy("g").orderBy(col("v").desc) // v unique per g: total

    def kept = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    val want = ruleOff(kept.collect().map(_.toSeq)).toSet
    val (got, plan) = (kept.collect().map(_.toSeq).toSet, finalPlan(kept))
    assert(plan.contains("TopKPerGroup"), s"rank-keeping rewrite did not fire:\n$plan")
    assert(!plan.contains("Window"), s"WindowExec survived:\n$plan")
    assert(want.nonEmpty && got == want,
      "emitted rank diverged from row_number under the window form")
    // rank DERIVED in the projection (rn used in an expression) also routes
    def derived = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select(col("g"), (col("rn") * 10).as("r10"))
    val wantD = ruleOff(derived.collect().map(_.toSeq)).toSet
    val (gotD, planD) = (derived.collect().map(_.toSeq).toSet, finalPlan(derived))
    assert(planD.contains("TopKPerGroup"), s"derived-rank rewrite did not fire:\n$planD")
    assert(gotD == wantD, "derived-rank results diverged")
  }
}
