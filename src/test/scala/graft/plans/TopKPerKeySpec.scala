package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.plans.TopKPerKey.topK

/** The native per-key top-k operator: exact agreement with the window
  * form it replaces, the two-phase plan shape, and bounded shuffles. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._
  import TopKPerKeySpec.windowRows

  private def customers = Tables.customer(spark, sf)
    .select("c_nationkey", "c_custkey", "c_acctbal")

  private def windowForm(k: Int) = windowRows(customers,
    Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc), k)

  private def nativeForm(k: Int) = topK(customers, Seq("c_nationkey"),
    Seq("c_acctbal" -> false, "c_custkey" -> true), k)

  private def asSet(df: DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("native top-k returns exactly the window form's rows") {
    Seq(1, 3, 10).foreach { k =>
      assert(asSet(nativeForm(k)) == windowForm(k), s"k=$k")
    }
  }

  test("keys with fewer than k rows pass through whole") {
    val big = nativeForm(Int.MaxValue / 2)
    assert(asSet(big) == asSet(customers))
  }

  test("plans two heap phases around one exchange - no sort, no window") {
    val plan = nativeForm(3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial") &&
      plan.contains("TopKPerKeyFinal"), s"missing phases:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1,
      s"expected exactly the one hash exchange:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Sort"),
      s"regressed to sort/window:\n$plan")
  }

  test("agrees with the window form on adversarial generated data") {
    // many duplicate order values force tiebreak-dependent admission
    val df = (1 to 500)
      .map(i => (i % 7L, i.toLong, (i % 3).toDouble))
      .toDF("c_nationkey", "c_custkey", "c_acctbal")
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val got = topK(df, Seq("c_nationkey"),
      Seq("c_acctbal" -> false, "c_custkey" -> true), 5)
    assert(asSet(got) == windowRows(df, w, 5))
  }

  test("partial-pass key cap passes overflow rows through without losing exactness") {
    // cap of 1: every map task reduces only its first-seen key and must
    // pass every other key's rows through unreduced — the final pass
    // still owes the exact answer
    spark.conf.set("graft.topk.partialKeyCap", "1")
    try {
      Seq(1, 3).foreach { k =>
        assert(asSet(nativeForm(k)) == windowForm(k), s"k=$k capped")
      }
    } finally spark.conf.unset("graft.topk.partialKeyCap")
  }

  test("final pass degrades to spillable sort past the key cap, exactly") {
    // 20k distinct keys against a cap of 16: every final task overflows
    // its heap map almost immediately and must take the external-sort
    // path — with the heap map this shape would hold all 20k keys per
    // task in memory; degraded, memory is the sorter's task allocation
    // and the answer must not change
    val df = (1 to 60000)
      .map(i => (i % 20000L, i.toLong, (i % 11).toDouble))
      .toDF("c_nationkey", "c_custkey", "c_acctbal")
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val expect = windowRows(df, w, 2)
    spark.conf.set("graft.topk.finalKeyCap", "16")
    try {
      val got = topK(df, Seq("c_nationkey"),
        Seq("c_acctbal" -> false, "c_custkey" -> true), 2)
      // still the native two-phase plan — the degrade is inside the task
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKeyFinal"), plan)
      assert(asSet(got) == expect)
    } finally spark.conf.unset("graft.topk.finalKeyCap")
  }

  test("degraded and heap paths agree on the real table") {
    spark.conf.set("graft.topk.finalKeyCap", "1")
    try {
      Seq(1, 3).foreach { k =>
        assert(asSet(nativeForm(k)) == windowForm(k), s"k=$k degraded")
      }
    } finally spark.conf.unset("graft.topk.finalKeyCap")
  }

  test("a non-positive partial key cap is rejected, not silently a no-op") {
    // 0 would disable ALL map-side reduction (pure shuffle) with no
    // warning — the operator must refuse it
    Seq("0", "-5", "nonsense").foreach { bad =>
      spark.conf.set("graft.topk.partialKeyCap", bad)
      try {
        val e = intercept[Exception] { nativeForm(3).collect() }
        def all(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => x.getMessage +: all(x.getCause))
        assert(all(e).exists(m =>
          m != null && m.contains("graft.topk.partialKeyCap")), s"cap=$bad: $e")
      } finally spark.conf.unset("graft.topk.partialKeyCap")
    }
  }

  test("multi-key grouping and ascending order work") {
    val df = (1 to 200)
      .map(i => (i % 4L, i % 2L, i.toLong, i.toDouble))
      .toDF("a", "b", "id", "v")
    val w = Window.partitionBy(col("a"), col("b"))
      .orderBy(col("v").asc, col("id").asc)
    val got = topK(df, Seq("a", "b"),
      Seq("v" -> true, "id" -> true), 3)
    assert(asSet(got) == windowRows(df, w, 3))
  }
}

object TopKPerKeySpec {
  /** The window form's rows for `row_number() over w <= k`. `rn` stays
    * in the plan, which disqualifies TopKRewriteRule, so the reference
    * really runs Spark's Window (asserted) rather than the operator
    * under test; it is dropped after collect. An empty local input is
    * folded by the optimizer to an empty scan, with no operator left. */
  def windowRows(df: DataFrame, w: WindowSpec, k: Int): Set[Seq[Any]] = {
    val ref = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val plan = ref.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerKey") && (plan.contains("Window") ||
      plan.startsWith("LocalTableScan <empty>")),
      s"the reference is not a window plan:\n$plan")
    ref.collect().map(_.toSeq.init).toSet
  }
}
