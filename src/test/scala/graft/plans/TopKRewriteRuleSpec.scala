package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The optimizer rewrite: the canonical window top-k pattern must plan
  * through the native heap operator when (and only when) the rank
  * column is dropped. */
class TopKRewriteRuleSpec extends SparkSpec {
  import spark.implicits._

  private def w = Window.partitionBy(col("c_nationkey"))
    .orderBy(col("c_acctbal").desc, col("c_custkey").asc)

  private def pattern(k: Int) = Tables.customer(spark, sf)
    .select("c_nationkey", "c_custkey", "c_acctbal")
    .withColumn("rn", row_number().over(w))
    .filter(col("rn") <= k)
    .drop("rn")

  test("window row_number<=k with rank dropped plans the heap operator") {
    val df = pattern(3)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKeyPartial") &&
      physical.contains("TopKPerKeyFinal"), s"rewrite did not fire:\n$physical")
    assert(!physical.contains("WindowExec") &&
      !physical.contains("WindowGroupLimit"), s"window survived:\n$physical")
  }

  test("rewritten plan returns exactly the window form's rows") {
    // un-rewritten truth: keep rn in the output (which disqualifies the
    // rewrite) and strip it only after collect
    val truth = Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(_.toSeq.init).toSet
    val got = pattern(3)
      .collect().map(_.toSeq).toSet
    assert(got == truth)
  }

  test("rn = 1 (per-key argmax) re-plans as top-1; rn = k>1 does not") {
    def eqPattern(k: Int) = Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .drop("rn")
    val top1 = eqPattern(1)
    val p1 = top1.queryExecution.executedPlan.toString
    assert(p1.contains("TopKPerKeyPartial"), s"rn=1 did not rewrite:\n$p1")
    // value check against the kept-rank truth
    val truth = Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .collect().map(_.toSeq.init).toSet
    assert(top1.collect().map(_.toSeq).toSet == truth)
    // rn = 2 selects ONLY rank 2 — not a top-k prefix; must stay a window
    val p2 = eqPattern(2).queryExecution.executedPlan.toString
    assert(!p2.contains("TopKPerKeyPartial"), s"rn=2 wrongly rewrote:\n$p2")
  }

  test("the SQL subquery form (Spark has no QUALIFY) also re-plans") {
    Tables.customer(spark, sf).createOrReplaceTempView("topk_customer")
    val df = spark.sql(
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM topk_customer) WHERE rn <= 3""".stripMargin)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKeyFinal"),
      s"SQL path did not re-plan:\n$physical")
    assert(df.count() == pattern(3).count())
  }

  test("a kept rank column disqualifies the rewrite") {
    val df = Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3) // rn stays in the output
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("TopKPerKey"), s"unsafe rewrite fired:\n$physical")
  }

  test("a rank() window (not row_number) is left untouched") {
    val df = Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .withColumn("rn", rank().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("TopKPerKey"), s"rank() was rewritten:\n$physical")
  }

  test("extra filter conjuncts disqualify the rewrite") {
    val df = Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("c_acctbal") > 0)
      .drop("rn")
    val physical = df.queryExecution.executedPlan.toString
    // conservative: the combined predicate is not a pure rank bound
    // (the acctbal half may also be split and pushed below the window
    // by the optimizer, which can leave a pure bound behind — accept
    // either outcome as long as results are right)
    val viaWindow = Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("c_acctbal") > 0)
      .collect().map(_.toSeq.init).toSet // kept rn: stays a window
    assert(df.collect().map(_.toSeq).toSet == viaWindow)
  }
}
