package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Compiled code is reused across passes. Spark keeps Janino-compiled
  * classes in a JVM-wide LRU whose size is the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100); one Bench pass
  * generates 231 classes, so at the default every pass evicted its own
  * classes and recompiled all of them. Session.local() sizes the cache
  * to the working set, and a warm pass of the Bench queries must compile
  * nothing.
  *
  * Reads the compile count JVM-wide: forked suites run one at a time,
  * so no other suite compiles while a pass is measured. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session sizes the generated-class cache to the working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("a second pass of the Bench queries compiles no class") {
    val names = Bench.headline
    assert(names.size == 17)
    def pass(): Unit = names.foreach { n =>
      SparkEntry.queries(n)(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // the Bench shape: every invocation rebuilds its artifacts
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      pass()
      val before = compiles
      pass()
      val added = compiles - before
      assert(added == 0, s"the warm pass recompiled $added generated classes")
    } finally spark.conf.unset("graft.artifacts.reuse")
  }
}
