package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Pipeline

/** The session artifact registry (graft.Artifacts): the near-dup pair
  * graph, its cluster labels and the monitor-op outputs are built ONCE
  * per (session, dataset, staging mode) and shared by every consumer,
  * not rebuilt per query. */
class ArtifactsSpec extends SparkSpec {

  test("nearDupPairs is the same materialized frame on every request") {
    val a = Pipeline.nearDupPairs(spark, sf)
    val b = Pipeline.nearDupPairs(spark, sf)
    assert(a eq b, "second request must return the cached frame")
    val c = Pipeline.dupClusterLabels(spark, sf)
    assert(c eq Pipeline.dupClusterLabels(spark, sf))
  }

  test("graft.artifacts.reuse=false restores rebuild-per-consumer") {
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      val a = Pipeline.nearDupPairs(spark, sf)
      val b = Pipeline.nearDupPairs(spark, sf)
      assert(!(a eq b), "reuse=false must build a fresh frame per call")
    } finally spark.conf.unset("graft.artifacts.reuse")
  }

  test("cached and rebuilt pair graphs hold identical rows") {
    val cached = Pipeline.nearDupPairs(spark, sf)
      .orderBy("doc_a", "doc_b").collect()
    val fresh = {
      spark.conf.set("graft.artifacts.reuse", "false")
      try Pipeline.nearDupPairs(spark, sf).orderBy("doc_a", "doc_b").collect()
      finally spark.conf.unset("graft.artifacts.reuse")
    }
    assert(cached.toSeq == fresh.toSeq)
  }

  test("artifacts are keyed per dataset dir, not globally") {
    val a = Pipeline.nearDupPairs(spark, sf)
    val mini = graft.queries.PipelineMiniSpec.dir
    val m = Pipeline.nearDupPairs(spark, mini)
    assert(!(a eq m), "different dirs must not share an artifact")
    // the mini corpus plants exactly the (0,1),(0,2),(1,2) triangle
    val pairs = m.select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("invalidate drops this session's artifacts") {
    val a = Pipeline.nearDupPairs(spark, sf)
    Artifacts.invalidate(spark)
    val b = Pipeline.nearDupPairs(spark, sf)
    assert(!(a eq b), "invalidate must force a rebuild")
  }

  test("invalidate clears the sizing-scalar memo too — a rewritten " +
      "corpus must not keep the old corpus's sizing") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scalar-memo").toString
    var builds = 0
    def count(): Long =
      Artifacts.cachedScalar(spark, dir, "rowcount:documents") {
        builds += 1; 100L * builds
      }
    assert(count() == 100L && count() == 100L && builds == 1,
      "the scalar is built once per session and dir")
    Artifacts.invalidate(spark)
    assert(count() == 200L,
      "after invalidate the scalar must be recomputed")
  }

  test("the registry keys on staging mode: each mode shares its own " +
      "frame, and both hold the same rows") {
    def rows(df: DataFrame) = df.orderBy("doc_a", "doc_b").collect().toSeq
    val local = Pipeline.nearDupPairs(spark, sf)
    assert(local eq Pipeline.nearDupPairs(spark, sf))
    spark.conf.set("graft.stage.materialize", "none")
    val (none, noneRows) =
      try {
        val n = Pipeline.nearDupPairs(spark, sf)
        assert(n eq Pipeline.nearDupPairs(spark, sf),
          "a repeat request in the same mode must return the cached frame")
        (n, rows(n))
      } finally spark.conf.unset("graft.stage.materialize")
    assert(!(none eq local), "a staging-mode flip must not see the " +
      "other mode's frame")
    assert(Pipeline.nearDupPairs(spark, sf) eq local,
      "the default mode's entry survives the flip")
    assert(rows(local) == noneRows)
  }

  test("opArtifact shares a monitor op's output only with reuse on") {
    val p84 = SparkEntry.queries("p84_hourly_anomaly")
    val shared = p84(spark, sf)
    assert(shared eq p84(spark, sf), "reuse on must hand every consumer " +
      "the one built output")
    spark.conf.set("graft.artifacts.reuse", "false")
    val (a, b) =
      try (p84(spark, sf), p84(spark, sf))
      finally spark.conf.unset("graft.artifacts.reuse")
    assert(!(a eq b), "reuse=false must rebuild the op per call")
    assert(a.collect().toSet == shared.collect().toSet)
  }
}
