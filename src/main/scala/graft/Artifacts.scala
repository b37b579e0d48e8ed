package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session registry of NAMED derived artifacts — expensive subtrees
  * that many operators consume (the MinHash near-dup pair graph, its
  * connected-component labels, monitor-op outputs): build once,
  * checkpoint, hand every consumer the same materialized frame instead
  * of re-running the suite's most expensive stage per consumer
  * (pre-round-10, p32/p41/p55/p82/p88 each re-built p02's MinHash+LSH
  * pipeline from the raw corpus). Nothing outlives the session: a
  * 228-query sweep runs in one session, where this registry already
  * removes every duplicate build (PLANS.md "Cross-session artifact
  * store deleted").
  *
  * Keyed on (session identity, dataset dir, staging mode, artifact
  * name) so a fresh session, a different corpus, or an A/B staging
  * experiment (ReuseStageSpec flips `graft.stage.materialize`) never
  * sees a stale artifact. `graft.artifacts.reuse=false` restores
  * rebuild-per-consumer — kept so the saving stays measurable
  * (`graft.tools.Profile` with either value; PLANS.md "Round-10:
  * pair-graph artifacts" records the A/B).
  *
  * The outer map holds sessions WEAKLY (SparkSession has no custom
  * equals, so WeakHashMap keys by session identity): a stopped,
  * dereferenced session's artifacts become unreachable and the
  * ContextCleaner reclaims their checkpoint blocks on GC — no
  * identity-hash collisions, no JVM-lifetime pinning. Within a live
  * session, entries persist deliberately: a handful of named
  * artifacts, each a per-doc-row footprint — the same cost
  * Stage.materialize already accepts for checkpoint blocks. */
object Artifacts {

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[(String, String, String), DataFrame]]())

  /** The artifact named `name` for dataset `dir`, building (and
    * remembering) it on first request. Reuse is per-session and
    * per-staging-mode; with `graft.artifacts.reuse=false` every call
    * rebuilds. */
  def cached(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    if (s.conf.get("graft.artifacts.reuse", "true") != "true") return build
    val mode = s.conf.get("graft.stage.materialize", "local")
    val forSession = cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = new ConcurrentHashMap[(String, String, String), DataFrame]()
        cache.put(s, m)
      }
      m
    }
    val key = (dir, mode, name)
    // get-then-put rather than computeIfAbsent: the latter would hold
    // the map's bin lock through a plan build. Verify/Bench drive
    // queries sequentially, and a rare racing duplicate build is
    // correct, just wasted work — last writer wins.
    Option(forSession.get(key)).getOrElse {
      val df = build
      forSession.put(key, df)
      df
    }
  }

  /** Session-scoped memo for small derived SCALARS — corpus row
    * counts feeding corpus-scaled sizing (codebook K, sample
    * divisors, sign-bucket width). Same (session, dataset) lifecycle
    * and immutable-dir contract as the artifact registry, and cleared
    * together by [[invalidate]] so a suite that rewrites a corpus
    * under a fixed dir cannot keep sizing from the old corpus. */
  private val scalars = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[(String, String), Any]]())

  def cachedScalar[T](s: SparkSession, dir: String, name: String)
      (build: => T): T = {
    val forSession = scalars.synchronized {
      var m = scalars.get(s)
      if (m == null) {
        m = new ConcurrentHashMap[(String, String), Any]()
        scalars.put(s, m)
      }
      m
    }
    forSession.computeIfAbsent((dir, name), _ => build).asInstanceOf[T]
  }

  /** Forget everything cached for this session — artifacts AND sizing
    * scalars (spec hygiene when a suite mutates the corpus under a
    * fixed dir). */
  def invalidate(s: SparkSession): Unit = {
    cache.synchronized { cache.remove(s): Unit }
    scalars.synchronized { scalars.remove(s): Unit }
  }
}
