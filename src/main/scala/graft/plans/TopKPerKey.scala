package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Whole-operator extension per the preference ladder in SURVEY §7: a
  * native per-key top-k — logical node + planner strategy + two-phase
  * physical operator — registered through `GraftExtensions`.
  *
  * Spark's built-in answer to "top k rows per key" is
  * `row_number().over(Window.partitionBy(key).orderBy(...)) <= k`,
  * which plans Exchange → SORT of every row in each partition → Window
  * → Filter: the full input is sorted even though all but k rows per
  * key are discarded. This operator keeps a BOUNDED HEAP of k rows per
  * key instead:
  *
  *  - partial pass before the shuffle: every map task reduces its slice
  *    to ≤k rows per key, so the exchange moves at most
  *    tasks × keys × k rows no matter how large the input —
  *    the same contract as partial aggregation (and why this beats the
  *    window form at scale: the shuffle and the sort disappear);
  *  - final pass after a hash exchange on the key (EnsureRequirements
  *    inserts it from the declared ClusteredDistribution): merges the
  *    partial winners into the exact per-key top-k.
  *
  * Memory per task is keys-in-task × k rows — the operator never
  * materializes or sorts a full partition. On a high-cardinality key
  * that bound is itself a heap risk, so BOTH passes guard it:
  *
  *  - the PARTIAL pass caps its map at `graft.topk.partialKeyCap` keys
  *    (default 262144) and passes rows of any further key through
  *    unreduced — a correctness-safe no-op (the final pass computes the
  *    exact top-k either way), trading shuffle volume for bounded
  *    map-task memory;
  *  - the FINAL pass must hold every key it owns, so past
  *    `graft.topk.finalKeyCap` distinct keys (default 262144) it
  *    DEGRADES the whole task to Spark's spillable external sort
  *    (`UnsafeExternalRowSorter`, the engine under SortExec): rows held
  *    so far plus the rest of the input are sorted by (key, order) with
  *    disk spill, and the exact top-k per key is read off the sorted
  *    runs. Same answer, bounded memory, no config needed.
  *
  * The caller's sort order must
  * be TOTAL (include a tiebreak column) for the result set to be
  * deterministic; rows are emitted in no particular order, exactly like
  * any other unsorted relational result.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k,
        TopKPerKeyExec(keys, order, k, planLater(child), partial = true),
        partial = false) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  // the final pass needs all rows of a key co-located; the partial pass
  // runs wherever the data already is (that is the point of it). With no
  // keys (a GLOBAL top-k — e.g. a constant partition key the optimizer
  // folded away) the final pass needs the single-partition distribution,
  // and the partials have already capped each task's contribution at k.
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  private def capConf(name: String): Int = {
    val raw = conf.getConfString(name, "262144")
    val parsed = try raw.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$raw'")
    }
    // a non-positive cap would silently disable ALL map-side reduction
    // (partial) or force every task down the degrade path (final) with
    // no warning — reject it loudly
    require(parsed > 0, s"$name must be a positive integer, got $parsed")
    parsed
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    // partial-pass key cap: beyond this many distinct keys in one map
    // task, further keys' rows pass through unreduced (no-op is exact).
    // final-pass key cap: beyond it, the task degrades to an external
    // (spillable) sort instead of growing the heap map unboundedly.
    val keyCap = if (partial) capConf("graft.topk.partialKeyCap")
      else capConf("graft.topk.finalKeyCap")
    val isPartial = partial
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      val ord = RowOrdering.create(sortOrder, schema)
      // max-heap under the sort order: head = the row that sorts LAST
      // among the kept k (the current worst), so admission is one compare
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      def admit(row: InternalRow, h: mutable.PriorityQueue[InternalRow]): Unit =
        if (h.size < limit) h += row.copy()
        else if (ord.compare(row, h.head) < 0) {
          h.dequeue()
          h += row.copy()
        }
      if (isPartial) {
        val passedThrough = iter.flatMap { row =>
          val key = keyProj(row)
          heaps.get(key) match {
            case None =>
              if (heaps.size < keyCap) {
                val h = mutable.PriorityQueue.empty[InternalRow](ord)
                h += row.copy()
                heaps.put(key.copy(), h)
                Iterator.empty
              } else Iterator.single(row) // map full: emit unreduced
            case Some(h) =>
              admit(row, h)
              Iterator.empty
          }
        }
        // `++` is by-name: the heap drain only starts after the input is
        // exhausted, so every reduced row is in its final heap by then
        passedThrough ++ heaps.valuesIterator.flatMap(_.iterator)
      } else {
        // FINAL pass: consume eagerly into the heap map; if the task
        // turns out to own more than keyCap distinct keys, degrade to a
        // spillable external sort of everything seen plus the rest
        var overflow: Iterator[InternalRow] = null
        while (iter.hasNext && overflow == null) {
          val row = iter.next()
          val key = keyProj(row)
          heaps.get(key) match {
            case None =>
              if (heaps.size < keyCap) {
                val h = mutable.PriorityQueue.empty[InternalRow](ord)
                h += row.copy()
                heaps.put(key.copy(), h)
              } else overflow = Iterator.single(row.copy()) ++ iter
            case Some(h) => admit(row, h)
          }
        }
        if (overflow == null) heaps.valuesIterator.flatMap(_.iterator)
        else TopKPerKeyExec.sortedTopK(schema, keyExprs, sortOrder, limit,
          heaps.valuesIterator.flatMap(_.iterator) ++ overflow)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Degrade path for a final-pass task owning pathologically many keys:
    * exact per-key top-k off a SPILLABLE sort. Rows go through Spark's
    * `UnsafeExternalRowSorter` (the engine under SortExec — task-memory
    * accounted, spills to disk under pressure) ordered by (key, caller
    * order); the sorted stream is then walked run by run, emitting the
    * first k rows of each key run. Same answer as the heap map, disk
    * instead of memory. Must run inside a task (the sorter draws from
    * the task's memory manager). */
  private[plans] def sortedTopK(
      schema: Seq[Attribute],
      keyExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    import org.apache.spark.sql.execution.UnsafeExternalRowSorter
    import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
    val fullOrder = keyExprs.map(SortOrder(_, Ascending)) ++ order
    val rowOrd = RowOrdering.create(fullOrder, schema)
    // constant prefix: every comparison falls through to the full row
    // comparator (no radix) — key types are arbitrary expressions here
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val zero = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow)
          : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        zero.value = 0L; zero.isNull = false; zero
      }
    }
    val sorter = UnsafeExternalRowSorter.create(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(schema),
      rowOrd, PrefixComparators.LONG, prefixComputer,
      org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes,
      /* canUseRadixSort = */ false)
    val toUnsafe = UnsafeProjection.create(schema, schema)
    val sorted = sorter.sort(rows.map(r => toUnsafe(r)))
    val keyProj = UnsafeProjection.create(keyExprs, schema)
    var currentKey: UnsafeRow = null
    var emitted = 0
    sorted.filter { row =>
      val key = keyProj(row)
      if (currentKey == null || key != currentKey) {
        currentKey = key.copy()
        emitted = 1
        true
      } else if (emitted < k) {
        emitted += 1
        true
      } else false
    }
  }
}

object TopKPerKey {
  /** The exact top-`k` rows per `keys` group under `order` — SQL
    * expression strings, each order entry paired with `ascending`
    * (include a tiebreak for determinism). Expressions are built
    * through the catalyst parser rather than the Column API: parsed
    * trees are plain catalyst nodes, so they serialize cleanly into
    * the executor-side closures of the physical operator (Column-
    * derived trees retain non-serializable ColumnNode internals). */
  def topK(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val keyExprs = keys.map(PlanBridge.parseExpression(spark, _))
    val sortOrder = order.map { case (sql, asc) =>
      SortOrder(PlanBridge.parseExpression(spark, sql),
        if (asc) Ascending else Descending)
    }
    PlanBridge.ofRows(spark,
      TopKPerKeyNode(keyExprs, sortOrder, k, PlanBridge.logicalPlan(df)))
  }
}
