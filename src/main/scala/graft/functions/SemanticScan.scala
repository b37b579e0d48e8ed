package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The semantic door scanner's whole per-row fold as ONE native
  * expression: scan the broadcast eval-embedding matrix for a probe
  * vector, returning `struct(n int, best_id bigint, best_sim double)`
  * — the count of eval vectors with cosine ≥ τ and the best match
  * under (sim DESC, eval_id ASC).
  *
  * Two independent reasons this is native instead of the previous
  * `crossJoin(broadcast(oneRowStructArrayFrame)) + aggregate(...)`:
  * (1) the join row owned the eval matrix, so UnsafeWriter memcpied
  * ~(|eval|·(dim·4+16)) bytes into EVERY probe row — the
  * BroadcastLongArray finding (measured in PLANS.md round 14); (2) the
  * `aggregate` HOF interprets its lambda per eval vector, where this
  * eval is one compiled loop over primitive arrays. The matrix ships
  * once per executor through the broadcast.
  *
  * Arithmetic is BIT-IDENTICAL to the replaced fold (StreamsSpec pins
  * row identity against batch p126): dot accumulates in doubles in
  * index order exactly as [[VectorDot]] does; sim = round-6 HALF_UP of
  * dot/(nrm·enrm) — [[VectorDot.cos6]]'s convention including its NULL
  * cases (zero denominator, NaN anywhere, dimension mismatch → that
  * eval vector simply never matches); count and replace exactly as the
  * old fold's total order. −0.0 cannot arise (IEEE: a +0.0-seeded sum
  * never yields −0.0), so primitive == is the tie test. */
case class SemanticScan(left: Expression, right: Expression,
    bc: Broadcast[SemanticScan.EvalIndex], tau: Double)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float>, double), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("best_id", LongType, nullable = true),
    StructField("best_sim", DoubleType, nullable = true)))

  override def prettyName: String = "semantic_scan"

  override def nullSafeEval(v: Any, nrmAny: Any): Any = {
    val va = v.asInstanceOf[ArrayData]
    val nrm = nrmAny.asInstanceOf[Double]
    val n = va.numElements()
    val idx = bc.value
    var cnt = 0
    var hasBest = false
    var bestId = 0L
    var bestSim = 0.0
    // a null element would make every vdot NULL (the null-intolerant
    // dot) — nothing can match; dimension mismatch likewise
    var nullElem = false
    var k = 0
    while (k < n && !nullElem) { nullElem = va.isNullAt(k); k += 1 }
    if (!nullElem && n == idx.dim && idx.ids.length > 0) {
      val vf = va.toFloatArray()
      var i = 0
      while (i < idx.ids.length) {
        val off = i * idx.dim
        var dot = 0.0
        var j = 0
        while (j < n) {
          dot += vf(j).toDouble * idx.flat(off + j).toDouble
          j += 1
        }
        val den = nrm * idx.nrms(i)
        val q = dot / den
        // cos6's NULL cases → this eval vector is skipped. The finite
        // check covers what NaN tests alone miss: an Inf operand (an
        // Inf-poisoned embedding) or a finite/subnormal overflow make
        // q non-finite, and BigDecimal.valueOf(q) would THROW — the
        // replaced fold's round() passed such rows through as degraded
        // values; a skip (never-matches) is this scan's NULL analogue.
        if (den != 0.0 && !dot.isNaN && !den.isNaN &&
            java.lang.Double.isFinite(q)) {
          val sim = java.math.BigDecimal.valueOf(q)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          if (sim >= tau) {
            cnt += 1
            val id = idx.ids(i)
            if (!hasBest || sim > bestSim ||
                (sim == bestSim && id < bestId)) {
              hasBest = true; bestId = id; bestSim = sim
            }
          }
        }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](cnt,
      if (hasBest) bestId else null,
      if (hasBest) bestSim else null))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SemanticScan {
  /** The broadcast payload: ids + norms + row-major flattened float
    * matrix (primitive arrays — no per-element boxing on the wire or
    * in the scan loop). */
  case class EvalIndex(ids: Array[Long], nrms: Array[Double],
      flat: Array[Float], dim: Int) extends Serializable

  /** Column API: scan `v` (with its precomputed norm) against the
    * broadcast `idx` at threshold `tau`. */
  def semanticScan(s: SparkSession, v: Column, nrm: Column,
      idx: EvalIndex, tau: Double): Column =
    ColumnBridge.column(SemanticScan(
      ColumnBridge.expression(v), ColumnBridge.expression(nrm),
      s.sparkContext.broadcast(idx), tau))
}
