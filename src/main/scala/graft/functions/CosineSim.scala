package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity of two `array<double>` vectors as a native Catalyst
  * expression — the hot inner operation of every similarity path (brute
  * top-k, SemDeDup pairs, embedding near-dup verification).
  *
  * The higher-order-function formulation ([[graft.ext.Similarity.cosine]])
  * is semantically identical but runs on Catalyst's interpreted HOF path
  * (three zip_with/aggregate chains, per-element expression eval). This is
  * one fused JVM loop per row — dot product and both norms in a single
  * pass — called from whole-stage codegen via a static helper, the same
  * (b)-level escalation as [[SimHash64]]/[[MinHashSig]].
  *
  * Arithmetic matches the HOF form EXACTLY: sequential index-order
  * accumulation of p·q, a·a, b·b, then `dot / (sqrt(na) * sqrt(nb))` —
  * identical IEEE op sequence, so results are bit-identical (pinned in
  * SimilaritySpec). Mismatched lengths return null, mirroring zip_with's
  * null-padding which nulls the HOF aggregate.
  */
object CosineSimImpl {
  /** One-pass cosine; caller guarantees non-null ArrayData of doubles. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else CosineSimImpl.cosine(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CosineSimImpl.cosine($a, $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSim {
  /** Column API: fused native cosine similarity. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API: fused max-cosine of one vector against a whole matrix. */
  def maxCosineSim(matrix: Column, v: Column): Column =
    ColumnBridge.column(MaxCosineSim(ColumnBridge.expression(matrix), ColumnBridge.expression(v)))
}

object MaxCosineSimImpl {
  /** Max cosine of `v` against every row of `matrix` in ONE fused loop —
    * null rows and length-mismatched rows are skipped (each such pair's
    * cosine is null in the pairwise form, and max ignores nulls); returns
    * null (boxed) when no row qualifies. The max comparison is
    * [[org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles]]
    * — Spark's own max-aggregate ordering (NaN greatest, -0 < 0) — so the
    * result is the exact value the pairwise `max(cosine)` aggregate
    * produces, element for element.
    */
  def maxCosine(matrix: ArrayData, v: ArrayData): java.lang.Double = {
    val m = matrix.numElements()
    val n = v.numElements()
    var best = 0.0
    var found = false
    var j = 0
    while (j < m) {
      if (!matrix.isNullAt(j)) {
        val row = matrix.getArray(j)
        if (row.numElements() == n) {
          val c = CosineSimImpl.cosine(row, v)
          if (!found ||
              org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(c, best) > 0) {
            best = c
            found = true
          }
        }
      }
      j += 1
    }
    if (found) java.lang.Double.valueOf(best) else null
  }
}

/** Max cosine similarity of a vector against a broadcast-sized matrix
  * (`array<array<double>>`) — the decontamination probe's hot path
  * ([[graft.ext.Decontaminate.semanticHits]]): corpus × benchmark is the
  * one all-pairs scan the exact max-cosine contract cannot avoid, and as a
  * crossJoin it materializes |corpus|·|benchmark| ROWS through the join
  * (the sf10 rehearsal measured 494 s at 200k × 20k — row overhead, not
  * arithmetic). This folds the benchmark loop INSIDE one codegen'd call
  * per corpus row: same IEEE op sequence per pair as [[CosineSim]], same
  * max ordering as the aggregate it replaces, |corpus| output rows and no
  * re-aggregation exchange.
  */
case class MaxCosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val okR = right.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (okL && okR)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"max_cosine_sim requires (array<array<double>>, array<double>), got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    MaxCosineSimImpl.maxCosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, v) => {
      val tmp = ctx.freshName("maxCos")
      s"""
         |java.lang.Double $tmp = graft.functions.MaxCosineSimImpl.maxCosine($m, $v);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxCosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "max_cosine_sim"
}
