package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Static, generated-code-callable 6dp-rounded cosine similarity over two
  * float arrays — the exact arithmetic of [[graft.engine.Similarity
  * .cosineArrays]] followed by the same HALF_UP BigDecimal rounding the
  * typed scoring stage applied: a sequential double fold (deterministic
  * summation order), 0.0 for a zero-norm side.
  * Replacing the typed `scorePairs` stage with this expression removes the
  * per-pair encoder round trip (two array copies, a tuple allocation and a
  * DeserializeToObject/SerializeFromObject pair in the plan) and keeps the
  * candidate-scoring projection inside whole-stage codegen. Two input
  * faults raise instead of scoring: a null element has no value to score
  * (parquet arrays are always `containsNull`, so the check is per row, not
  * in `checkInputDataTypes`), and two lengths that differ mean a corpus,
  * index or query built at another dimension. */
object CosineSim6Bridge {
  private def requireNoNull(v: ArrayData): Unit = {
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_cosine_sim6: null array element at index $i")
      i += 1
    }
  }

  def sim(a: ArrayData, b: ArrayData): Double = {
    requireNoNull(a); requireNoNull(b)
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"graft_cosine_sim6: array lengths differ ($n vs ${b.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c =
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    new java.math.BigDecimal(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** `graft_cosine_sim6(a, b)` — codegen'd rounded cosine over float arrays. */
case class CosineSim6(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> columns, got " +
        s"${left.dataType} and ${right.dataType}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sim6"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim6Bridge.sim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.engine.expressions.CosineSim6Bridge.sim($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim6 =
    copy(left = newLeft, right = newRight)
}
