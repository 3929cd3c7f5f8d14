package graft.engine.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Whether every element of `array` passes one element check, in one
  * allocation-free loop inside whole-stage codegen:
  *   - `allowed` None: every element is non-null;
  *   - `allowed` Some(values), a foldable array: every element is one of
  *     the values, a null passing only when `values` holds a null; exactly
  *     `size(array_except(array, values)) = 0`.
  *
  * The set operations build a hash set and a result array per row; this
  * scans the elements against the handful of allowed values in place. It
  * keeps `array_except`'s equality: an element is widened to the allowed
  * array's element type (the type the analyzer gave the literal array, the
  * type `array_except` casts both sides to), and floating values compare
  * by their bits, as in its hash set, so NaN equals NaN and -0.0 is not
  * 0.0. A null array gives null. The column compiler uses it for the
  * element-null guard of object `items`, `required`'s field-array twin and
  * the `enum`/`const` twin. */
case class EveryElement(array: Expression, allowed: Option[Expression]) extends Expression {

  override def children: Seq[Expression] = array +: allowed.toSeq
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = array.nullable
  override def prettyName: String = "graft_every_element"

  private def elementType: DataType = array.dataType.asInstanceOf[ArrayType].elementType
  private def allowedType: DataType = allowed.get.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (array.dataType, allowed) match {
    case (_: ArrayType, None) => TypeCheckResult.TypeCheckSuccess
    case (_: ArrayType, Some(a)) if !a.foldable =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a foldable array of allowed values")
    case (ArrayType(from, _), Some(a)) => a.dataType match {
      case ArrayType(to, _) if EveryElement.widens(from, to) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName cannot compare $from elements with $other values")
    }
    case (other, _) => TypeCheckResult.TypeCheckFailure(s"$prettyName needs an array, got $other")
  }

  @transient private lazy val toKey: Any => Any = EveryElement.key(allowedType)
  /** The allowed values as comparison keys, and whether a null passes. */
  @transient private lazy val lookup: (Array[Any], Boolean) = allowed match {
    case None => (Array.empty[Any], false)
    case Some(a) =>
      val values = a.eval().asInstanceOf[ArrayData]
      val all = (0 until values.numElements()).map(i =>
        Option.when(!values.isNullAt(i))(values.get(i, allowedType)))
      (all.flatten.map(toKey).toArray, all.contains(None))
  }
  private def keys: Array[Any] = lookup._1
  private def nullPasses: Boolean = lookup._2
  private def longKeys: Boolean = EveryElement.longKeyed(allowedType)

  override def eval(input: InternalRow): Any = {
    val value = array.eval(input)
    if (value == null) null
    else {
      val arr = value.asInstanceOf[ArrayData]
      var ok = true
      var i = 0
      while (ok && i < arr.numElements()) {
        ok = if (arr.isNullAt(i)) nullPasses
          else allowed.isEmpty || { val k = toKey(arr.get(i, elementType)); keys.exists(_ == k) }
        i += 1
      }
      ok
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = array.genCode(ctx)
    val i = ctx.freshName("i")
    val onValue = if (allowed.isEmpty) "" else {
      val (javaType, same) = if (longKeys) ("long", (k: String, v: String) => s"$k == $v")
        else ("Object", (k: String, v: String) => s"$v.equals($k)")
      val values = ctx.addReferenceObj("allowed",
        if (longKeys) keys.map(_.asInstanceOf[Long]) else keys.map(_.asInstanceOf[AnyRef]),
        s"$javaType[]")
      val (k, j) = (ctx.freshName("key"), ctx.freshName("j"))
      val element = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .getValue(arr.value, elementType, i)
      s"""$javaType $k = ${EveryElement.keyCode(elementType, allowedType, element)};
         |${ev.value} = false;
         |for (int $j = 0; !${ev.value} && $j < $values.length; $j++) {
         |  ${ev.value} = ${same(k, s"$values[$j]")};
         |}""".stripMargin
    }
    ev.copy(code = code"""
      ${arr.code}
      boolean ${ev.isNull} = ${arr.isNull};
      boolean ${ev.value} = true;
      if (!${ev.isNull}) {
        for (int $i = 0; ${ev.value} && $i < ${arr.value}.numElements(); $i++) {
          if (${arr.value}.isNullAt($i)) {
            ${ev.value} = $nullPasses;
          } else {
            $onValue
          }
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EveryElement =
    copy(array = newChildren.head, allowed = allowed.map(_ => newChildren(1)))
}

object EveryElement {

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Element types whose values widen to `to` the way `array_except`
    * casts its left side to the common type, for the types the column
    * compiler's literal arrays take: the column's own, or its widening by
    * long and double literals. */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (BooleanType, BooleanType) | (StringType, StringType) | (FloatType, FloatType) => true
    case (FloatType | DoubleType | _: DecimalType, DoubleType) => true
    case (_: DecimalType, _: DecimalType) => true
    case (f, t) if integral(f) => integral(t) || t == DoubleType
    case _ => false
  }

  /** Booleans, integers and floating values compare as a `long` key. */
  private def longKeyed(t: DataType): Boolean = t match {
    case BooleanType | FloatType | DoubleType => true
    case t => integral(t)
  }

  /** The comparison key of a (boxed) value widened to `to`: a `Long` for
    * [[longKeyed]] types (floating values by their bits), else the value
    * itself (`UTF8String`, or `Decimal`, whose `equals` compares values
    * across scales). */
  private def key(to: DataType): Any => Any = to match {
    case BooleanType => v => if (v.asInstanceOf[Boolean]) 1L else 0L
    case FloatType => v => java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong
    case DoubleType => {
      case d: Decimal => java.lang.Double.doubleToLongBits(d.toDouble)
      case n: Number => java.lang.Double.doubleToLongBits(n.doubleValue)
    }
    case t if integral(t) => v => v.asInstanceOf[Number].longValue
    case _ => identity
  }

  /** [[key]] as Java code over the typed element `x` of type `from`. */
  private def keyCode(from: DataType, to: DataType, x: String): String = to match {
    case BooleanType => s"($x ? 1L : 0L)"
    case FloatType => s"(long) Float.floatToIntBits($x)"
    case DoubleType if from.isInstanceOf[DecimalType] => s"Double.doubleToLongBits($x.toDouble())"
    case DoubleType => s"Double.doubleToLongBits((double) $x)"
    case t if integral(t) => s"(long) $x"
    case _ => x
  }
}
