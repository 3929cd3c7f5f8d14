package graft.engine.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Exact-decimal arithmetic helper for [[ExactMultipleOf]] (also callable
  * from generated code, hence the plain static-friendly object). */
object GraftMath {
  /** draft-7 `multipleOf` with the reference's exact-decimal semantics
    * (`validate.cljc:237-242`: BigDecimal remainder == 0). `valueOf` uses the
    * double's shortest decimal rendering, matching how the JSON literal was
    * written — so 0.0075 is a multiple of 0.0001 even though neither is
    * representable in binary. */
  def isMultipleOf(x: Double, m: Double): Boolean =
    m != 0.0 && !x.isNaN && !x.isInfinity && !m.isNaN && !m.isInfinity &&
      java.math.BigDecimal.valueOf(x)
        .remainder(java.math.BigDecimal.valueOf(m))
        .compareTo(java.math.BigDecimal.ZERO) == 0
}

/** Native Catalyst expression for exact `multipleOf` — participates in
  * whole-stage codegen via [[doGenCode]] (a static call into [[GraftMath]]),
  * unlike a Scala UDF which would box + break the codegen span. Preference
  * order per the engine's design rules: builtin composition, then a custom
  * `Expression` like this one, then UDF.
  */
case class ExactMultipleOf(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, double), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_exact_multiple_of"

  override protected def nullSafeEval(x: Any, m: Any): Any =
    GraftMath.isMultipleOf(x.asInstanceOf[Double], m.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, m) =>
      s"graft.engine.expressions.GraftMath.isMultipleOf($x, $m)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactMultipleOf =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  /** Column-level entry (usable without any registration). */
  def exactMultipleOf(x: Column, m: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ExactMultipleOf(
        org.apache.spark.sql.GraftColumnBridge.expression(x.cast(DoubleType)),
        org.apache.spark.sql.GraftColumnBridge.expression(m.cast(DoubleType))))

  /** Column-level [[EveryElement]]: every element of `array` is non-null
    * (`allowed` None), or is null or one of `allowed`'s literal values. */
  def everyElement(array: Column, allowed: Option[Column]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(EveryElement(
      org.apache.spark.sql.GraftColumnBridge.expression(array),
      allowed.map(org.apache.spark.sql.GraftColumnBridge.expression)))

  /** Column-level `graft_validate` (usable without any registration):
    * struct(valid, violations) of an instance column — JSON text, or a
    * struct of payload columns — against a JSON schema column (typically
    * `lit(schemaJson)`, compiled once; a non-literal schema column gives
    * per-row schema dispatch, memoized per distinct schema). */
  def validateJson(instance: Column, schemaJson: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ValidateJson(
        org.apache.spark.sql.GraftColumnBridge.expression(instance),
        org.apache.spark.sql.GraftColumnBridge.expression(schemaJson)))
}

/** The full SQL surface of the native expressions, for both injection
  * paths: `--conf spark.sql.extensions=graft.engine.expressions
  * .GraftExtensions` at session build (the spark-submit path), or
  * [[GraftExtensions.register]] on a live session. Seeds / mods / format
  * names are plan-time constants, so they must be literals. */
object GraftExtensions {
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) =>
      // a BIGINT SQL literal parses as Literal[Long] — reject values that
      // don't fit rather than silently truncating to a wrong seed
      if (v < Int.MinValue || v > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$what literal $v is outside Int range")
      else v.toInt
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }
  private def litLong(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }
  private def litStr(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_exact_multiple_of"),
      new ExpressionInfo(classOf[ExactMultipleOf].getName, "graft_exact_multiple_of"),
      {
        case Seq(x, m) => ExactMultipleOf(x, m)
        case other => throw new IllegalArgumentException(
          s"graft_exact_multiple_of expects 2 arguments, got ${other.length}")
      }),
    // graft_hash64(str[, seed]) — the engine's md5+splitmix string hash
    (FunctionIdentifier("graft_hash64"),
      new ExpressionInfo(classOf[Hash64].getName, "graft_hash64"),
      {
        case Seq(s) => Hash64(s, 0)
        case Seq(s, seed) => Hash64(s, litInt(seed, "seed"))
        case other => throw new IllegalArgumentException(
          s"graft_hash64 expects 1-2 arguments, got ${other.length}")
      }),
    // graft_bucket(str, seed, mod) — remainderUnsigned(hash64, mod)
    (FunctionIdentifier("graft_bucket"),
      new ExpressionInfo(classOf[Hash64].getName, "graft_bucket"),
      {
        case Seq(s, seed, mod) =>
          Hash64(s, litInt(seed, "seed"), litLong(mod, "mod"))
        case other => throw new IllegalArgumentException(
          s"graft_bucket expects 3 arguments, got ${other.length}")
      }),
    // graft_simhash64(str) — 64-bit whitespace-token SimHash signature
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      {
        case Seq(s) => SimHash64(s)
        case other => throw new IllegalArgumentException(
          s"graft_simhash64 expects 1 argument, got ${other.length}")
      }),
    // graft_format_check(str, 'format') — draft-7 format dispatch
    (FunctionIdentifier("graft_format_check"),
      new ExpressionInfo(classOf[FormatCheck].getName, "graft_format_check"),
      {
        case Seq(s, fmt) => FormatCheck(s, litStr(fmt, "format"))
        case other => throw new IllegalArgumentException(
          s"graft_format_check expects 2 arguments, got ${other.length}")
      }),
    // graft_validate(instance, schema_json) — the reference's validate
    // call: struct(valid, violations array<struct<path, keyword, message>>)
    (FunctionIdentifier("graft_validate"),
      new ExpressionInfo(classOf[ValidateJson].getName, "graft_validate"),
      {
        case Seq(inst, schema) => ValidateJson(inst, schema)
        case other => throw new IllegalArgumentException(
          s"graft_validate expects 2 arguments, got ${other.length}")
      }))

  /** Register every graft SQL function in an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}
