package graft.engine.expressions

import java.util.concurrent.ConcurrentHashMap

import graft.engine.RowValidator
import graft.schema.SchemaDoc
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_validate(instance, schema_json)` — the reference's two-argument
  * `validate` entry (`jinx.api/validate`, reference `api.cljc`) as a native
  * Catalyst expression, and the one way the row core (recursive `$ref`,
  * patternProperties, content keywords, …) enters a plan:
  * struct(valid boolean, violations [[ValidateJson.errorType]]), the
  * violation rows of [[RowValidator.leafErrors]]. It builds every
  * violation row the engine emits: a compiled schema's too, for the rows
  * its boolean verdict fails.
  *
  * The instance is either JSON text, parsed per row (a malformed line is
  * one `parse` violation, not an error — at 10^12 lines some WILL be
  * malformed), or a struct of payload columns, converted to a `Row` by
  * Catalyst's converter and mapped to JSON by [[RowValidator.toJVal]]. A
  * date or timestamp maps to its ISO-8601 string, binary to base64; a
  * struct field with no JSON mapping (an interval, …) fails
  * analysis, naming the field. A literal schema compiles once per
  * expression instance; a schema column goes through a bounded memo per
  * distinct schema text. A malformed schema throws: that is a caller bug,
  * identical for every row.
  *
  * The work is one call on this expression, so the surrounding projection
  * stays in whole-stage codegen. For column-expressible schemas over typed
  * tables the compiled verdict ([[graft.engine.ColumnCompiler]]) is the fast lane, and
  * this expression runs only where it fails. */
case class ValidateJson(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
    case (st: StructType, _: StringType) => RowValidator.unmappableField(st) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some((field, t)) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName cannot map payload field `$field` of type ${t.simpleString} to JSON")
    }
    case (i, s) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string or struct instance, string schema), " +
        s"got (${i.simpleString}, ${s.simpleString})")
  }

  override def dataType: DataType = ValidateJson.resultType
  override def prettyName: String = "graft_validate"
  // Marked nondeterministic so Catalyst neither copies it into a
  // pushed-down filter (`size(errors) > 0`, the `isnotnull` that
  // InferFiltersFromGenerate adds under an explode) nor collapses the
  // projection that defines it into one reading `valid` and `violations`
  // apart: the row core runs once per row.
  override lazy val deterministic: Boolean = false

  @transient private lazy val schemaOf: Any => SchemaDoc =
    if (right.foldable) {
      val doc = SchemaDoc.schema(right.eval().toString)
      _ => doc
    } else schemaJson => ValidateJson.compiled(schemaJson.toString)

  @transient private lazy val verdictOf: (SchemaDoc, Any) => (Boolean, Vector[InternalRow]) =
    left.dataType match {
      case st: StructType =>
        val toRow = CatalystTypeConverters.createToScalaConverter(st)
        (doc, inst) => RowValidator.verdict(doc, RowValidator.toJVal(toRow(inst), st))(ValidateJson.row)
      case _ =>
        (doc, inst) => RowValidator.verdictOfLine(doc, inst.toString)(ValidateJson.row)
    }

  /** struct(valid, violations) of one non-null instance and schema. */
  def validate(instance: Any, schemaJson: Any): InternalRow = {
    val (valid, violations) = verdictOf(schemaOf(schemaJson), instance)
    new GenericInternalRow(Array[Any](valid, new GenericArrayData(violations.toArray[Any])))
  }

  override protected def nullSafeEval(instance: Any, schemaJson: Any): Any =
    validate(instance, schemaJson)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("validateJson", this)
    defineCodeGen(ctx, ev, (i, s) => s"$self.validate($i, $s)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ValidateJson =
    copy(left = newLeft, right = newRight)
}

object ValidateJson {
  /** One (path, keyword, message) struct per violation row. */
  val errorType: ArrayType = ArrayType(StructType(Seq(
    StructField("path", StringType, nullable = true),
    StructField("keyword", StringType, nullable = false),
    StructField("message", StringType, nullable = false))), containsNull = false)

  val resultType: StructType = StructType(Seq(
    StructField("valid", BooleanType, nullable = false),
    StructField("violations", errorType, nullable = false)))

  private def row(path: String, keyword: String, message: String): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(path),
      UTF8String.fromString(keyword), UTF8String.fromString(message)))

  private val maxCached = 256
  private val cache = new ConcurrentHashMap[String, SchemaDoc]()

  /** A schema column's text compiled, memoized per distinct text. Beyond
    * [[maxCached]] distinct schemas new ones compile per call rather than
    * grow the map without limit. */
  private def compiled(schemaJson: String): SchemaDoc = {
    val hit = cache.get(schemaJson)
    if (hit != null) hit
    else {
      val doc = SchemaDoc.schema(schemaJson)
      if (cache.size < maxCached) cache.putIfAbsent(schemaJson, doc)
      doc
    }
  }
}
