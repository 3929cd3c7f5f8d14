package graft.engine.expressions

import java.util.concurrent.ConcurrentHashMap

import graft.engine.RowValidator
import graft.schema.SchemaDoc
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Generated-code-callable bridge for [[ValidateJson]]: full dynamic draft-7
  * validation (the row core — recursive `$ref`, patternProperties, content
  * keywords, …) of one JSON instance string against one JSON schema string,
  * mirroring the reference's two-argument `validate` entry
  * (`jinx.api/validate`, reference `api.cljc`). Compiled schemas are
  * memoized per schema text — the expected call shape is a literal schema
  * over millions of rows, so each executor pays one compile per distinct
  * schema. The memo is bounded: beyond [[maxCached]] distinct schemas new
  * ones compile per call rather than grow the map without limit. */
object ValidateJsonBridge {
  private val maxCached = 256
  private val cache = new ConcurrentHashMap[String, SchemaDoc]()

  private def compiled(schemaJson: String): SchemaDoc = {
    val hit = cache.get(schemaJson)
    if (hit != null) hit
    else {
      val doc = SchemaDoc.schema(schemaJson)
      if (cache.size < maxCached) cache.putIfAbsent(schemaJson, doc)
      doc
    }
  }

  /** Returns struct(valid, violations). Malformed instance JSON is a
    * violation row (keyword `parse`), not an error — at 10^12 documents
    * some lines WILL be malformed and a throwing expression would kill the
    * whole job for one bad row. A malformed SCHEMA does throw: that is a
    * caller bug, identical for every row. */
  def validate(instance: UTF8String, schemaJson: UTF8String): InternalRow = {
    val (valid, viols) = RowValidator.verdictOfLine(
      compiled(schemaJson.toString), instance.toString) { (p, k, m) =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(p), UTF8String.fromString(k), UTF8String.fromString(m)))
    }
    new GenericInternalRow(Array[Any](valid, new GenericArrayData(viols.toArray[Any])))
  }
}

/** `graft_validate(instance_json, schema_json)` — the reference's
  * `validate` call as a native Catalyst expression:
  * struct(valid boolean, violations array<struct<path, keyword, message>>).
  * The heavy lifting is one static call (schema compile memoized), so the
  * expression stays inside whole-stage codegen rather than forcing the
  * surrounding projection into interpreted mode. For column-expressible
  * schemas over typed tables the compiled plan
  * ([[graft.engine.ColumnCompiler]]) is still the fast lane — this is the
  * any-schema escape hatch with a SQL spelling. */
case class ValidateJson(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string instance, string schema), " +
        s"got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = StructType(Seq(
    StructField("valid", BooleanType, nullable = false),
    StructField("violations", ArrayType(StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("keyword", StringType, nullable = false),
      StructField("message", StringType, nullable = false))), containsNull = false),
      nullable = false)))

  override def prettyName: String = "graft_validate"

  override protected def nullSafeEval(inst: Any, schema: Any): Any =
    ValidateJsonBridge.validate(
      inst.asInstanceOf[UTF8String], schema.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (i, s) =>
      s"graft.engine.expressions.ValidateJsonBridge.validate($i, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ValidateJson =
    copy(left = newLeft, right = newRight)
}
