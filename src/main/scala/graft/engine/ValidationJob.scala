package graft.engine

import graft.engine.expressions.{GraftFunctions, ViolationsOf}
import graft.schema.SchemaDoc
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bulk document validation: per-doc verdicts, exploded violation rows, and
  * per-partition pass/fail summaries (north rule).
  *
  * The schema is compiled ONCE on the driver into Catalyst expressions
  * ([[ColumnCompiler]]); the validation stage is a narrow projection over the
  * scan — zero shuffle, whole-stage codegen, so at 10^12 docs it scales
  * linearly with input splits. A schema that is not column-expressible is
  * validated by the row core inside the same projection shape, as one
  * native `graft_validate` expression
  * ([[graft.engine.expressions.ValidateJson]]). A plan names the path its
  * schema took: `graft_violations` beside the compiled verdict, or
  * `graft_validate` for the row core.
  */
object ValidationJob {

  /** `docs` must carry the interleaved shape (doc_id, spans) — extra columns
    * pass through. Adds `valid` + `errors`, the last two columns.
    *
    * Two-projection shape: `valid` comes from the boolean lowering
    * (whole-stage codegen'd unless it needs a lambda — any CodegenFallback
    * expression in a projection disables codegen for the WHOLE operator),
    * and `errors` is a second thin projection gated on the precomputed
    * boolean, so valid rows pay one boolean column read and failing rows do
    * not evaluate the boolean plan again. The error lowering needs
    * per-element lambdas for paths and messages, so it runs interpreted
    * inside the native [[graft.engine.expressions.ViolationsOf]], which
    * keeps the `errors` projection in generated code and is evaluated for
    * failing rows only. Both columns are lowerings of one compiled plan, so valid ⟺ errors is
    * empty holds by construction; EngineSpec, MapTypeSpec and
    * RandomSchemaSpec still check it row by row. A row-core schema reads
    * both columns from one `graft_validate` struct. */
  def withVerdicts(spark: SparkSession, docs: DataFrame, schemaJson: String): DataFrame = {
    val passthrough = docs.columns.filterNot(c => c == "errors" || c == "valid")
    payloadVerdict(spark, docs, schemaJson).addTo(docs)
      .select((passthrough.map(col).toSeq :+ col("valid") :+ col("errors")): _*)
  }

  /** Verdict-only fast mode: adds just `valid` via the allocation-free
    * boolean plan (no error construction at all), for monitoring-style runs
    * that only need pass/fail rates. */
  def withVerdictsOnly(spark: SparkSession, docs: DataFrame, schemaJson: String): DataFrame = {
    val verdict = payloadVerdict(spark, docs, schemaJson)
    verdict.over(docs)(_.withColumn("valid", verdict.valid))
  }

  /** Column that holds the row core's verdict struct between the
    * projection that evaluates it and the one that reads `valid` and
    * `errors` from it. */
  private val RowCoreCol = "graft_row_core"

  /** A schema's verdict over a payload: `valid`, and a builder of the
    * violation array meant for failing rows only. For a row-core schema
    * both read [[RowCoreCol]], which `rowCore` (the `graft_validate`
    * struct) fills in a projection of its own. */
  private[graft] final case class Verdict(
      valid: Column, violations: () => Column, rowCore: Option[Column]) {

    /** `add` over `frame`, with the row-core struct projected before it
      * and dropped after. */
    def over(frame: DataFrame)(add: DataFrame => DataFrame): DataFrame = rowCore match {
      case None => add(frame)
      case Some(v) => add(frame.withColumn(RowCoreCol, v)).drop(RowCoreCol)
    }

    /** `frame` + `valid` + `errors`, `errors` gated on the projected
      * `valid`. */
    def addTo(frame: DataFrame): DataFrame = over(frame)(_.withColumn("valid", valid)
      .withColumn("errors", when(col("valid"), ColumnCompiler.noErrors).otherwise(violations())))
  }

  /** The row core's verdict on `instance`: a struct of payload columns, or
    * JSON text. The schema is compiled here too, so a malformed one fails
    * when the frame is built, not in every task. */
  private[engine] def rowCoreVerdict(instance: Column, schemaJson: String): Verdict = {
    SchemaDoc.schema(schemaJson)
    val verdictStruct = col(RowCoreCol)
    Verdict(verdictStruct.getField("valid"), () => verdictStruct.getField("violations"),
      Some(GraftFunctions.validateJson(instance, lit(schemaJson))))
  }

  /** `schemaJson` over `payload`, a struct of the fields of `payloadType`:
    * compiled, with the violation array built (driver-side analysis on
    * each call, so verdict-only callers skip it) inside [[ViolationsOf]];
    * or, with a WARN line naming the schema (`name`) and the reason, the
    * row core's when the compiler cannot express the schema. */
  private[graft] def verdict(spark: SparkSession, schemaJson: String, payload: Column,
      payloadType: StructType, name: String): Verdict =
    try {
      val (valid, errors) = ColumnCompiler.lowerings(SchemaDoc.schema(schemaJson), payload, payloadType)
      Verdict(valid, () => ViolationsOf.over(spark, payload, payloadType, errors()), None)
    } catch {
      case u: ColumnCompiler.Unsupported =>
        log.warn(s"$name falls back to the row core: ${u.reason}")
        rowCoreVerdict(payload, schemaJson)
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The verdict over the (doc_id, spans) payload of `docs` — NOT the whole
    * row, so the compiled and row-core paths agree on object-shape
    * keywords. */
  private def payloadVerdict(spark: SparkSession, docs: DataFrame, schemaJson: String): Verdict = {
    val payloadFields = docs.schema.fields.filter(f => f.name == "doc_id" || f.name == "spans")
    verdict(spark, schemaJson, struct(payloadFields.map(f => col(f.name)).toSeq: _*),
      StructType(payloadFields), "schema")
  }

  /** One row per violation: (doc_num, doc_id, path, keyword, message). */
  def violations(verdicts: DataFrame): DataFrame =
    verdicts
      .where(size(col("errors")) > 0)
      .select(col("doc_num"), col("doc_id"), explode(col("errors")).as("v"))
      .select(
        col("doc_num"), col("doc_id"),
        col("v.path").as("path"),
        col("v.keyword").as("keyword"),
        col("v.message").as("message"))

  /** Per-partition pass/fail verdicts. `partitionExpr` must be deterministic
    * (e.g. a hash/modulo of the key) so results are reproducible across runs
    * and cluster sizes — `spark_partition_id()` is not. */
  def partitionVerdicts(verdicts: DataFrame, partitionExpr: Column, nPartitions: Int): DataFrame =
    verdicts
      .groupBy((partitionExpr % nPartitions).cast(IntegerType).as("partition"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("pass_count"),
        sum(when(col("valid"), 0L).otherwise(1L)).as("fail_count"),
        sum(size(col("errors")).cast(LongType)).as("violation_count"))

  /** Per-row span-sequence invariant vs a reference frame (BASELINE.json
    * input_hint): order-sensitive equality of (kind, text, media_ref) by
    * position. Compares two doc frames and returns rows that differ. */
  def spanMismatches(a: DataFrame, b: DataFrame): DataFrame = {
    def key(df: DataFrame, tag: String) =
      df.select(col("doc_num"),
        to_json(col("spans")).as(s"spans_$tag"))
    key(a, "a").join(key(b, "b"), Seq("doc_num"), "full_outer")
      .where(not(col("spans_a") <=> col("spans_b")))
  }
}
