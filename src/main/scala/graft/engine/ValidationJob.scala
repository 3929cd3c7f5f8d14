package graft.engine

import graft.engine.expressions.{GraftFunctions, ValidateJson}
import graft.schema.SchemaDoc
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bulk document validation: per-doc verdicts, exploded violation rows, and
  * per-partition pass/fail summaries (north rule).
  *
  * The schema is compiled ONCE on the driver into a Catalyst boolean
  * ([[ColumnCompiler]]); the validation stage is a narrow projection over the
  * scan — zero shuffle, whole-stage codegen, so at 10^12 docs it scales
  * linearly with input splits. The violation rows of the docs it fails come
  * from the row core, one native `graft_validate` expression
  * ([[graft.engine.expressions.ValidateJson]]), in the same projection
  * chain; a schema that is not column-expressible is validated by the row
  * core alone. So a plan names the path its schema took: a compiled
  * verdict with `graft_validate` under `CASE WHEN valid`, or
  * `graft_validate` alone.
  */
object ValidationJob {

  /** `docs` must carry the interleaved shape (doc_id, spans) — extra columns
    * pass through. Adds `valid` + `errors`, the last two columns.
    *
    * For a compiled schema `valid` is the boolean verdict (whole-stage
    * codegen'd unless it needs a lambda — any CodegenFallback expression in
    * a projection disables codegen for the WHOLE operator), and the row
    * core runs on the rows it fails only, so valid rows pay one boolean
    * column read. `errors` is the row core's violation array, the
    * reference's violation rows whichever path the verdict takes; a row the
    * compiled verdict fails and the row core passes raises. A row-core
    * schema reads both columns from one `graft_validate` struct. The row
    * core maps the whole payload to JSON (dates and timestamps as ISO-8601
    * strings, binary as base64), so a payload field with no JSON mapping
    * (an interval) fails analysis, naming the field; `withVerdictsOnly` of
    * a compiled schema needs only the fields its verdict checks to map. */
  def withVerdicts(spark: SparkSession, docs: DataFrame, schemaJson: String): DataFrame = {
    val passthrough = docs.columns.filterNot(c => c == "errors" || c == "valid")
    payloadVerdict(docs, schemaJson).addTo(docs)
      .select((passthrough.map(col).toSeq :+ col("valid") :+ col("errors")): _*)
  }

  /** Verdict-only fast mode: adds just `valid`, the allocation-free
    * boolean plan (no row core at all for a compiled schema), for
    * monitoring-style runs that only need pass/fail rates. */
  def withVerdictsOnly(spark: SparkSession, docs: DataFrame, schemaJson: String): DataFrame =
    payloadVerdict(docs, schemaJson).validOnly(docs)

  /** Column that holds the row core's verdict struct between the
    * projection that evaluates it and the ones that read `valid` and
    * `errors` from it. */
  private val RowCoreCol = "graft_row_core"

  private val noErrors: Column = array().cast(ValidateJson.errorType)

  /** A schema's verdict over a payload: `compiled`, the boolean verdict
    * when the compiler can express the schema, and `rowCore`, the row
    * core's `graft_validate` struct, which builds the violation rows (of
    * every row for a row-core schema, else of the rows `compiled` fails).
    * `name` names the schema in errors. */
  private[graft] final case class Verdict(compiled: Option[Column], rowCore: Column, name: String) {

    /** Passes a row outright; the row core settles the rest. */
    def pass: Column = compiled.getOrElse(lit(false))

    /** A row's `valid` where `pass` fails it, from the row core's `valid`.
      * The row core must fail a row the compiled verdict fails: where it
      * passes one, the row raises, naming the schema, rather than leave
      * `valid = false` with no violation. The compiler leaves to the row
      * core what it cannot compare as the row core does (numbers a column
      * type does not hold, decimals wider than a double tells apart), and
      * the row core reads NaN and ±Infinity as huge non-integers, which no
      * `multipleOf` divides; EngineSpec holds the cases found. */
    def settle(rowCoreValid: Column): Column =
      if (compiled.isEmpty) rowCoreValid
      else when(rowCoreValid, raise_error(lit(
        s"$name: the compiled verdict fails a row that the row core passes"))).otherwise(lit(false))

    def addTo(frame: DataFrame): DataFrame = settled(frame, pass, rowCore, settle)

    /** `frame` + `valid` alone: a compiled schema runs no row core. */
    def validOnly(frame: DataFrame): DataFrame = compiled match {
      case Some(valid) => frame.withColumn("valid", valid)
      case None => frame.withColumn(RowCoreCol, rowCore)
        .withColumn("valid", col(RowCoreCol).getField("valid")).drop(RowCoreCol)
    }
  }

  /** `frame` + `valid` + `errors`. `pass` passes a row outright; for the
    * rows it fails, `rowCore` is projected once, as [[RowCoreCol]], and
    * `settle` maps its `valid` to the row's. `errors`, gated on that
    * `valid`, is its violation array. */
  private[engine] def settled(frame: DataFrame, pass: Column, rowCore: Column,
      settle: Column => Column): DataFrame = {
    val verdict = col(RowCoreCol)
    frame.withColumn("valid", pass)
      .withColumn(RowCoreCol, when(col("valid"), lit(null)).otherwise(rowCore))
      .withColumn("valid", col("valid") || settle(verdict.getField("valid")))
      .withColumn("errors", when(col("valid"), noErrors).otherwise(verdict.getField("violations")))
      .drop(RowCoreCol)
  }

  /** The row core's verdict on `instance`: a struct of payload columns, or
    * JSON text. The schema is compiled here too, so a malformed one fails
    * when the frame is built, not in every task. */
  private[engine] def rowCoreVerdict(instance: Column, schemaJson: String): Verdict = {
    SchemaDoc.schema(schemaJson)
    Verdict(None, GraftFunctions.validateJson(instance, lit(schemaJson)), "row core")
  }

  /** `schemaJson` over `payload`, a struct of the fields of `payloadType`:
    * the compiled boolean beside the row core, or, with a WARN line naming
    * the schema (`name`) and the reason, the row core alone when the
    * compiler cannot express the schema. */
  private[graft] def verdict(schemaJson: String, payload: Column, payloadType: StructType,
      name: String): Verdict = {
    val doc = SchemaDoc.schema(schemaJson)
    val compiled =
      try Some(ColumnCompiler.validity(doc, payload, payloadType))
      catch {
        case u: ColumnCompiler.Unsupported =>
          log.warn(s"$name falls back to the row core: ${u.reason}")
          None
      }
    Verdict(compiled, GraftFunctions.validateJson(payload, lit(schemaJson)), name)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The verdict over the (doc_id, spans) payload of `docs` — NOT the whole
    * row, so the compiled and row-core paths agree on object-shape
    * keywords. */
  private def payloadVerdict(docs: DataFrame, schemaJson: String): Verdict = {
    val payloadFields = docs.schema.fields.filter(f => f.name == "doc_id" || f.name == "spans")
    verdict(schemaJson, struct(payloadFields.map(f => col(f.name)).toSeq: _*),
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
