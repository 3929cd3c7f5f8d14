package graft.engine

import graft.engine.expressions.ViolationsOf
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
  * linearly with input splits. Falls back to the broadcast row-level core
  * ([[RowValidator]]) only when the schema is not column-expressible.
  */
object ValidationJob {

  /** `docs` must carry the interleaved shape (doc_id, spans) — extra columns
    * pass through. Adds `valid` + `errors`.
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
    * RandomSchemaSpec still check it row by row. */
  def withVerdicts(spark: SparkSession, docs: DataFrame, schemaJson: String): DataFrame =
    compiledOrRowCore(spark, docs, schemaJson, keepErrors = true) { (valid, violations) =>
      val passthrough = docs.columns.filterNot(c => c == "errors" || c == "valid")
      // (passthrough…, valid, errors) — same column ORDER as the RowValidator
      // fallback, so positional consumers (and parquet written from a mix of
      // both paths) see one schema regardless of column-expressibility
      docs.withColumn("valid", valid)
        .withColumn("errors", when(col("valid"), ColumnCompiler.noErrors).otherwise(violations()))
        .select((passthrough.map(col).toSeq :+ col("valid") :+ col("errors")): _*)
    }

  /** Verdict-only fast mode: adds just `valid` via the allocation-free
    * boolean plan (no error construction at all), for monitoring-style runs
    * that only need pass/fail rates. */
  def withVerdictsOnly(spark: SparkSession, docs: DataFrame, schemaJson: String): DataFrame =
    compiledOrRowCore(spark, docs, schemaJson, keepErrors = false) { (valid, _) =>
      docs.withColumn("valid", valid)
    }

  /** `doc` compiled over `payload`, a struct of the fields of `payloadType`:
    * the boolean verdict, and a builder (driver-side analysis on each call,
    * so verdict-only callers skip it) of the violation array inside
    * [[ViolationsOf]], meant for failing rows only. None, with a WARN line
    * naming the schema (`name`) and the reason, when the compiler cannot
    * express the schema: the caller validates on the row core. */
  private[graft] def compiled(spark: SparkSession, doc: SchemaDoc, payload: Column,
      payloadType: StructType, name: String): Option[(Column, () => Column)] =
    try {
      val (valid, errors) = ColumnCompiler.lowerings(doc, payload, payloadType)
      Some((valid, () => ViolationsOf.over(spark, payload, payloadType, errors())))
    } catch {
      case u: ColumnCompiler.Unsupported =>
        log.warn(s"$name falls back to the row core: ${u.reason}")
        None
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Runs `columnar` on the schema compiled over the (doc_id, spans)
    * payload. A schema the Column compiler cannot express falls back to the
    * row core over the same payload fields — NOT the whole row — so the two
    * paths agree on object-shape keywords; `keepErrors = false` drops its
    * `errors` column. */
  private def compiledOrRowCore(
      spark: SparkSession, docs: DataFrame, schemaJson: String, keepErrors: Boolean)(
      columnar: (Column, () => Column) => DataFrame): DataFrame = {
    val payloadFields = docs.schema.fields.filter(f => f.name == "doc_id" || f.name == "spans")
    val payloadType = StructType(payloadFields)
    val payload = struct(payloadFields.map(f => col(f.name)).toSeq: _*)
    compiled(spark, SchemaDoc.schema(schemaJson), payload, payloadType, "schema") match {
      case Some((valid, violations)) => columnar(valid, violations)
      case None =>
        val rows = RowValidator.validateRows(spark, docs, schemaJson,
          Some(payloadFields.map(_.name).toSeq))
        if (keepErrors) rows else rows.drop("errors")
    }
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
