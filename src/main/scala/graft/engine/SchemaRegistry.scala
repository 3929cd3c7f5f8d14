package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Precompiled schema registry, broadcast to executors (north rule): many
  * schemas compiled ONCE on the driver, addressed by URI/name, selected per
  * row. Used when a corpus mixes document kinds (each row names its schema)
  * — the single-schema path compiles straight into the plan instead.
  *
  * All contained [[SchemaDoc]]s are immutable ⇒ the registry broadcasts as
  * one torrent block and every executor validates against local memory.
  */
final class SchemaRegistry private (val schemas: Map[String, SchemaDoc])
    extends Serializable {
  def apply(name: String): SchemaDoc =
    schemas.getOrElse(name,
      throw new NoSuchElementException(s"no schema '$name' in registry (${schemas.keys.mkString(", ")})"))
  def names: Set[String] = schemas.keySet
}

object SchemaRegistry {

  def compile(sources: Map[String, String]): SchemaRegistry =
    new SchemaRegistry(sources.map { case (k, v) => k -> SchemaDoc.schema(v) })

  /** Validate each row against the schema its `schemaCol` names. Adds
    * `valid` + `errors` like [[ValidationJob.withVerdicts]], from the same
    * compiled step (`ValidationJob.compiled`): two `CASE schema_name` chains
    * pick a row's boolean verdict and, for failing rows only, its violation
    * array, both inside whole-stage codegen. Rows naming a schema the
    * compiler can NOT express (recursive $ref, dynamic objects, content
    * decoding) are routed — and ONLY those rows — to the broadcast row core,
    * so one inexpressible schema does not drag the whole registry off the
    * compiled path. */
  def validateWith(
      spark: SparkSession, df: DataFrame,
      registry: SchemaRegistry, schemaCol: String): DataFrame = {
    val payloadFields = df.schema.fields.filter(_.name != schemaCol)
    val payloadType = StructType(payloadFields)
    val payload = struct(payloadFields.map(f => col(f.name)).toSeq: _*)
    // (name, verdict, violations) per compiled schema
    val compiled = registry.schemas.toSeq.sortBy(_._1).flatMap { case (n, doc) =>
      ValidationJob.compiled(spark, doc, payload, payloadType, s"registry schema '$n'")
        .map { case (valid, violations) => (n, valid, violations) }
    }
    val compiledNames = compiled.map(_._1)
    if (compiled.isEmpty) rowCoreValidateWith(spark, df, registry, schemaCol)
    else {
      def dispatch(branches: Seq[Column]): Column = {
        val arms = compiledNames.zip(branches).map { case (n, b) => (col(schemaCol) === n, b) }
        arms.tail.foldLeft(when(arms.head._1, arms.head._2)) { case (c, (t, b)) => c.when(t, b) }
      }
      // an unknown or NULL name raises, like the row core's registry lookup
      val valid = dispatch(compiled.map(_._2)).otherwise(raise_error(concat(
        lit("no schema '"), coalesce(col(schemaCol), lit("null")),
        lit(s"' in registry (${registry.names.toSeq.sorted.mkString(", ")})"))))
      val allCompiled = compiledNames.size == registry.names.size
      // filter BEFORE the projection so the CASE chains (and the
      // raise_error otherwise-branch) never evaluate on row-core rows
      val columnar = (if (allCompiled) df else df.where(col(schemaCol).isin(compiledNames: _*)))
        .withColumn("valid", valid)
        .withColumn("errors", when(col("valid"), ColumnCompiler.noErrors)
          .otherwise(dispatch(compiled.map(_._3()))))
      if (allCompiled) columnar
      else
        // both branches emit (…, valid, errors). `isin` is NULL for a NULL
        // name, so the coalesce routes such rows to the row core's lookup
        // error instead of dropping them from both branches.
        columnar.unionByName(rowCoreValidateWith(spark,
          df.where(not(coalesce(col(schemaCol).isin(compiledNames: _*), lit(false)))),
          registry, schemaCol))
    }
  }

  /** Broadcast row-core dispatch (fallback path; also the differential-test
    * reference for the compiled CASE dispatch). */
  private[engine] def rowCoreValidateWith(
      spark: SparkSession, df: DataFrame,
      registry: SchemaRegistry, schemaCol: String): DataFrame = {
    val bc: Broadcast[SchemaRegistry] = spark.sparkContext.broadcast(registry)
    val schema = df.schema
    val schemaIdx = schema.fieldIndex(schemaCol)
    val payloadIdx = schema.fields.zipWithIndex
      .filter { case (f, _) => f.name != schemaCol }.map(_._2).toIndexedSeq
    val payloadSchema = StructType(payloadIdx.map(schema.fields(_)))
    RowValidator.withRowVerdicts(df, bc) { (reg, row) =>
      (reg(row.getString(schemaIdx)),
        RowValidator.toJVal(Row.fromSeq(payloadIdx.map(row.get)), payloadSchema))
    }
  }
}
