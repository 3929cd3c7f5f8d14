package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
    * `valid` + `errors` like [[ValidationJob.withVerdicts]].
    *
    * Hybrid per-schema dispatch: every column-expressible schema compiles
    * into a CASE chain of Catalyst plans — whole-stage codegen, no per-row
    * interpretation, no JVal allocation; at 10^12 rows this is the only
    * acceptable shape. Rows naming a schema the compiler can NOT express
    * (recursive $ref, dynamic objects, content decoding) are routed — and
    * ONLY those rows — to the broadcast row core; one inexpressible schema
    * no longer drags the whole registry off the compiled path. */
  def validateWith(
      spark: SparkSession, df: DataFrame,
      registry: SchemaRegistry, schemaCol: String): DataFrame = {
    val payloadFields = df.schema.fields.filter(_.name != schemaCol)
    val payloadType = StructType(payloadFields)
    val payload = struct(payloadFields.map(f => col(f.name)).toSeq: _*)
    val compiled: Seq[(String, org.apache.spark.sql.Column)] =
      registry.schemas.toSeq.sortBy(_._1).flatMap { case (n, doc) =>
        try Some(n -> ColumnCompiler.errors(doc, payload, payloadType))
        catch { case _: ColumnCompiler.Unsupported => None }
      }
    val rowCoreNames = registry.names -- compiled.map(_._1).toSet
    compiled match {
      case Seq() => rowCoreValidateWith(spark, df, registry, schemaCol)
      case (n0, p0) +: rest =>
        val compiledNames = compiled.map(_._1)
        // unknown schema name raises, mirroring the row path's lookup error
        val chain = rest.foldLeft(when(col(schemaCol) === n0, p0)) {
          case (acc, (n, p)) => acc.when(col(schemaCol) === n, p)
        }.otherwise(raise_error(concat(
          lit("no schema '"), col(schemaCol),
          lit(s"' in registry (${registry.names.toSeq.sorted.mkString(", ")})"))))
        // filter BEFORE the projection so the CASE chain (and its
        // raise_error otherwise-branch) never evaluates on row-core rows
        val columnarInput =
          if (rowCoreNames.isEmpty) df
          else df.where(col(schemaCol).isin(compiledNames: _*))
        val columnar = columnarInput.withColumn("valid", lit(true))
          .withColumn("errors", chain)
          .withColumn("valid", size(col("errors")) === 0)
        if (rowCoreNames.isEmpty) columnar
        else
          // both branches emit (…, valid, errors); unknown names route to
          // the row core, whose registry lookup raises the same error the
          // CASE chain's otherwise would. NULL schema names must ALSO fall
          // through to the row core: `isin` evaluates to NULL for them, so
          // a bare not(isin(...)) would silently drop the row from both
          // branches — coalesce the predicate so NULL routes to the row
          // core's lookup error instead of vanishing.
          columnar.unionByName(rowCoreValidateWith(spark,
            df.where(not(coalesce(
              col(schemaCol).isin(compiledNames: _*), lit(false)))),
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
