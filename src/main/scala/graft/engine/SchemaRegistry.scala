package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema registry: many schemas addressed by URI/name, selected per row.
  * Used when a corpus mixes document kinds (each row names its schema) —
  * the single-schema path compiles straight into the plan instead.
  * [[SchemaRegistry.compile]] compiles each source as a check, so a
  * malformed schema fails there, not when a frame is validated.
  */
final class SchemaRegistry private (val sources: Map[String, String]) {
  def names: Set[String] = sources.keySet
}

object SchemaRegistry {

  def compile(sources: Map[String, String]): SchemaRegistry = {
    // validateWith's CASE chains need at least one arm
    require(sources.nonEmpty, "a schema registry needs at least one schema")
    sources.values.foreach(SchemaDoc.schema)
    new SchemaRegistry(sources)
  }

  /** Validate each row against the schema its `schemaCol` names. Adds
    * `valid` + `errors` like [[ValidationJob.withVerdicts]], from the same
    * per-schema step (`ValidationJob.verdict`) and the same projection
    * shape: one `CASE schema_name` chain picks a row's boolean verdict and
    * a second, for failing rows only, its violation array, both inside
    * whole-stage codegen. A schema the compiler can NOT express (recursive
    * $ref, dynamic objects, content decoding) is an arm of the same chains
    * that reads the row core's verdict struct, which a third `CASE` fills
    * with `graft_validate` for that schema's rows only, once per row. So
    * one inexpressible schema does not drag the whole registry off the
    * compiled path, and compiled rows never run the row core. An unknown
    * or NULL name raises. */
  def validateWith(
      spark: SparkSession, df: DataFrame,
      registry: SchemaRegistry, schemaCol: String): DataFrame = {
    val payloadFields = df.schema.fields.filter(_.name != schemaCol)
    val payloadType = StructType(payloadFields)
    val payload = struct(payloadFields.map(f => col(f.name)).toSeq: _*)
    val arms = registry.sources.toSeq.sortBy(_._1).map { case (n, source) =>
      (col(schemaCol) === n) -> ValidationJob.verdict(
        spark, source, payload, payloadType, s"registry schema '$n'")
    }
    def dispatch(branches: Seq[(Column, Column)]): Column =
      branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (c, (t, b)) => c.when(t, b)
      }
    val rowCore = arms.flatMap { case (guard, v) => v.rowCore.map(guard -> _) }
    // an unknown or NULL name raises; `concat` with a NULL name is NULL,
    // so the message coalesces it
    val valid = dispatch(arms.map { case (guard, v) => guard -> v.valid }).otherwise(raise_error(
      concat(lit("no schema '"), coalesce(col(schemaCol), lit("null")),
        lit(s"' in registry (${registry.names.toSeq.sorted.mkString(", ")})"))))
    ValidationJob.Verdict(valid,
      () => dispatch(arms.map { case (guard, v) => guard -> v.violations() }),
      if (rowCore.isEmpty) None else Some(dispatch(rowCore))).addTo(df)
  }
}
