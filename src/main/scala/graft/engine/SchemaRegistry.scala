package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.sql.{Column, DataFrame}
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
    * chain: one `CASE schema_name` picks a row's compiled verdict (`false`
    * for a schema the compiler can NOT express: recursive $ref, dynamic
    * objects, content decoding), and for the rows it fails a second `CASE`
    * runs that schema's row core, `graft_validate`, once per row. Both
    * `valid` and `errors` read that one struct. So one inexpressible schema
    * does not drag the whole registry off the compiled path, and compiled
    * rows run the row core only when their verdict fails. An unknown or
    * NULL name raises. */
  def validateWith(df: DataFrame, registry: SchemaRegistry, schemaCol: String): DataFrame = {
    val payloadFields = df.schema.fields.filter(_.name != schemaCol)
    val payloadType = StructType(payloadFields)
    val payload = struct(payloadFields.map(f => col(f.name)).toSeq: _*)
    val arms = registry.sources.toSeq.sortBy(_._1).map { case (n, source) =>
      (col(schemaCol) === n) -> ValidationJob.verdict(
        source, payload, payloadType, s"registry schema '$n'")
    }
    def dispatch(branch: ValidationJob.Verdict => Column): Column =
      arms.tail.foldLeft(when(arms.head._1, branch(arms.head._2))) {
        case (c, (guard, v)) => c.when(guard, branch(v))
      }
    // an unknown or NULL name raises; `concat` with a NULL name is NULL,
    // so the message coalesces it
    val pass = dispatch(_.pass).otherwise(raise_error(
      concat(lit("no schema '"), coalesce(col(schemaCol), lit("null")),
        lit(s"' in registry (${registry.names.toSeq.sorted.mkString(", ")})"))))
    ValidationJob.settled(df, pass, dispatch(_.rowCore), valid => dispatch(_.settle(valid)))
  }
}
