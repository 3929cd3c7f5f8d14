package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw-JSON document sources — jinx's home turf at Spark scale. Two paths:
  *
  *  - [[validateStrings]]/[[validateFile]]: full dynamic draft-7 semantics
  *    (recursive `$ref`, patternProperties, content decoding, …) via the
  *    broadcast row core over Jackson-parsed lines. Works for ANY schema;
  *    a narrow mapPartitions, no shuffle, linear in input splits. Malformed
  *    JSON lines become violations, not job failures (at 10^12 lines some
  *    WILL be malformed).
  *
  *  - [[readTyped]]: schema-on-read into a typed StructType
  *    (`spark.read.schema(...).json`) feeding the compiled Catalyst path —
  *    the fast lane when the validation schema is column-expressible.
  */
object JsonLines {

  /** Validate a dataset of raw JSON strings. Output: one row per input line
    * with (doc_num, valid, errors). */
  def validateStrings(
      spark: SparkSession, lines: Dataset[(Long, String)],
      schemaJson: String): DataFrame = {
    val bc: Broadcast[SchemaDoc] =
      spark.sparkContext.broadcast(SchemaDoc.schema(schemaJson))
    val outSchema = StructType(Seq(
      StructField("doc_num", LongType, nullable = false),
      StructField("valid", BooleanType, nullable = false),
      StructField("errors", ColumnCompiler.errorType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    lines.mapPartitions { iter =>
      val compiled = bc.value
      iter.map { case (num, line) =>
        val (valid, errRows) = RowValidator.verdictOfLine(compiled, line)(Row(_, _, _))
        Row(num, valid, errRows)
      }
    }(enc)
  }

  /** Validate a JSONL file/directory: each line one document. doc_num is a
    * unique id (monotonically increasing per partition), NOT a stable line
    * number — join back to inputs within the same job only. */
  def validateFile(spark: SparkSession, path: String, schemaJson: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.textFile(path)
      .withColumn("doc_num", monotonically_increasing_id())
      .select(col("doc_num"), col("value"))
      .as[(Long, String)]
    validateStrings(spark, lines, schemaJson)
  }

  /** Schema-on-read into the typed doc shape for the compiled Catalyst
    * path. Lines that don't fit the struct shape surface as null columns
    * (Spark's PERMISSIVE mode), which the compiled plan then flags via
    * `required`. */
  def readTyped(spark: SparkSession, path: String, docType: StructType): DataFrame =
    spark.read.schema(docType).json(path)
}
