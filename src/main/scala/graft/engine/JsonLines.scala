package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw-JSON document sources — jinx's home turf at Spark scale. Two paths:
  *
  *  - [[validateStrings]]/[[validateFile]]: full dynamic draft-7 semantics
  *    (recursive `$ref`, patternProperties, content decoding, …) in the
  *    row core's verdict projection of [[ValidationJob]]: one native
  *    `graft_validate` per Jackson-parsed line. Works for ANY schema; no
  *    shuffle, linear in input splits. Malformed JSON lines become
  *    violations, not job failures (at 10^12 lines some WILL be malformed).
  *
  *  - [[readTyped]]: schema-on-read into a typed StructType
  *    (`spark.read.schema(...).json`) feeding the compiled Catalyst path —
  *    the fast lane when the validation schema is column-expressible.
  */
object JsonLines {

  /** Validate raw JSON strings: `lines` holds (doc number, line), by
    * position. Output: one row per input line with (doc_num, valid,
    * errors). A NULL line gives NULL `valid` and `errors`. */
  def validateStrings(spark: SparkSession, lines: Dataset[_], schemaJson: String): DataFrame =
    ValidationJob.rowCoreVerdict(col("line"), schemaJson).addTo(lines.toDF("doc_num", "line"))
      .select("doc_num", "valid", "errors")

  /** Validate a JSONL file/directory: each line one document. doc_num is a
    * unique id (monotonically increasing per partition), NOT a stable line
    * number — join back to inputs within the same job only. */
  def validateFile(spark: SparkSession, path: String, schemaJson: String): DataFrame =
    validateStrings(spark, spark.read.textFile(path)
      .select(monotonically_increasing_id(), col("value")), schemaJson)

  /** Schema-on-read into the typed doc shape for the compiled Catalyst
    * path. Lines that don't fit the struct shape surface as null columns
    * (Spark's PERMISSIVE mode), which the compiled plan then flags via
    * `required`. */
  def readTyped(spark: SparkSession, path: String, docType: StructType): DataFrame =
    spark.read.schema(docType).json(path)
}
