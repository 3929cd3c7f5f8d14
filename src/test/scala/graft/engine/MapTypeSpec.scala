package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic JSON objects as MapType columns: the column compiler's
  * map-specific plans (required / properties / patternProperties /
  * additionalProperties / propertyNames / min-maxProperties / dependencies)
  * must agree with the row-level core on every row. */
class MapTypeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schemaJson =
    """{
      |  "type": "object",
      |  "required": ["props"],
      |  "properties": {
      |    "props": {
      |      "type": "object",
      |      "required": ["name"],
      |      "minProperties": 1,
      |      "maxProperties": 4,
      |      "properties": {"name": {"type": "string", "minLength": 2}},
      |      "patternProperties": {"^num_": {"pattern": "^[0-9]+$"}},
      |      "additionalProperties": {"maxLength": 5},
      |      "propertyNames": {"pattern": "^[a-z_]+$"},
      |      "dependencies": {"tag": ["num_b"]}
      |    }
      |  }
      |}""".stripMargin

  private val dfSchema = StructType(Seq(
    StructField("doc_num", LongType, nullable = false),
    StructField("props", MapType(StringType, StringType, valueContainsNull = true))))

  private def m(kv: (String, String)*): Map[String, String] = kv.toMap

  private val rows = Seq(
    Row(0L, m("name" -> "alice", "num_a" -> "123")),          // valid
    Row(1L, m("name" -> "a")),                                 // minLength fail
    Row(2L, m("num_a" -> "123")),                              // required name missing
    Row(3L, m("name" -> "bob", "num_a" -> "12x")),             // patternProperties fail
    Row(4L, m("name" -> "bob", "extra" -> "toolongvalue")),    // additionalProperties fail
    Row(5L, m("name" -> "bob", "BAD" -> "x")),                 // propertyNames fail
    Row(6L, m()),                                              // minProperties fail + required
    Row(7L, m("name" -> "bob", "a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4")), // maxProperties
    Row(8L, null),                                             // required props missing
    Row(9L, m("name" -> "ok", "num_b" -> "42", "tag" -> "tiny")), // valid
    Row(10L, m("name" -> "ok", "tag" -> "tiny"))                 // dependencies fail
  )

  test("map-typed dynamic objects: column plan agrees with row core on all cases") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), dfSchema)
    val payloadType = StructType(dfSchema.fields.filter(_.name == "props"))
    val payload = struct(col("props"))
    val doc = SchemaDoc.schema(schemaJson)
    val colPath = df.select(col("doc_num"),
      ColumnCompiler.validity(doc, payload, payloadType).as("fast"))
    val rowPath = RowValidator.validateRows(spark, df, schemaJson)
      .select(col("doc_num"), col("valid").as("rowValid"))
    val joined = colPath.join(rowPath, "doc_num").orderBy("doc_num").collect()
    joined.foreach { r =>
      assert(r.getBoolean(1) === r.getBoolean(2), s"column vs row core at doc ${r.getLong(0)}")
    }
    val verdicts = joined.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts === Map(0L -> true, 1L -> false, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false, 7L -> false, 8L -> false, 9L -> true,
      10L -> false))
  }

  test("violation rows carry dynamic map keys in paths") {
    // withVerdicts validates the (doc_id, spans) payload: the map as `spans`
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), dfSchema)
      .withColumnRenamed("props", "spans")
    val viols = ValidationJob.violations(ValidationJob.withVerdicts(spark,
        df.where(col("doc_num") === 3).withColumn("doc_id", lit("doc-3")),
        schemaJson.replace("props", "spans")))
      .select("path", "keyword").collect()
    assert(viols.exists(r => r.getString(0) == "/spans/num_a" && r.getString(1) == "pattern"),
      viols.mkString(","))
  }
}
