package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Raw-JSON validation sources: dynamic row-core path over JSONL, malformed
  * lines as violations, schema-on-read typed path agreement. */
class JsonLinesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schemaJson = DocTable.docSchemaJson

  test("JSONL round trip agrees with the compiled path on the doc corpus") {
    val docs = DocTable.docs(spark, "/root/testdata/sf0.001")
    val compiled = ValidationJob.withVerdicts(spark, docs, schemaJson)
      .select(col("doc_num"), col("valid"), size(col("errors")).as("nerr"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2)))).toMap
    val lines = docs.select(col("doc_num"),
      to_json(struct(col("doc_id"), col("spans")))).as[(Long, String)]
    val viaJson = JsonLines.validateStrings(spark, lines, schemaJson)
      .select(col("doc_num"), col("valid"), size(col("errors")).as("nerr"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2)))).toMap
    assert(viaJson === compiled)
  }

  test("malformed JSON lines become parse violations, not job failures") {
    val lines = Seq(
      (0L, """{"doc_id":"doc-1","spans":[{"kind":"text","offset":0}]}"""),
      (1L, """{nope"""),
      (2L, """[1,2"""),
      (3L, "")).toDS()
    val out = JsonLines.validateStrings(spark, lines, schemaJson)
      .select(col("doc_num"), col("valid"), col("errors")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getBoolean(1))
    Seq(1L, 2L, 3L).foreach { i =>
      assert(!out(i).getBoolean(1))
      assert(out(i).getSeq[org.apache.spark.sql.Row](2).exists(_.getString(1) == "parse"))
    }
  }

  test("a malformed line gives the same parse row via JSONL and SQL graft_validate") {
    graft.engine.expressions.GraftExtensions.register(spark)
    val line = """{"doc_id": "doc-1", "spans": [tru"""
    val viaJsonl = JsonLines.validateStrings(spark, Seq((0L, line)).toDS(), schemaJson)
      .select(col("valid"), col("errors")).collect()(0)
    val viaSql = Seq((line, schemaJson)).toDF("line", "schema")
      .selectExpr("graft_validate(line, schema) AS v").select("v.valid", "v.violations")
      .collect()(0)
    def rows(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](1).map(v => (v.getString(0), v.getString(1), v.getString(2)))
    assert(!viaJsonl.getBoolean(0) && !viaSql.getBoolean(0))
    assert(rows(viaJsonl).size === 1 && rows(viaJsonl).head._2 === "parse")
    assert(rows(viaJsonl).head._3.startsWith("Malformed JSON: "))
    assert(rows(viaSql) === rows(viaJsonl))
  }

  test("dynamic schemas unsupported by the column path work on the JSONL path") {
    // recursive meta-schema $ref: column compiler can't express it
    val lines = Seq(
      (0L, """{"type":"string"}"""),
      (1L, """{"type": 12}""")).toDS()
    val out = JsonLines.validateStrings(spark, lines,
      """{"$ref":"http://json-schema.org/draft-07/schema#"}""")
      .select("doc_num", "valid").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out === Map(0L -> true, 1L -> false))
  }

  test("validateFile + readTyped both work over a written JSONL file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val docs = DocTable.docs(spark, "/root/testdata/sf0.001")
    docs.select(to_json(struct(col("doc_id"), col("spans"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(dir)
    val dynamic = JsonLines.validateFile(spark, dir, schemaJson)
    assert(dynamic.count() === docs.count())
    val failsDyn = dynamic.where(!col("valid")).count()
    // typed schema-on-read into the compiled path
    val docType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("spans",
        org.apache.spark.sql.types.ArrayType(DocTable.spanType))))
    val typed = ValidationJob.withVerdicts(spark,
      JsonLines.readTyped(spark, dir, docType), schemaJson)
    assert(typed.where(!col("valid")).count() === failsDyn)
  }
}
