package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Broadcast schema registry: per-row schema dispatch over a mixed corpus. */
class SchemaRegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val registry = SchemaRegistry.compile(Map(
    "short-text" -> """{"properties":{"payload":{"type":"string","maxLength":5}},"required":["payload"]}""",
    "number" -> """{"properties":{"payload":{"pattern":"^[0-9]+$"}},"required":["payload"]}"""))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("schema_name", StringType, nullable = false),
    StructField("payload", StringType, nullable = true)))

  private val rows = Seq(
    Row(0L, "short-text", "hi"),       // valid
    Row(1L, "short-text", "toolongx"), // maxLength fail
    Row(2L, "number", "12345678"),     // valid (no maxLength in this schema)
    Row(3L, "number", "12a"),          // pattern fail
    Row(4L, "short-text", null))       // required fail (null = absent)

  test("rows dispatch to their named schema via the broadcast registry") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = SchemaRegistry.validateWith(spark, df, registry, "schema_name")
      .select("id", "valid").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out === Map(0L -> true, 1L -> false, 2L -> true, 3L -> false, 4L -> false))
  }

  test("unknown schema name fails loudly") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L, "nope", "x")), 1), schema)
    val e = intercept[Throwable] {
      SchemaRegistry.validateWith(spark, df, registry, "schema_name").collect()
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("no schema 'nope'")) || mentions(t.getCause))
    assert(mentions(e))
  }

  /** Per-row `(id, valid)`, and the sorted `(id, path, keyword, message)`
    * violation rows. */
  private def outcome(verdicts: DataFrame) = {
    val rows = verdicts.collect()
    (rows.map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("valid"))).sortBy(_._1).toSeq,
      rows.flatMap(r => r.getSeq[Row](r.fieldIndex("errors")).map(v => (r.getAs[Long]("id"),
        v.getAs[String]("path"), v.getAs[String]("keyword"), v.getAs[String]("message"))))
        .sorted.toSeq)
  }

  test("compiled CASE dispatch agrees with the broadcast row core (differential)") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val compiled = outcome(SchemaRegistry.validateWith(spark, df, registry, "schema_name"))
    val rowCore = outcome(SchemaRegistry.rowCoreValidateWith(spark, df, registry, "schema_name"))
    assert(compiled === rowCore)
    assert(compiled._2.map(_._1).distinct === Seq(1L, 3L, 4L))
    // and the compiled path really is the one validateWith picked: its plan
    // must contain no mapPartitions (DeserializeToObject) node
    val plan = SchemaRegistry.validateWith(spark, df, registry, "schema_name")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("DeserializeToObject"), s"expected compiled dispatch, got:\n$plan")
  }

  test("registry with a column-inexpressible schema still validates every row") {
    val reg = SchemaRegistry.compile(Map(
      "short-text" -> """{"properties":{"payload":{"type":"string","maxLength":5}},"required":["payload"]}""",
      // recursive $ref is not column-expressible → routed to the row core
      "meta" -> """{"$ref":"http://json-schema.org/draft-07/schema#"}"""))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, "short-text", "hi"), Row(1L, "meta", "x")), 1), schema)
    val out = SchemaRegistry.validateWith(spark, df, reg, "schema_name")
      .select("id", "valid").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(0L))
  }

  test("hybrid dispatch: columnar schemas stay compiled beside a row-core schema") {
    val reg = SchemaRegistry.compile(Map(
      "short-text" -> """{"properties":{"payload":{"type":"string","maxLength":5}},"required":["payload"]}""",
      "number" -> """{"properties":{"payload":{"pattern":"^[0-9]+$"}},"required":["payload"]}""",
      // recursive $ref — the ONLY schema that needs the row core
      "meta" -> """{"$ref":"http://json-schema.org/draft-07/schema#"}"""))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, "short-text", "hi"), Row(1L, "short-text", "toolongx"),
      Row(2L, "number", "12345678"), Row(3L, "number", "12a"),
      Row(4L, "short-text", null), Row(5L, "meta", "x")), 2), schema)
    val out = SchemaRegistry.validateWith(spark, df, reg, "schema_name")
    // differential: hybrid ≡ all-rows row core
    val got = outcome(out)
    assert(got === outcome(SchemaRegistry.rowCoreValidateWith(spark, df, reg, "schema_name")))
    assert(got._1.map(_._1) === (0L to 5L))
    // plan: a union of exactly ONE row-core branch (DeserializeToObject) and
    // a columnar branch whose CASE dispatch stays compiled — the
    // inexpressible schema must not drag the whole registry off the
    // compiled path
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("Union"), plan)
    assert("DeserializeToObject".r.findAllIn(plan).length === 1, plan)
    assert(plan.toLowerCase.contains("case when"), plan)
  }

  test("hybrid dispatch: NULL schema name fails loudly instead of silently dropping the row") {
    // `isin` evaluates to NULL for a NULL schema name, so both branch
    // filters would discard the row without the coalesce routing — the row
    // must instead reach the row core and raise its lookup error
    val nullableSchema = StructType(schema.fields.map(f =>
      if (f.name == "schema_name") f.copy(nullable = true) else f))
    val hybrid = SchemaRegistry.compile(Map(
      "short-text" -> """{"properties":{"payload":{"type":"string","maxLength":5}},"required":["payload"]}""",
      "meta" -> """{"$ref":"http://json-schema.org/draft-07/schema#"}"""))
    // with every schema compiled the CASE chain raises instead; `concat`
    // with a NULL name is NULL, so the message must coalesce the name
    Seq(hybrid -> Seq(Row(0L, "short-text", "hi"), Row(1L, null, "x"), Row(2L, "meta", "x")),
      registry -> Seq(Row(0L, "short-text", "hi"), Row(1L, null, "x"))).foreach { case (reg, input) =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(input, 1), nullableSchema)
      val e = intercept[Throwable] {
        SchemaRegistry.validateWith(spark, df, reg, "schema_name").collect()
      }
      def mentions(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("no schema 'null'")) || mentions(t.getCause))
      assert(mentions(e), s"${reg.names}: $e")
    }
  }
}
