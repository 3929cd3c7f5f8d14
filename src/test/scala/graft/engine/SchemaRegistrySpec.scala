package graft.engine

import graft.schema.SchemaDoc
import graft.validate.Validator
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema registry: per-row schema dispatch over a mixed corpus. */
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

  test("an empty registry is rejected when it is compiled") {
    val e = intercept[IllegalArgumentException](SchemaRegistry.compile(Map.empty))
    assert(e.getMessage.contains("at least one schema"), e.getMessage)
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

  /** [[outcome]] of the row core applied on the driver to the collected
    * rows: each row's payload (every column but `schema_name`) against the
    * source its `schema_name` names. */
  private def driverRowCore(df: DataFrame, reg: SchemaRegistry) = {
    val payloadType = StructType(df.schema.fields.filter(_.name != "schema_name"))
    val verdicts = df.collect().toSeq.map { r =>
      val payload = Row.fromSeq(payloadType.fieldNames.toSeq.map(r.getAs[Any]))
      val res = Validator.validate(SchemaDoc.schema(reg.sources(r.getAs[String]("schema_name"))),
        RowValidator.toJVal(payload, payloadType))
      (r.getAs[Long]("id"), res.valid, RowValidator.leafErrors(res.errors))
    }
    (verdicts.map(v => (v._1, v._2)).sortBy(_._1),
      verdicts.flatMap(v => v._3.map(e => (v._1, e.path, e.keyword, e.message))).sorted)
  }

  test("compiled CASE dispatch agrees with the broadcast row core (differential)") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val compiled = outcome(SchemaRegistry.validateWith(spark, df, registry, "schema_name"))
    assert(compiled === driverRowCore(df, registry))
    assert(compiled._2.map(_._1).distinct === Seq(1L, 3L, 4L))
    // and the compiled path really is the one validateWith picked: its plan
    // must hold no row-core call
    val plan = SchemaRegistry.validateWith(spark, df, registry, "schema_name")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("graft_validate"), s"expected compiled dispatch, got:\n$plan")
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
    assert(got === driverRowCore(df, reg))
    assert(got._1.map(_._1) === (0L to 5L))
    // plan: one projection chain, no Union. The compiled schemas stay
    // compiled arms of the CASE chain (graft_violations); the inexpressible
    // schema is ONE row-core arm, graft_validate behind its name's guard,
    // whose struct the chain's `meta` arm reads
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), plan)
    assert("graft_validate\\(".r.findAllIn(plan).length === 1, plan)
    assert(plan.contains("CASE WHEN (schema_name#") && plan.contains(") THEN graft_validate("), plan)
    val validLine = plan.linesIterator.find(_.contains(" AS valid#")).get
    assert(validLine.contains("CASE WHEN") && validLine.contains("graft_row_core#"), validLine)
    assert("graft_violations\\(".r.findAllIn(plan).length === 2, plan)
  }

  test("hybrid dispatch: NULL schema name fails loudly instead of silently dropping the row") {
    // a NULL name matches no arm of the CASE chain, so it must reach the
    // chain's raising otherwise-branch, not pass as a NULL verdict
    val nullableSchema = StructType(schema.fields.map(f =>
      if (f.name == "schema_name") f.copy(nullable = true) else f))
    val hybrid = SchemaRegistry.compile(Map(
      "short-text" -> """{"properties":{"payload":{"type":"string","maxLength":5}},"required":["payload"]}""",
      "meta" -> """{"$ref":"http://json-schema.org/draft-07/schema#"}"""))
    // with or without a row-core arm; `concat` with a NULL name is NULL,
    // so the message must coalesce the name
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
