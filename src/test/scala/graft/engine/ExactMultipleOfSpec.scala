package graft.engine

import graft.engine.expressions.{GraftExtensions, GraftFunctions, GraftMath}
import graft.json.{JNum, Json}
import graft.schema.SchemaDoc
import graft.validate.Validator
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Native ExactMultipleOf expression: exact-decimal semantics matching the
  * row core (the reference's BigDecimal remainder), codegen participation,
  * and SQL registration. */
class ExactMultipleOfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nasty: Seq[(Double, Double, Boolean)] = Seq(
    (0.0075, 0.0001, true),   // not representable in binary — pmod(double) gets this wrong
    (0.00751, 0.0001, false),
    (4.5, 1.5, true),
    (35.0, 1.5, false),
    (0.0, 7.3, true),
    (-4.5, 1.5, true),
    (1.0e15, 0.1, true),
    (Double.NaN, 2.0, false))

  test("GraftMath matches the row-core BigDecimal semantics on nasty values") {
    nasty.filterNot(_._1.isNaN).foreach { case (x, m, expected) =>
      assert(GraftMath.isMultipleOf(x, m) === expected, s"$x multipleOf $m")
      val rowCore = Validator.validate(
        SchemaDoc.schema(s"""{"multipleOf": $m}"""), JNum(BigDecimal(x))).valid
      assert(rowCore === expected, s"row core: $x multipleOf $m")
    }
    assert(!GraftMath.isMultipleOf(Double.NaN, 2.0))
  }

  test("expression evaluates in a Spark plan and matches the column compiler") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(nasty.map(c => Row(c._1, c._2, c._3)), 2),
      StructType(Seq(
        StructField("x", DoubleType), StructField("m", DoubleType),
        StructField("expected", BooleanType))))
    val out = df.select(col("expected"),
      GraftFunctions.exactMultipleOf(col("x"), col("m")).as("got")).collect()
    out.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1), r.toString))
  }

  test("compiled schema path uses exact semantics for double columns") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(0.0075), Row(0.00751)), 1),
      StructType(Seq(StructField("v", DoubleType))))
    val doc = SchemaDoc.schema("""{"properties":{"v":{"multipleOf":0.0001}}}""")
    val payloadType = StructType(Seq(StructField("v", DoubleType)))
    val verdicts = df.select(col("v"),
      ColumnCompiler.validity(doc, struct(col("v")), payloadType).as("ok")).collect()
      .map(r => r.getDouble(0) -> r.getBoolean(1)).toMap
    assert(verdicts(0.0075) === true)
    assert(verdicts(0.00751) === false)
  }

  test("SQL registration works (registry + call)") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT graft_exact_multiple_of(CAST(0.0075 AS DOUBLE), CAST(0.0001 AS DOUBLE)) a, " +
      "graft_exact_multiple_of(CAST(0.00751 AS DOUBLE), CAST(0.0001 AS DOUBLE)) b").collect()(0)
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
  }

  test("expression participates in whole-stage codegen") {
    val df = spark.range(10).select(
      GraftFunctions.exactMultipleOf(col("id").cast(DoubleType), lit(2.0)).as("even"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project [graft_exact_multiple_of"), plan.take(300))
    assert(df.where(col("even")).count() === 5)
  }
}
