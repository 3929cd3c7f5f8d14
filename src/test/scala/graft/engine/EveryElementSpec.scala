package graft.engine

import graft.engine.expressions.GraftFunctions.everyElement
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The native element-check kernel against the set operations it replaces
  * in the column compiler: `size(array_except(a, values ++ [null])) = 0`
  * (and without the null), and `size(array_intersect(a, [null])) = 0`.
  * Each kernel form is evaluated interpreted, by expression codegen and in
  * whole-stage codegen, and must equal the set-operation form row for row,
  * null arrays included, over NaN, -0.0 and mixed-width enum values. */
class EveryElementSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val modes = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "expression codegen" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "true"))

  private def withConf[T](conf: Map[String, String])(f: => T): T = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Arrays of `et` (None: a null array) against each allowed value list. */
  private def differential(et: DataType, arrays: Seq[Option[Seq[Any]]],
      allowed: Seq[Seq[Column]]): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) => Row(i, a.orNull) }, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("a", ArrayType(et, containsNull = true)))))
    val a = col("a")
    def typeOf(c: Column): DataType = df.select(c.as("x")).schema("x").dataType
    // with a null, as the column compiler builds it: the analyzer widens
    // the list to hold the column's type; without one where it already does
    val withNull = allowed.map(vs => array(vs :+ lit(null).cast(et): _*))
    val withoutNull = allowed.zip(withNull).collect {
      case (vs, n) if typeOf(array(vs: _*)) == typeOf(n) => array(vs: _*)
    }
    // (kernel form, the set-operation form it replaces). The column is cast
    // to the list's type explicitly, as array_except's coercion does; it
    // does not coerce decimals of different precision and fails analysis
    val pairs: Seq[(Column, Column)] =
      (everyElement(a, None), size(array_intersect(a, array(lit(null).cast(et)))) === 0) +:
        (withNull ++ withoutNull).map(vs =>
          (everyElement(a, Some(vs)), size(array_except(a.cast(typeOf(vs)), vs)) === 0))
    def run(cols: Seq[Column]): Seq[Seq[Option[Boolean]]] =
      df.select((col("id") +: cols): _*).collect().sortBy(_.getInt(0)).toSeq
        .map(r => (1 to cols.size).map(i => Option(r.get(i)).map(_.asInstanceOf[Boolean])))
    val expected = run(pairs.map(_._2))
    modes.foreach { case (mode, conf) =>
      val got = withConf(conf)(run(pairs.map(_._1)))
      got.zip(expected).zip(arrays).foreach { case ((g, e), arr) =>
        assert(g === e, s"$mode, $et, array $arr, forms ${pairs.map(_._1)}")
      }
    }
  }

  test("doubles: NaN equals NaN, -0.0 is not 0.0, and integral values widen") {
    val nan = Double.NaN
    differential(DoubleType,
      Seq(Some(Seq(0.0)), Some(Seq(-0.0)), Some(Seq(nan)), Some(Seq(1.0, null)), Some(Nil), None,
        Some(Seq(0.5, 1.0)), Some(Seq(9.007199254740992e15)), Some(Seq(Double.NegativeInfinity)),
        Some(Seq(null))),
      Seq(Seq(lit(0.0)), Seq(lit(-0.0)), Seq(lit(nan)), Seq(lit(1L)), Seq(lit(0.5), lit(1L)),
        Seq(lit(9007199254740993L)), Seq(lit(nan), lit(-0.0), lit(0.0))))
  }

  test("floats against integral and fractional literals") {
    differential(FloatType,
      Seq(Some(Seq(0.0f)), Some(Seq(-0.0f)), Some(Seq(Float.NaN)), Some(Seq(1.0f, null)),
        Some(Seq(16777216f)), Some(Seq(0.5f)), Some(Seq(0.1f)), None),
      Seq(Seq(lit(0.0)), Seq(lit(-0.0)), Seq(lit(Double.NaN)), Seq(lit(1L)), Seq(lit(16777217L)),
        Seq(lit(0.5)), Seq(lit(0.1)), Seq(lit(16777216L), lit(0.5))))
  }

  test("integral columns of every width against long and mixed long/double enums") {
    val allowed = Seq(Seq(lit(1L)), Seq(lit(1L), lit(2.5)), Seq(lit(16777216L), lit(0.5)),
      Seq(lit(Int.MaxValue.toLong + 1)), Seq(lit(-1L), lit(127L)))
    differential(IntegerType,
      Seq(Some(Seq(1)), Some(Seq(2)), Some(Seq(16777217)), Some(Seq(16777216)),
        Some(Seq(Int.MaxValue)), Some(Seq(1, null)), Some(Seq(-1, 1)), None),
      allowed)
    differential(LongType,
      Seq(Some(Seq(9007199254740993L)), Some(Seq(9007199254740992L)), Some(Seq(Long.MaxValue)),
        Some(Seq(1L, null)), Some(Seq(16777216L, -1L)), None),
      allowed ++ Seq(Seq(lit(9007199254740992L)), Seq(lit(9007199254740992L), lit(0.5)),
        Seq(lit(Long.MaxValue), lit(0.5))))
    differential(ShortType, Seq(Some(Seq(1.toShort)), Some(Seq(127.toShort, null)), None), allowed)
    differential(ByteType, Seq(Some(Seq(1.toByte)), Some(Seq(-1.toByte, 127.toByte)), None), allowed)
  }

  test("decimals, strings and booleans") {
    differential(DecimalType(10, 2),
      Seq(Some(Seq(BigDecimal("1.00"))), Some(Seq(BigDecimal("2.50"))), Some(Seq(BigDecimal("1.10"))),
        Some(Seq(BigDecimal("1.00"), null)), None),
      Seq(Seq(lit(1L)), Seq(lit(2.5)), Seq(lit(1L), lit(2.5))))
    differential(StringType,
      Seq(Some(Seq("text")), Some(Seq("media", "text")), Some(Seq("")), Some(Seq("Text")),
        Some(Seq("text", null)), Some(Seq("imag")), None),
      Seq(Seq(lit("text"), lit("media")), Seq(lit(""))))
    differential(BooleanType,
      Seq(Some(Seq(true)), Some(Seq(false, true)), Some(Seq(true, null)), None),
      Seq(Seq(lit(true)), Seq(lit(false), lit(true))))
  }

  test("a null element is null in a struct array's field array") {
    // the column compiler's `required` twin reads a field array; a null
    // element must fail it even when the field itself is non-nullable
    val spanType = StructType(Seq(StructField("kind", StringType, nullable = false)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(0, Seq(Row("text"))), Row(1, Seq(Row("text"), null)), Row(2, null)), 1),
      StructType(Seq(StructField("id", IntegerType),
        StructField("spans", ArrayType(spanType, containsNull = true)))))
    modes.foreach { case (mode, conf) =>
      val got = withConf(conf)(df.select(col("id"), everyElement(col("spans.kind"), None))
        .collect().sortBy(_.getInt(0)).map(r => Option(r.get(1))).toSeq)
      assert(got === Seq(Some(true), Some(false), None), mode)
    }
  }
}
