package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzzing: random interleaved docs (valid and broken in every
  * dimension) must get identical verdicts and leaf violations from the
  * Catalyst column path and the row-level jinx-semantics core. Both specs
  * take the field-array lowering of `items` (span elements are non-null):
  * one with non-nullable span fields, one with nullable fields, where a
  * null field is an absent property. */
class RandomDocsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val kindGen = Gen.frequency(
    6 -> Gen.const("text"), 3 -> Gen.const("media"),
    1 -> Gen.oneOf("imag", "video", ""), 1 -> Gen.const(null))
  private val offsetGen = Gen.frequency(
    8 -> Gen.choose(0, 1000), 1 -> Gen.choose(-50, -1), 1 -> Gen.const(null))
  private val textGen = Gen.frequency(
    3 -> Gen.alphaStr.map(_.take(16)), 1 -> Gen.const(null))
  private val refGen = Gen.frequency(
    3 -> Gen.choose(0, 300).map(i => s"m-$i"), 2 -> Gen.const(null))
  private val docIdGen = Gen.frequency(
    6 -> Gen.choose(0, 99999).map(i => s"doc-$i"),
    1 -> Gen.choose(0, 99999).map(i => s"DOC-$i"),
    1 -> Gen.alphaStr.map(_.take(8)),
    1 -> Gen.const(null))

  private val spanGen: Gen[Row] = for {
    k <- kindGen; t <- textGen; r <- refGen; o <- offsetGen
  } yield Row(k, t, r, o)

  private val docGen: Gen[Row] = for {
    id <- docIdGen
    n <- Gen.frequency(6 -> Gen.choose(1, 5), 1 -> Gen.const(0))
    spans <- Gen.listOfN(n, spanGen)
    nullSpans <- Gen.frequency(9 -> Gen.const(false), 1 -> Gen.const(true))
  } yield Row(id, if (nullSpans) null else spans)

  private def schemaWith(nullableFields: Boolean) = StructType(Seq(
    StructField("doc_id", StringType, nullable = true),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType, nullable = nullableFields),
      StructField("text", StringType, nullable = true),
      StructField("media_ref", StringType, nullable = true),
      StructField("offset", IntegerType, nullable = nullableFields))),
      containsNull = false), nullable = true)))

  private def differential(nullableFields: Boolean, seed: Long): Unit = {
    val gen = Gen.listOfN(300, docGen)
    val rows0 = gen.pureApply(Gen.Parameters.default, rng.Seed(seed))
    // when declaring non-nullable fields, scrub generated nulls to honor it
    val rows = if (nullableFields) rows0 else rows0.map { r =>
      val spans = Option(r.get(1)).map(_.asInstanceOf[List[Row]].map { s =>
        Row(if (s.get(0) == null) "text" else s.get(0), s.get(1), s.get(2),
          if (s.get(3) == null) Integer.valueOf(0) else s.get(3))
      }).orNull
      Row(r.get(0), spans)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schemaWith(nullableFields))
      .withColumn("doc_num", monotonically_increasing_id())

    val colPath = ValidationJob.withVerdicts(spark, df, DocTable.docSchemaJson)
      .select(col("doc_num"), col("valid"),
        to_json(col("errors")).as("errs"))
    val rowPath = RowValidator.validateRows(
      spark, df.select("doc_num", "doc_id", "spans"), DocTable.docSchemaJson)
      .select(col("doc_num"), col("valid").as("row_valid"),
        to_json(col("errors")).as("row_errs"))
    val joined = colPath.join(rowPath, "doc_num").cache()
    val verdictsDisagree = joined.where(col("valid") =!= col("row_valid"))
    assert(verdictsDisagree.count() === 0, {
      val ex = verdictsDisagree.limit(3).collect().mkString("\n")
      s"verdict disagreement (nullable=$nullableFields):\n$ex"
    })
    // violations: compare as (path, keyword) multisets per doc
    val colViols = joined.select(col("doc_num"), col("errs")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rowViols = joined.select(col("doc_num"), col("row_errs")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def keyset(json: String): Set[(String, String)] =
      """\{"path":"([^"]*)","keyword":"([^"]*)"""".r
        .findAllMatchIn(json).map(m => (m.group(1), m.group(2))).toSet
    colViols.foreach { case (id, cj) =>
      assert(keyset(cj) === keyset(rowViols(id)), s"doc $id violations differ")
    }
    // some invalid docs must exist for the test to mean anything
    assert(joined.where(!col("valid")).count() > 0)
  }

  test("random docs, nullable span fields (null-aware vectorized plan) — verdicts + violations agree") {
    differential(nullableFields = true, seed = 7L)
  }

  test("random docs, non-nullable span fields (static vectorized plan) — verdicts + violations agree") {
    differential(nullableFields = false, seed = 11L)
  }
}
