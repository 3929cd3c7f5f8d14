package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Engine checks against independently-computed expectations, plus the
  * column-path vs row-core differential (both must agree with jinx
  * semantics on every synthesized document). */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs = DocTable.docs(spark, sfDir).cache()

  test("column compiler and row-level core agree on every document") {
    val columnPath = ValidationJob.withVerdicts(spark, docs, DocTable.docSchemaJson)
      .select(col("doc_num"), col("valid"), col("errors"))
    val rowPath = RowValidator.validateRows(
      spark, docs.select("doc_num", "doc_id", "spans"), DocTable.docSchemaJson)
      .select(col("doc_num"), col("valid").as("row_valid"))
    val joined = columnPath.join(rowPath, "doc_num")
    val disagree = joined.where(col("valid") =!= col("row_valid")).count()
    assert(disagree === 0)
    val invalid = joined.where(!col("valid")).count()
    assert(invalid > 0, "fixture must contain injected violations")
  }

  test("boolean fast path agrees with error-array emptiness on every doc") {
    val doc = graft.schema.SchemaDoc.schema(DocTable.docSchemaJson)
    val payloadFields = docs.schema.fields.filter(f => f.name == "doc_id" || f.name == "spans")
    val payload = struct(payloadFields.map(f => col(f.name)).toSeq: _*)
    val dt = org.apache.spark.sql.types.StructType(payloadFields)
    val (fast, errs) = ColumnCompiler.lowerings(doc, payload, dt)
    val both = docs.select(fast.as("fast"), (size(errs()) === 0).as("viaErrors"))
    assert(both.where(col("fast") =!= col("viaErrors")).count() === 0)
  }

  test("verdict-only fast mode matches the full path verdicts") {
    val full = ValidationJob.withVerdicts(spark, docs, DocTable.docSchemaJson)
      .select("doc_num", "valid")
    val fast = ValidationJob.withVerdictsOnly(spark, docs, DocTable.docSchemaJson)
      .select(col("doc_num"), col("valid").as("fast_valid"))
    assert(full.join(fast, "doc_num").where(col("valid") =!= col("fast_valid")).count() === 0)
  }

  test("violation leaf rows agree between column path and row core") {
    val colViols = ValidationJob.violations(
      ValidationJob.withVerdicts(spark, docs, DocTable.docSchemaJson))
      .select("doc_num", "path", "keyword").collect().map(_.toSeq).toSet
    val rowViols = RowValidator.validateRows(
      spark, docs.select("doc_num", "doc_id", "spans"), DocTable.docSchemaJson)
      .where(size(col("errors")) > 0)
      .select(col("doc_num"), explode(col("errors")).as("v"))
      .select(col("doc_num"), col("v.path"), col("v.keyword"))
      .collect().map(_.toSeq).toSet
    assert(colViols === rowViols)
  }

  test("a minItems bound past Int range marks every document invalid") {
    // the column compiler leaves such a bound to the row core
    val schema = DocTable.docSchemaJson.replace("\"minItems\": 1", "\"minItems\": 4294967297")
    assert(schema != DocTable.docSchemaJson)
    val verdicts = ValidationJob.withVerdicts(spark, docs, schema)
    assert(verdicts.count() === docs.count())
    assert(verdicts.where(col("valid")).count() === 0)
  }

  test("partition verdicts are exhaustive and deterministic") {
    val verdicts = ValidationJob.withVerdicts(spark, docs, DocTable.docSchemaJson)
    val parts = ValidationJob.partitionVerdicts(verdicts, col("doc_num"), 8).collect()
    assert(parts.map(_.getAs[Long]("docs")).sum === docs.count())
    assert(parts.map(_.getAs[Long]("pass_count")).sum +
      parts.map(_.getAs[Long]("fail_count")).sum === docs.count())
  }

  test("salted dedup finds exactly the injected duplicate keys") {
    val dups = Checks.duplicateKeys(docs, "doc_id").collect()
    // injection: doc_id % 1000 == 7 collides with doc_id-1 (sf0.001 has ids 0..499 → only id 7)
    assert(dups.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("doc-6", 2L)))
  }

  test("referential check finds exactly the dangling media refs") {
    val refs = docs.select(explode(col("spans")).as("s")).select(col("s.media_ref").as("media_ref"))
    val dangling = Checks.danglingRefs(refs, "media_ref", DocTable.mediaCatalog(spark), "media_ref")
      .collect().map(_.getString(0))
    assert(dangling.nonEmpty)
    assert(dangling.forall(_.stripPrefix("m-").toInt >= 200))
    // and no in-catalog ref reported
    val total = refs.where(col("media_ref").isNotNull).count()
    val inCatalog = refs.join(DocTable.mediaCatalog(spark).withColumnRenamed("media_ref", "c"),
      col("media_ref") === col("c"), "left_semi").count()
    val danglingCount = Checks.danglingRefs(refs, "media_ref", DocTable.mediaCatalog(spark), "media_ref")
      .agg(sum("ref_count")).collect()(0).getLong(0)
    assert(inCatalog + danglingCount === total)
  }

  test("shuffle-hash variant of referential check matches broadcast variant") {
    val refs = docs.select(explode(col("spans")).as("s")).select(col("s.media_ref").as("media_ref"))
    val b = Checks.danglingRefs(refs, "media_ref", DocTable.mediaCatalog(spark), "media_ref",
      broadcastCatalog = true).collect().map(_.toSeq).toSet
    val sh = Checks.danglingRefs(refs, "media_ref", DocTable.mediaCatalog(spark), "media_ref",
      broadcastCatalog = false).collect().map(_.toSeq).toSet
    assert(b === sh)
  }

  test("profile matches straight-line expectations on events") {
    val events = spark.read.parquet(s"$sfDir/events.parquet").cache()
    val rows = Checks.profile(events, Seq("value")).collect()
    val vals = events.select("value").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val nonNull = vals.flatten
    val r = rows.find(_.getString(0) == "value").get
    assert(r.getAs[Long]("total_count") === vals.length)
    assert(r.getAs[Long]("null_count") === vals.count(_.isEmpty))
    assert(r.getAs[Double]("min_value") === nonNull.min)
    assert(r.getAs[Double]("max_value") === nonNull.max)
    assert(r.getAs[Long]("distinct_count") === nonNull.distinct.length)
  }

  test("approx distinct is within HLL++ error of exact") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val exact = Checks.profile(events, Seq("user_id")).collect()(0).getAs[Long]("distinct_count")
    val approx = Checks.profile(events, Seq("user_id"), approxDistinct = true)
      .collect()(0).getAs[Long]("distinct_count")
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("drift: same distribution ~ 0, shifted distribution > 0") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val bins = Checks.driftBins(events, "value", col("event_id") % 2 === 0, 50.0).collect()
    val ref = bins.map(_.getAs[Long]("ref_count"))
    val cur = bins.map(_.getAs[Long]("cur_count"))
    val psiSplit = Drift.psi(ref, cur)
    assert(psiSplit < 0.05, s"even/odd halves should not drift, psi=$psiSplit")
    // shift the current population by +50: drift must be detected
    val shifted = Checks.driftBins(
      events.withColumn("value", when(col("event_id") % 2 === 0, col("value")).otherwise(col("value") + 50)),
      "value", col("event_id") % 2 === 0, 50.0).collect()
    val psiShift = Drift.psi(shifted.map(_.getAs[Long]("ref_count")), shifted.map(_.getAs[Long]("cur_count")))
    assert(psiShift > 0.1, s"shifted distribution must drift, psi=$psiShift")
    assert(Drift.ks(ref, cur) < Drift.ks(
      shifted.map(_.getAs[Long]("ref_count")), shifted.map(_.getAs[Long]("cur_count"))))
  }

  test("span-sequence invariant: identical frames match, perturbed frames don't") {
    assert(ValidationJob.spanMismatches(docs, docs).count() === 0)
    val perturbed = docs.withColumn("spans",
      when(col("doc_num") === 5, slice(col("spans"), 1, 1)).otherwise(col("spans")))
    val bad = ValidationJob.spanMismatches(docs, perturbed)
    assert(bad.count() === 1)
    assert(bad.collect()(0).getAs[Long]("doc_num") === 5L)
  }

  test("content keywords on a string value send the schema to the row core") {
    // the row core decodes string content and reports what does not decode
    // (validate.cljc:697-740); the compiled path has no such check, so it
    // must not report such a value valid
    val s = spark
    import s.implicits._
    val frame = Seq("{not json", "!!!", """{"a":1}""", "aGk=").zipWithIndex
      .map { case (id, i) => (id, i.toLong) }.toDF("doc_id", "doc_num")
    def check(kw: String, value: String, message: String, validIds: Set[String]): Unit = {
      val keyword = s"""{"$kw":"$value"}"""
      val schemaJson = s"""{"properties":{"doc_id":$keyword}}"""
      intercept[ColumnCompiler.Unsupported](ColumnCompiler.lowerings(
        SchemaDoc.schema(schemaJson), struct(col("doc_id")), StructType(frame.schema.fields.take(1)))._1)
      intercept[ColumnCompiler.Unsupported](
        ColumnCompiler.lowerings(SchemaDoc.schema(keyword), col("doc_id"), StringType)._1)
      // inert on a non-string value
      val onLong = ColumnCompiler.lowerings(SchemaDoc.schema(keyword), col("doc_num"), LongType)._1
      assert(frame.select(onLong).as[Boolean].collect().forall(identity))
      def byId(out: DataFrame) =
        out.select("doc_id", "valid").as[(String, Boolean)].collect().toMap
      val expected = frame.select("doc_id").as[String].collect().map(id => id -> validIds(id)).toMap
      val full = ValidationJob.withVerdicts(spark, frame, schemaJson)
      assert(byId(full) === expected, kw)
      assert(byId(ValidationJob.withVerdictsOnly(spark, frame, schemaJson)) === expected, kw)
      assert(byId(RowValidator.validateRows(spark, frame, schemaJson, Some(Seq("doc_id")))) ===
        expected, kw)
      val rows = ValidationJob.violations(full).select("doc_id", "path", "keyword", "message")
        .as[(String, String, String, String)].collect().toSet
      assert(rows === expected.collect { case (id, false) => (id, "/doc_id", kw, message) }.toSet)
    }
    check("contentMediaType", "application/json", "Instance is not application/json",
      Set("""{"a":1}"""))
    check("contentEncoding", "base64", "Not base64", Set("aGk="))
  }
}
