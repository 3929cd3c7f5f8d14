package graft.engine

import graft.schema.SchemaDoc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructType}
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

  /** (doc_id, path, keyword, message) of every violation row, as a multiset. */
  private def violationRows(verdicts: DataFrame): Seq[String] =
    verdicts.where(size(col("errors")) > 0)
      .select(col("doc_id").cast("string"), explode(col("errors")).as("v"))
      .select(concat_ws("|", coalesce(col("doc_id"), lit("null")), col("v.path"),
        col("v.keyword"), col("v.message")))
      .collect().map(_.getString(0)).toSeq.sorted

  test("a compiled schema's violation rows are the row core's, applicators and messages too") {
    val s = spark
    import s.implicits._
    // a flat payload: doc_id a number, spans a struct of two fields
    val frame = Seq[(java.lang.Long, String, java.lang.Long)](
      (2L, "1", 7L), (5L, "text", null), (12L, null, 4L), (25L, "kind", 2L),
      (null, "x", null), (0L, null, null), (15L, "2", 15L))
      .toDF("doc_id", "kind", "n").withColumn("doc_num", monotonically_increasing_id())
      .select(col("doc_num"), col("doc_id"),
        when(col("kind").isNull && col("n").isNull, lit(null))
          .otherwise(struct(col("kind"), col("n"))).as("spans"))
    val schemaJson =
      """{"properties": {
        |  "doc_id": {"anyOf": [{"maximum": 3}, {"minimum": 10, "maximum": 20}],
        |             "oneOf": [{"minimum": 5}, {"multipleOf": 5}]},
        |  "spans": {"properties": {"kind": {"type": ["integer", "null"]}},
        |            "dependencies": {"kind": ["n"]},
        |            "propertyNames": {"maxLength": 1}}}}""".stripMargin
    val payloadType = StructType(frame.schema.fields.filter(_.name != "doc_num"))
    ColumnCompiler.validity(SchemaDoc.schema(schemaJson), struct(col("doc_id"), col("spans")),
      payloadType) // compiles: no Unsupported
    val compiled = violationRows(ValidationJob.withVerdicts(spark, frame, schemaJson))
    val rowCore = violationRows(
      RowValidator.validateRows(spark, frame, schemaJson, Some(Seq("doc_id", "spans"))))
    assert(compiled === rowCore)
    // anyOf reports its failing branches' keywords, oneOf its causes, and
    // the row core's type message
    assert(compiled.contains("5|/doc_id|maximum|Failed maximum check"), compiled)
    assert(compiled.contains("5|/doc_id|minimum|Failed minimum check"), compiled)
    assert(compiled.exists(_.startsWith("15|/doc_id|oneOf|")), compiled)
    assert(compiled.exists(r => r.startsWith("5|/spans/kind|type|Value must be of type")), compiled)
    assert(compiled.exists(_.contains("|dependencies|")) &&
      compiled.exists(_.contains("|propertyNames|")), compiled)
  }

  test("a row the compiled verdict fails and the row core passes raises, naming the schema") {
    val frame = spark.range(3).toDF("doc_num").withColumn("doc_id", col("doc_num").cast("string"))
    val verdict = ValidationJob.Verdict(Some(lit(false)),
      expressions.GraftFunctions.validateJson(struct(col("doc_id")), lit("{}")), "probe schema")
    val e = intercept[Throwable](verdict.addTo(frame).collect())
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("probe schema: the compiled verdict fails")) ||
        mentions(t.getCause))
    assert(mentions(e), e.toString)
  }

  /** (doc_num, valid, errors as JSON) of every row, sorted. */
  private def verdictRows(verdicts: DataFrame): Seq[String] =
    verdicts.select(col("doc_num"), col("valid"), to_json(col("errors"))).collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}").toSeq.sorted

  /** A frame of `doc_num`, `doc_id` holding `values` and a null `spans`. */
  private def flat(values: DataFrame): DataFrame =
    values.select(monotonically_increasing_id().as("doc_num"), col("doc_id"),
      lit(null).cast(StringType).as("spans"))

  test("NaN and ±Infinity fail multipleOf and an integer type, with one violation row each") {
    val s = spark
    import s.implicits._
    val frame = flat(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 4.0)
      .toDF("doc_id"))
    Seq("multipleOf" -> """{"multipleOf": 2}""", "type" -> """{"type": "integer"}""")
      .foreach { case (kw, check) =>
        val out = ValidationJob.withVerdicts(spark, frame, s"""{"properties":{"doc_id":$check}}""")
          .select(col("doc_id"), col("valid"), col("errors.keyword"))
          .collect().map(r => (r.getDouble(0), (r.getBoolean(1), r.getSeq[String](2)))).toMap
        assert(out(4.0) === (true, Nil))
        Seq(Double.PositiveInfinity, Double.NegativeInfinity).foreach(d =>
          assert(out(d) === (false, Seq(kw)), s"$kw on $d"))
        assert(out.collectFirst { case (d, v) if d.isNaN => v } === Some((false, Seq(kw))), kw)
      }
  }

  test("no verdict the compiled path and the row core disagreed on reaches the raise") {
    val s = spark
    import s.implicits._
    val doubles = flat(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, 4.0).toDF("doc_id"))
    val longs = flat(Seq(Long.MaxValue, Long.MinValue, 5L, 0L).toDF("doc_id"))
    val decimals = flat(Seq("0.1", "0.099999999999999999999", "1.000000000000000000001",
      "12345678901234567.5").toDF("s")
      .select(col("s").cast(DecimalType(38, 21)).as("doc_id")))
    val strings = flat(Seq("a@b.com\n", "a@b.com", "1.2.3.4\n").toDF("doc_id"))
    val offsets = Seq((0L, Seq(-0.0, 1.0)), (1L, Seq(0.0)), (2L, Seq(Double.NaN))).toDF("doc_num", "x")
      .select(col("doc_num"), lit("d").as("doc_id"), transform(col("x"), v => struct(v.as("off"))).as("spans"))
    val unique = Seq((0L, Seq(-0.0, 0.0)), (1L, Seq(Double.NaN, Double.NaN)), (2L, Seq(1.0, -1.0)))
      .toDF("doc_num", "spans").withColumn("doc_id", lit("d"))
    def onId(kw: String) = s"""{"properties":{"doc_id":$kw}}"""
    def onOff(kw: String) =
      s"""{"properties":{"spans":{"items":{"type":"object","properties":{"off":$kw}}}}}"""
    // (frame, schema, whether the compiler expresses it); one it cannot
    // express takes the row core, and no verdict of its own
    val cases = Seq(
      // the row core reads a non-finite double as a huge non-integer
      (doubles, onId("""{"multipleOf": 2}"""), true),
      (doubles, onId("""{"type": "integer"}"""), true),
      // a divisor no double holds
      (doubles, onId("""{"multipleOf": 1e-400}"""), false),
      // bounds and values past the long range, or between two longs
      (longs, onId("""{"exclusiveMaximum": 9223372036854775808}"""), true),
      (longs, onId("""{"exclusiveMaximum": 9223372036854775807.5}"""), true),
      (longs, onId("""{"exclusiveMinimum": -9223372036854775808.5, "maximum": 2.5}"""), true),
      (longs, onId("""{"enum": [9223372036854775808, 0.5, 5]}"""), true),
      // divisors decimal(38,12) does not hold
      (longs, onId("""{"multipleOf": 2.5e-12}"""), false),
      (longs, onId("""{"multipleOf": 1e30}"""), false),
      // decimals of more digits than a double tells apart
      (decimals, onId("""{"exclusiveMaximum": 0.1}"""), false),
      (decimals, onId("""{"type": "integer", "multipleOf": 0.5}"""), false),
      // -0.0 is the JSON number 0
      (offsets, onOff("""{"enum": [0, 1]}"""), true),
      (offsets, onOff("""{"const": 0}"""), true),
      (unique, """{"properties":{"spans":{"uniqueItems":true}}}""", true),
      // a format takes the whole string, a trailing newline too
      (strings, onId("""{"format": "email"}"""), true),
      (strings, onId("""{"format": "ipv4"}"""), true))
    cases.foreach { case (frame, schemaJson, compiles) =>
      val payload = frame.schema.fields.filter(f => f.name == "doc_id" || f.name == "spans")
      val verdict = ValidationJob.verdict(schemaJson,
        struct(payload.map(f => col(f.name)).toSeq: _*), StructType(payload), "case")
      assert(verdict.compiled.isDefined === compiles, schemaJson)
      assert(verdictRows(ValidationJob.withVerdicts(spark, frame, schemaJson)) ===
        verdictRows(RowValidator.validateRows(spark, frame, schemaJson, Some(Seq("doc_id", "spans")))),
        schemaJson)
    }
  }

  test("a compiled schema validates frames whose unread fields are dates, timestamps or binary") {
    val s = spark
    import s.implicits._
    val frame = Seq(("a", "2020-01-01 00:00:00"), ("bb", "2021-06-30 12:30:00")).toDF("doc_id", "t")
      .select(monotonically_increasing_id().as("doc_num"), col("doc_id"),
        array(struct(col("t").cast("timestamp").as("at"), col("t").cast("date").as("day"),
          col("doc_id").cast("binary").as("raw"))).as("spans"),
        col("t").cast("timestamp").as("ingested_at"))
    val schemaJson = """{"properties":{"doc_id":{"maxLength":1}}}"""
    val out = ValidationJob.withVerdicts(spark, frame, schemaJson)
    assert(out.select("doc_id", "valid").as[(String, Boolean)].collect().toMap ===
      Map("a" -> true, "bb" -> false))
    assert(verdictRows(out) === verdictRows(
      RowValidator.validateRows(spark, frame, schemaJson, Some(Seq("doc_id", "spans")))))
    val registry = SchemaRegistry.compile(Map("short" -> schemaJson))
    val viaRegistry = SchemaRegistry.validateWith(frame.withColumn("schema_name", lit("short")),
      registry, "schema_name")
    assert(viaRegistry.select("doc_id", "valid").as[(String, Boolean)].collect().toMap ===
      Map("a" -> true, "bb" -> false))
    // a schema that reads them takes the row core, over ISO-8601 and base64 strings
    val reads = """{"properties":{"spans":{"items":{"properties":{
      |  "at": {"format": "date-time", "pattern": "Z$"}, "day": {"format": "date"},
      |  "raw": {"contentEncoding": "base64", "pattern": "^YQ"}}}}}}""".stripMargin
    assert(ValidationJob.withVerdicts(spark, frame, reads)
      .select(col("doc_id"), col("errors.path")).as[(String, Seq[String])].collect().toMap ===
      Map("a" -> Nil, "bb" -> Seq("/spans/0/raw")))
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
      intercept[ColumnCompiler.Unsupported](ColumnCompiler.validity(
        SchemaDoc.schema(schemaJson), struct(col("doc_id")), StructType(frame.schema.fields.take(1))))
      intercept[ColumnCompiler.Unsupported](
        ColumnCompiler.validity(SchemaDoc.schema(keyword), col("doc_id"), StringType))
      // inert on a non-string value
      val onLong = ColumnCompiler.validity(SchemaDoc.schema(keyword), col("doc_num"), LongType)
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

  test("a payload field with no JSON mapping is rejected when the frame is built, by name") {
    // recursive $ref: every entry below takes the row core
    val meta = """{"$ref":"http://json-schema.org/draft-07/schema#"}"""
    val frame = spark.range(2).select(col("id"), expr("make_dt_interval(id)").as("ts"))
    def rejected(build: => DataFrame, field: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](build)
      assert(e.getMessage.contains(s"payload field `$field` of type interval day to second"),
        e.getMessage)
    }
    rejected(RowValidator.validateRows(spark, frame, meta), "ts")
    rejected(SchemaRegistry.validateWith(frame.withColumn("schema_name", lit("meta")),
      SchemaRegistry.compile(Map("meta" -> meta)), "schema_name"), "ts")
    rejected(ValidationJob.withVerdicts(spark, frame.select(col("id").cast("string").as("doc_id"),
      array(struct(col("ts").as("at"))).as("spans")), meta), "spans.at")
  }

  test("a malformed schema fails when a row-core frame is built, not in its tasks") {
    import spark.implicits._
    val malformed = """{"type": 12}"""
    intercept[graft.schema.SchemaConformance.SchemaException](
      RowValidator.validateRows(spark, spark.range(2).toDF("id"), malformed))
    intercept[graft.schema.SchemaConformance.SchemaException](
      JsonLines.validateStrings(spark, Seq((0L, "{}")).toDS(), malformed))
  }
}
