package graft.engine

import graft.json._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Schema-level fuzzing: random draft-7 schemas over the doc shape × random
  * documents; the Catalyst column plan (boolean AND error paths) must agree
  * with the row-level core on every (schema, doc) pair. Schemas that the
  * compiler rejects as Unsupported fall back — also exercised. */
class RandomSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // --- random schema over {doc_id: string, spans: array<struct<...>>} -------

  private def jstr(s: String) = JStr(s)
  private def jnum(n: Int) = JNum(BigDecimal(n))

  private val stringPred: Gen[JObj] = Gen.oneOf(
    Gen.choose(0, 10).map(n => JObj.of("minLength" -> jnum(n))),
    Gen.choose(0, 20).map(n => JObj.of("maxLength" -> jnum(n))),
    Gen.oneOf("^doc-", "[0-9]+$", "^[a-z-]+[0-9]*$", "x").map(p => JObj.of("pattern" -> jstr(p))),
    Gen.oneOf("hostname", "ipv4", "date-time", "uri", "regex", "email")
      .map(f => JObj.of("format" -> jstr(f))),
    Gen.const(JObj.of("type" -> jstr("string"))),
    Gen.const(JObj.of("enum" -> JArr(Vector(jstr("doc-1"), jstr("doc-2"))))))

  private val intPred: Gen[JObj] = Gen.oneOf(
    Gen.choose(-10, 100).map(n => JObj.of("minimum" -> jnum(n))),
    Gen.choose(-10, 100).map(n => JObj.of("maximum" -> jnum(n))),
    Gen.choose(1, 7).map(n => JObj.of("multipleOf" -> jnum(n))),
    Gen.choose(0, 64).map(n => JObj.of("const" -> jnum(n))),
    // type-incompatible entry (string in a numeric enum) must be statically
    // false in the column paths, not an ANSI cast error
    Gen.const(JObj.of("enum" -> JArr(Vector(jnum(0), jnum(16), jstr("zero"))))),
    Gen.const(JObj.of("type" -> JArr(Vector(jstr("integer"), jstr("null"))))))

  private def arr(xs: String*): JVal = JArr(xs.map(jstr).toVector)

  /** Object-shape keywords over a struct with fields `fields` (plus a name
    * the struct lacks): dependencies in array and schema form,
    * propertyNames, patternProperties, additionalProperties (false and a
    * subschema) and min/maxProperties. Several may co-occur, so
    * additionalProperties meets patternProperties. */
  private def objectShapeKw(fields: Vector[String]): Gen[Vector[(String, JVal)]] = {
    val names = fields :+ "missing"
    // a subschema whose keywords each bind one JSON type, so it is
    // meaningful whatever the field's type
    val anyTyped = Gen.oneOf(
      JObj.of("maxLength" -> jnum(3)),
      JObj.of("minimum" -> jnum(1), "minLength" -> jnum(2)),
      JObj.of("type" -> jstr("string")),
      JObj.of("minItems" -> jnum(2), "pattern" -> jstr("^doc-")))
    val patternProps: Gen[(String, JVal)] =
      for (p <- Gen.oneOf("_", "^(text|doc)", "s$", "^o|^k"); sub <- anyTyped)
        yield "patternProperties" -> JObj.of(p -> sub)
    val additional: Gen[(String, JVal)] =
      Gen.oneOf(Gen.const(JBool(false)), anyTyped).map(s => "additionalProperties" -> s)
    val one: Gen[(String, JVal)] = Gen.oneOf(
      for (k <- Gen.oneOf(names); ds <- Gen.someOf(names))
        yield "dependencies" -> JObj.of(k -> JArr(ds.map(jstr).toVector)),
      for (k <- Gen.oneOf(names); n <- Gen.choose(1, fields.size))
        yield "dependencies" -> JObj.of(k -> JObj.of("minProperties" -> jnum(n))),
      for (k <- Gen.oneOf(names); sub <- anyTyped)
        yield "dependencies" -> JObj.of(k -> JObj.of("properties" -> JObj.of(fields.head -> sub))),
      Gen.oneOf(JObj.of("maxLength" -> jnum(4)), JObj.of("pattern" -> jstr("^[a-z_]+$")),
        JObj.of("enum" -> arr("kind", "text", "offset", "doc_id")))
        .map(s => "propertyNames" -> s),
      patternProps,
      additional,
      Gen.choose(0, 4).map(n => "minProperties" -> jnum(n)),
      Gen.choose(1, 4).map(n => "maxProperties" -> jnum(n)))
    Gen.frequency(
      3 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, one))
        .map(kws => kws.toVector.groupBy(_._1).map(_._2.head).toVector.sortBy(_._1)),
      // a property matched by a pattern is not additional
      1 -> Gen.zip(patternProps, additional).map { case (p, a) => Vector(p, a) })
  }

  private val spanFields = Vector("kind", "text", "media_ref", "offset")

  /** Conditionals and conjunctions inside `items`. */
  private val itemLogicKw: Gen[Vector[(String, JVal)]] = Gen.oneOf(
    for (k <- Gen.oneOf("text", "media"); off <- intPred) yield Vector[(String, JVal)](
      "if" -> JObj.of("properties" -> JObj.of("kind" -> JObj.of("const" -> jstr(k)))),
      "then" -> JObj.of("required" -> arr("media_ref")),
      "else" -> JObj.of("properties" -> JObj.of("offset" -> off))),
    intPred.map(off => Vector[(String, JVal)](
      "if" -> JObj.of("required" -> arr("text")),
      "then" -> JObj.of("properties" -> JObj.of("offset" -> off)))),
    for (off <- intPred; req <- Gen.someOf(spanFields)) yield Vector[(String, JVal)](
      "allOf" -> JArr(Vector(
        JObj.of("properties" -> JObj.of("offset" -> off)),
        JObj.of("required" -> JArr(req.map(jstr).toVector))))),
    // the doc schema's own shape: an `if` wrapped in `allOf`
    Gen.const(Vector[(String, JVal)]("allOf" -> JArr(Vector(JObj.of(
      "if" -> JObj.of("properties" -> JObj.of("kind" -> JObj.of("const" -> jstr("media")))),
      "then" -> JObj.of("properties" -> JObj.of("media_ref" -> JObj.of("type" -> jstr("string"))))))))))

  /** `p`, sometimes with a `default` that may or may not validate against
    * it: a valid default lets `required` recover a missing property. */
  private def withDefault(p: JObj): Gen[JObj] = Gen.frequency(
    1 -> Gen.const(p),
    1 -> Gen.oneOf(jstr("text"), jstr("t"), jnum(0), jnum(7), JNull)
      .map(d => JObj(p.fields :+ ("default" -> d))))

  private val spanItemSchema: Gen[JObj] = for {
    kindPred <- Gen.oneOf(
      JObj.of("enum" -> JArr(Vector(jstr("text"), jstr("media")))),
      // mixed-type entries: the numeric can never match a string column
      JObj.of("enum" -> JArr(Vector(jstr("text"), jnum(7)))),
      JObj.of("const" -> jstr("text")),
      JObj.of("type" -> jstr("string"))).flatMap(withDefault)
    offPred <- intPred.flatMap(withDefault)
    // nullable string fields; null means absent, so `required` may fail
    textPred <- Gen.oneOf(
      JObj.of("type" -> arr("string", "null")),
      JObj.of("maxLength" -> jnum(1)),
      JObj.of("enum" -> arr("t", "m-1"))).flatMap(withDefault)
    textProps <- Gen.someOf("text", "media_ref")
    required <- Gen.frequency(
      2 -> Gen.const(Vector.empty[String]),
      2 -> Gen.const(Vector("kind")),
      2 -> Gen.someOf(spanFields).map(_.toVector),
      2 -> Gen.oneOf("text", "media_ref").map(Vector(_)))
    extras <- Gen.frequency(
      4 -> Gen.const(Vector.empty[(String, JVal)]),
      2 -> objectShapeKw(spanFields),
      2 -> itemLogicKw)
  } yield {
    val props = Vector("kind" -> (kindPred: JVal), "offset" -> (offPred: JVal)) ++
      textProps.map(_ -> (textPred: JVal))
    val base = Vector("type" -> (jstr("object"): JVal), "properties" -> (JObj(props): JVal))
    JObj((if (required.isEmpty) base else base :+ ("required" -> JArr(required.map(jstr)))) ++ extras)
  }

  private val spansItems: Gen[Vector[(String, JVal)]] = Gen.frequency(
    4 -> spanItemSchema.map(items => Vector[(String, JVal)]("items" -> items)),
    // tuple form: positions 0 and 1 get their own schema, the rest
    // `additionalItems` (absent, false or a schema)
    1 -> (for {
      a <- spanItemSchema
      b <- spanItemSchema
      pad <- Gen.oneOf(Gen.const(Vector.empty[(String, JVal)]),
        Gen.const(Vector[(String, JVal)]("additionalItems" -> JBool(false))),
        spanItemSchema.map(c => Vector[(String, JVal)]("additionalItems" -> c)))
    } yield Vector[(String, JVal)]("items" -> JArr(Vector(a, b))) ++ pad))

  private val spansPred: Gen[JObj] = for {
    items <- spansItems
    minI <- Gen.choose(0, 3)
    maxI <- Gen.choose(2, 6)
    extras <- Gen.someOf(
      Vector[(String, JVal)]("minItems" -> jnum(minI)),
      Vector[(String, JVal)]("maxItems" -> jnum(maxI)),
      Vector[(String, JVal)]("uniqueItems" -> JBool(true)),
      Vector[(String, JVal)]("contains" -> JObj.of("properties" ->
        JObj.of("kind" -> JObj.of("const" -> jstr("media"))))))
  } yield JObj(Vector("type" -> (jstr("array"): JVal)) ++ items ++ extras.flatten)

  private val docSchemaGen: Gen[JObj] = for {
    idPred <- stringPred
    spans <- spansPred
    combinator <- Gen.frequency(
      5 -> Gen.const(Vector.empty[(String, JVal)]),
      1 -> stringPred.map(p => Vector[(String, JVal)]("not" ->
        JObj.of("properties" -> JObj.of("doc_id" -> JObj(p.fields :+ ("type" -> (jstr("string"): JVal))))))),
      2 -> Gen.listOfN(2, stringPred).map(ps => Vector[(String, JVal)]("anyOf" ->
        JArr(ps.map(p => JObj.of("properties" -> JObj.of("doc_id" -> p))).toVector))),
      2 -> Gen.listOfN(2, Gen.choose(0, 5)).map(ns => Vector[(String, JVal)]("oneOf" ->
        JArr(ns.map(n => JObj.of("properties" -> JObj.of("spans" ->
          JObj.of("minItems" -> jnum(n))))).toVector).asInstanceOf[JVal])),
      2 -> objectShapeKw(Vector("doc_id", "spans")))
  } yield JObj(Vector(
    "type" -> (jstr("object"): JVal),
    "required" -> (JArr(Vector(jstr("doc_id"))): JVal),
    "properties" -> (JObj.of("doc_id" -> idPred, "spans" -> spans): JVal)) ++ combinator)

  // --- random docs -----------------------------------------------------------

  private val spanGen: Gen[Row] = for {
    k <- Gen.frequency(5 -> Gen.const("text"), 3 -> Gen.const("media"),
      1 -> Gen.const("imag"), 1 -> Gen.const(null))
    o <- Gen.frequency(6 -> Gen.choose(-5, 120).map(Integer.valueOf),
      1 -> Gen.const(null: Integer))
    t <- Gen.frequency(3 -> Gen.const("t"), 1 -> Gen.const("text"), 1 -> Gen.const(null))
    m <- Gen.frequency(2 -> Gen.const(null), 1 -> Gen.const("m-1"))
  } yield Row(k, t, m, o)

  /** `nullSpan`: some span elements are null (arrays with containsNull). */
  private def docGen(nullSpan: Boolean): Gen[Row] = for {
    id <- Gen.frequency(4 -> Gen.choose(1, 3).map(i => s"doc-$i"),
      2 -> Gen.const("doc-x"), 1 -> Gen.const(null),
      // format-shaped strings so format predicates see both outcomes
      1 -> Gen.oneOf("1.2.3.4", "2020-01-01T00:00:00Z", "spark.apache.org",
        "http://x/y", "[a-z)+"))
    n <- Gen.choose(0, 6)
    spans <- Gen.listOfN(n, if (nullSpan) Gen.frequency(9 -> spanGen, 1 -> Gen.const(null: Row))
      else spanGen)
    nullSpans <- Gen.frequency(8 -> Gen.const(false), 1 -> Gen.const(true))
  } yield Row(id, if (nullSpans) null else spans)

  /** containsNull = true is the shape of every parquet- or JSON-read table. */
  private def dfSchemaWith(containsNull: Boolean) = StructType(Seq(
    StructField("doc_id", StringType, nullable = true),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("media_ref", StringType, nullable = true),
      StructField("offset", IntegerType, nullable = true))),
      containsNull = containsNull), nullable = true)))
  private val dfSchema = dfSchemaWith(containsNull = false)

  // deep-fuzz knobs for one-off stress runs (defaults = CI-fast)
  private val nSchemas = sys.env.getOrElse("GRAFT_FUZZ_SCHEMAS", "20").toInt
  private val nDocs = sys.env.getOrElse("GRAFT_FUZZ_DOCS", "60").toInt

  test(s"random schemas × random docs: column plan ≡ row core ($nSchemas schemas × $nDocs docs)") {
    var seed = rng.Seed(2026L)
    var fellBack = 0
    (0 until nSchemas).foreach { i =>
      // half the schemas run over arrays whose elements may be null
      val containsNull = i % 2 == 1
      val schema = docSchemaGen.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val docs = Gen.listOfN(nDocs, docGen(containsNull))
        .pureApply(Gen.Parameters.default, seed); seed = seed.next
      val schemaJson = Json.render(schema)
      val dfType = dfSchemaWith(containsNull)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(docs, 2), dfType)
        .withColumn("doc_num", monotonically_increasing_id())

      val compiled =
        try {
          ColumnCompiler.validity(graft.schema.SchemaDoc.schema(schemaJson),
            struct(col("doc_id"), col("spans")), StructType(dfType.fields))
          true
        } catch { case _: ColumnCompiler.Unsupported => fellBack += 1; false }

      if (compiled) {
        // the instance is (doc_id, spans), the same fields the column path sees
        def verdicts(out: org.apache.spark.sql.DataFrame) =
          out.select("doc_num", "valid", "errors").collect().map { r =>
            r.getLong(0) -> (r.getBoolean(1), r.getSeq[Row](2)
              .map(v => (v.getString(0), v.getString(1), v.getString(2))).sorted)
          }.toMap
        val cp = verdicts(ValidationJob.withVerdicts(spark, df, schemaJson))
        val rp = verdicts(RowValidator.validateRows(spark, df, schemaJson, Some(Seq("doc_id", "spans"))))
        assert(cp.keySet === rp.keySet)
        cp.foreach { case (n, (valid, errors)) =>
          val (rowValid, rowErrors) = rp(n)
          assert(valid === rowValid,
            s"col≠row schema#$i (containsNull=$containsNull): $schemaJson doc_num=$n")
          assert(errors === rowErrors,
            s"violation rows col≠row schema#$i (containsNull=$containsNull): $schemaJson doc_num=$n")
        }
      }
    }
    info(s"schemas compiled: ${nSchemas - fellBack}, row-core fallbacks: $fellBack")
  }

  test("struct additionalProperties skips fields matched by patternProperties") {
    // a struct field matched by a pattern is not additional, so `false`
    // must not flag it
    val schemaJson = Json.render(JObj.of("properties" -> JObj.of("spans" -> JObj.of(
      "items" -> JObj.of(
        "properties" -> JObj.of("kind" -> JObj.of("type" -> jstr("string"))),
        "patternProperties" -> JObj.of("^(text|off)" -> JObj.of("minimum" -> jnum(0))),
        "additionalProperties" -> JBool(false))))))
    val docs = Seq(
      Row("doc-1", Seq(Row("text", "t", null, 3))),       // only pattern fields
      Row("doc-2", Seq(Row("text", "t", "m-1", 3))),      // media_ref is additional
      Row("doc-3", Seq(Row("text", null, null, -1))))     // offset fails its pattern
    val df = spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), dfSchema)
      .withColumn("doc_num", monotonically_increasing_id())
    val verdicts = ValidationJob.withVerdicts(spark, df, schemaJson)
      .select("doc_id", "valid").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts === Map("doc-1" -> true, "doc-2" -> false, "doc-3" -> false))
    val rowCore = RowValidator.validateRows(spark, df, schemaJson, Some(Seq("doc_id", "spans")))
      .select("doc_id", "valid").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts === rowCore)
  }

  test("required inside items recovers a missing property from a valid default on every path") {
    // a null `text` is absent; `required` accepts it when the property's
    // default validates (validate.cljc:353-389), and flags it otherwise.
    // The row core injects the default, so a later keyword reads it.
    def verdicts(default: JVal, later: (String, JVal)*): (Map[String, Boolean],
        Set[(String, String, String)]) = {
      val schemaJson = Json.render(JObj.of("properties" -> JObj.of("spans" -> JObj(Vector(
        "items" -> JObj.of(
          "required" -> arr("text"),
          "properties" -> JObj.of("text" -> JObj.of(
            "type" -> arr("string", "null"), "default" -> default)))) ++ later))))
      val docs = Seq(
        Row("doc-1", Seq(Row("text", null, null, 0))),
        Row("doc-2", Seq(Row("text", "t", null, 0))))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), dfSchema)
        .withColumn("doc_num", monotonically_increasing_id())
      def byDoc(out: org.apache.spark.sql.DataFrame) =
        out.select("doc_id", "valid").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      val full = ValidationJob.withVerdicts(spark, df, schemaJson)
      val v = byDoc(full)
      assert(byDoc(ValidationJob.withVerdictsOnly(spark, df, schemaJson)) === v)
      val registry = SchemaRegistry.compile(Map("s" -> schemaJson))
      assert(byDoc(SchemaRegistry.validateWith(
        df.select(col("doc_id"), col("spans"), lit("s").as("schema_name")),
        registry, "schema_name")) === v)
      assert(byDoc(RowValidator.validateRows(spark, df, schemaJson,
        Some(Seq("doc_id", "spans")))) === v)
      val rows = ValidationJob.violations(full).select("doc_id", "path", "keyword").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      // valid ⟺ no violation rows
      assert(v.filter(!_._2).keySet === rows.map(_._1))
      (v, rows)
    }
    assert(verdicts(jstr("x")) === (Map("doc-1" -> true, "doc-2" -> true), Set.empty))
    assert(verdicts(jnum(7)) === (Map("doc-1" -> false, "doc-2" -> true),
      Set(("doc-1", "/spans/0/text", "required"))))
    // doc-1's only span gets text "x", so no span has text "t"
    val (v, rows) = verdicts(jstr("x"),
      "contains" -> JObj.of("properties" -> JObj.of("text" -> JObj.of("const" -> jstr("t")))))
    assert(v === Map("doc-1" -> false, "doc-2" -> true))
    assert(rows.map(_._3) === Set("contains"))
  }

  test("null span elements: each items `type` form agrees with the row core, violations included") {
    // containsNull = true, the shape of a file-read table
    val docs = Seq(
      Row("doc-1", Seq(Row("text", "t", null, 0), null)),     // a null element
      Row("doc-2", Seq(null, Row("imag", "t", null, -1))),    // beside a bad sibling
      Row("doc-3", Seq(Row(null, "t", null, 0))),             // a missing kind
      Row("doc-4", Seq(Row("media", null, null, 1))),         // media with no ref
      Row("doc-5", Seq(Row("text", "t", null, 0), Row("media", null, "m-1", 2))),
      Row("doc-6", Seq(null, Row(null, "t", null, 0))))       // beside a missing kind
    val df = spark.createDataFrame(spark.sparkContext.parallelize(docs, 2),
      dfSchemaWith(containsNull = true)).withColumn("doc_num", monotonically_increasing_id())
    val mediaHasRef = JObj.of(
      "if" -> JObj.of("properties" -> JObj.of("kind" -> JObj.of("const" -> jstr("media")))),
      "then" -> JObj.of("properties" -> JObj.of("media_ref" -> JObj.of("type" -> jstr("string")))))
    // without `required`, only the type check sees a null element
    def element(typ: Option[JVal], typeInAllOf: Boolean, required: Boolean = true): JVal = JObj(
      typ.map("type" -> _).toVector ++ Option.when(required)("required" -> arr("kind", "offset")) ++
        Vector(
          "properties" -> JObj.of(
            "kind" -> JObj.of("enum" -> arr("text", "media")),
            "media_ref" -> JObj.of("type" -> arr("string", "null")),
            "offset" -> JObj.of("type" -> jstr("integer"), "minimum" -> jnum(0))),
          "allOf" -> JArr(
            Option.when(typeInAllOf)(JObj.of("type" -> jstr("object"))).toVector :+ mediaHasRef)))
    // a required `kind` that its valid default recovers: no `required`
    // twin, so the element-null guard must stay
    val recoveredKind = JObj.of("type" -> jstr("object"), "required" -> arr("kind"),
      "properties" -> JObj.of(
        "kind" -> JObj.of("enum" -> arr("text", "media"), "default" -> jstr("text")),
        "offset" -> JObj.of("type" -> jstr("integer"), "minimum" -> jnum(0))))
    val nullFails = Map("doc-1" -> false, "doc-2" -> false, "doc-3" -> false, "doc-4" -> true,
      "doc-5" -> true, "doc-6" -> false)
    val nullPasses = nullFails + ("doc-1" -> true)
    // (items schema, expected verdicts, the form of `valid`: "forall", the
    // field-array form with the element-null guard, or without it)
    val cases = Seq(
      (element(Some(jstr("object")), typeInAllOf = false), nullFails, "twin"),
      (element(Some(jstr("object")), typeInAllOf = false, required = false),
        nullFails + ("doc-3" -> true), "guard"),
      (element(Some(arr("object", "null")), typeInAllOf = false), nullPasses, "forall"),
      (element(None, typeInAllOf = false), nullPasses, "forall"),
      (element(None, typeInAllOf = true), nullFails, "forall"),
      (recoveredKind, nullFails + ("doc-3" -> true), "guard"))
    cases.foreach { case (items, expected, form) => nullElementsAgree(df, items, expected, form) }

    // a non-nullable field in a containsNull = true array: its field array
    // still holds a null for a null element, so its `required` twin must
    // scan it (the guard is dropped)
    val offsetRequired = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("doc-1", Seq(Row("text", "t", null, 0), null)),
        Row("doc-2", Seq(Row("text", "t", null, 0))),
        Row("doc-3", Seq(null)),
        Row("doc-4", Seq(Row("text", "t", null, -1)))), 2),
      StructType(Seq(StructField("doc_id", StringType), StructField("spans", ArrayType(
        StructType(DocTable.spanType.fields.map(f => f.copy(nullable = f.name != "offset"))),
        containsNull = true)))))
      .withColumn("doc_num", monotonically_increasing_id())
    nullElementsAgree(offsetRequired,
      JObj.of("type" -> jstr("object"), "required" -> arr("offset"),
        "properties" -> JObj.of("offset" -> JObj.of("minimum" -> jnum(0)))),
      Map("doc-1" -> false, "doc-2" -> true, "doc-3" -> false, "doc-4" -> false), "twin")
  }

  /** `items` over the spans of `df`: the verdict-only, full and row-core
    * paths give `expected`, and the full path's violation rows equal the
    * row core's. */
  private def nullElementsAgree(df: org.apache.spark.sql.DataFrame, items: JVal,
      expected: Map[String, Boolean], form: String): Unit = {
    val schemaJson = Json.render(JObj.of("properties" -> JObj.of("spans" -> JObj.of("items" -> items))))
    def byDoc(out: org.apache.spark.sql.DataFrame) =
      out.select("doc_id", "valid").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    def leaves(out: org.apache.spark.sql.DataFrame) =
      out.select(col("doc_id"), explode(col("errors")).as("v"))
        .select("doc_id", "v.path", "v.keyword").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val only = ValidationJob.withVerdictsOnly(spark, df, schemaJson)
    val plan = only.queryExecution.optimizedPlan.toString
    val guard = "graft_every_element\\(spans#\\d+, None\\)".r.findFirstIn(plan).isDefined
    assert((plan.contains("forall("), guard) === (form == "forall", form == "guard"),
      s"$form: $schemaJson")
    val full = ValidationJob.withVerdicts(spark, df, schemaJson)
    val rowCore = RowValidator.validateRows(spark, df, schemaJson, Some(Seq("doc_id", "spans")))
    assert(byDoc(only) === expected, schemaJson)
    assert(byDoc(full) === expected, schemaJson)
    assert(byDoc(rowCore) === expected, schemaJson)
    val rows = leaves(full)
    assert(rows === leaves(rowCore), schemaJson)
    // valid ⟺ no violation rows
    assert(expected.filter(!_._2).keySet === rows.map(_._1), schemaJson)
    if (!expected("doc-1")) assert(rows.contains(("doc-1", "/spans/1", "type")), schemaJson)
  }
}
