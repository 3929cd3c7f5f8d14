package graft.validate

import graft.json._
import graft.schema._
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's own unit tests (`validate_test.cljc`,
  * `coercion_test.cljc`, `annotation_test.cljc`) covering behaviors the
  * official suite does not exercise: instance transformation, required
  * recovery via defaults, and type coercions. */
class ValidateUnitSpec extends AnyFunSuite {

  private def run(schema: String, instance: String,
      opts: Options = Options()): (Boolean, JVal) = {
    val r = Validator.validate(SchemaDoc.schema(Json.parse(schema)), Json.parse(instance), opts)
    (r.valid, r.instance)
  }

  test("boolean schemas (validate_test.cljc:15-22)") {
    assert(run("true", "\"x\"") === (true, JStr("x")))
    assert(run("false", "\"x\"")._1 === false)
  }

  test("nested properties transformation keeps instance (validate_test.cljc:280-297)") {
    assert(run(
      """{"type":"object","properties":{"foo":{"type":"object","properties":{"bar":{"type":"number"}}}}}""",
      """{"foo":{"bar":10}}""") === (true, Json.parse("""{"foo":{"bar":10}}""")))
    assert(run(
      """{"type":"object","properties":{"foo":{"type":"object","properties":{"bar":{"type":"string"}}}}}""",
      """{"foo":{"bar":10}}""")._1 === false)
  }

  test("required recovery injects a valid default (validate_test.cljc:299-306)") {
    assert(run(
      """{"type":"object","required":["foo"],"properties":{"foo":{"type":"string","default":"bar"}}}""",
      "{}") === (true, Json.parse("""{"foo":"bar"}""")))
  }

  test("a default injected inside items → properties reaches the result instance") {
    val schema =
      """{"type":"array","items":{"type":"object","properties":{
        |  "a":{"type":"object","required":["b"],
        |    "properties":{"b":{"type":"string","default":"z"}}},
        |  "c":{"type":"integer"}}}}""".stripMargin
    assert(run(schema, """[{"a":{},"c":1},{"a":{"b":"y"},"c":2}]""") ===
      (true, Json.parse("""[{"a":{"b":"z"},"c":1},{"a":{"b":"y"},"c":2}]""")))
  }

  test("an instance no keyword transforms comes back as the same object") {
    val inst = Json.parse("""[{"a":{"b":"y"},"c":1}]""")
    val r = Validator.validate(SchemaDoc.schema(
      """{"items":{"properties":{"a":{"properties":{"b":{"type":"string"}}},"c":{}}}}"""), inst)
    assert(r.valid)
    assert(r.instance eq inst)
  }

  test("no recovery without a default; no implied defaults (validate_test.cljc:327-379)") {
    val schema =
      """{"type":"object","required":["foo"],
        |"properties":{"foo":{"type":"object","required":["bar"],
        |  "properties":{"bar":{"default":"zip"}}}}}""".stripMargin
    val (valid, inst) = run(schema, "{}")
    assert(!valid)
    assert(inst === JObj.empty)
    // nil parent: object keywords don't apply, but `type` fails
    assert(run(schema, "null")._1 === false)
  }

  test("dependencies schema-form validates whole instance (validate_test.cljc:381-422)") {
    assert(run(
      """{"dependencies":{"bar":{"properties":{"foo":{"type":"integer"},"bar":{"type":"integer"}}}}}""",
      """{"foo":1,"bar":2}""") === (true, Json.parse("""{"foo":1,"bar":2}""")))
  }

  test("coercions: string to integer (coercion_test.cljc:11-30)") {
    val coerce = Options(coercions = Map(
      ("string", "integer") -> ((v: JVal) => v match {
        case JStr(s) => JNum(BigDecimal(s.toInt))
        case other   => other
      })))
    assert(run("""{"type":"integer"}""", "\"123\"", coerce) === (true, JNum(BigDecimal(123))))
    assert(run("""{"properties":{"foo":{"type":"integer"}}}""", """{"foo":"123"}""", coerce) ===
      (true, Json.parse("""{"foo":123}""")))
  }

  test("coercions: string wrapped into integer array (coercion_test.cljc:32-55)") {
    val coerce = Options(coercions = Map(
      ("string", "integer") -> ((v: JVal) => v match {
        case JStr(s) => JNum(BigDecimal(s.toInt)); case other => other
      }),
      ("string", "array") -> ((v: JVal) => JArr(Vector(v)))))
    assert(run("""{"properties":{"foo":{"type":"array","items":{"type":"integer"}}}}""",
      """{"foo":"123"}""", coerce) === (true, Json.parse("""{"foo":[123]}""")))
    assert(run("""{"properties":{"foo":{"type":"array","items":{"type":"integer"}}}}""",
      """{"foo":["123","456"]}""", coerce) === (true, Json.parse("""{"foo":[123,456]}""")))
  }

  test("failing coercion produces an error (validate.cljc:190-207)") {
    val coerce = Options(coercions = Map(
      ("string", "integer") -> ((v: JVal) => v match {
        case JStr(s) => JNum(BigDecimal(s.toInt)); case other => other
      })))
    assert(run("""{"type":"integer"}""", "\"not-a-number\"", coerce)._1 === false)
  }

  test("contentMediaType transforms instance to parsed JSON (validate.cljc:719-739)") {
    val r = Validator.validate(
      SchemaDoc.schema("""{"contentMediaType":"application/json"}"""),
      Json.parse("\"{\\\"a\\\": 1}\""))
    assert(r.valid)
    assert(r.instance === Json.parse("""{"a":1}"""))
  }

  test("annotations are collected (annotation_test.cljc)") {
    val r = Validator.validate(
      SchemaDoc.schema("""{"title":"T","description":"D","default":42,"type":"integer"}"""),
      JNum(BigDecimal(7)))
    assert(r.valid)
    assert(r.annotations.get("title") === Some(JStr("T")))
    assert(r.annotations.get("description") === Some(JStr("D")))
    assert(r.annotations.get("default") === Some(JNum(BigDecimal(42))))
  }

  test("oneOf single winner's transformation propagates (validate.cljc:507-521)") {
    val coerce = Options(coercions = Map(
      ("string", "integer") -> ((v: JVal) => v match {
        case JStr(s) => JNum(BigDecimal(s.toInt)); case other => other
      })))
    val r = Validator.validate(
      SchemaDoc.schema("""{"oneOf":[{"type":"integer"},{"type":"boolean"}]}"""),
      JStr("42"), coerce)
    assert(r.valid)
    assert(r.instance === JNum(BigDecimal(42)))
  }

  test("journal follows a custom keywordOrder; unlisted keywords follow in schema order") {
    val schema = SchemaDoc.schema("""{"maximum":10,"type":"integer","title":"T","description":"D"}""")
    def journaled(opts: Options) =
      Validator.validate(schema, JNum(50L), opts.copy(journal = true)).journal.map(_.keyword)
    assert(journaled(Options()) === Vector("title", "description", "type", "maximum"))
    assert(journaled(Options(keywordOrder = Some(Seq("maximum", "description")))) ===
      Vector("maximum", "description", "type", "title"))
  }

  test("$comment, $id and unknown keywords leave no journal entry") {
    val schema = SchemaDoc.schema(
      """{"$id":"http://example.com/s","$comment":"c","x-custom":1,"title":"T"}""")
    for (order <- Seq(None, Some(Seq("$comment", "x-custom", "$id", "title")))) {
      val r = Validator.validate(schema, JNum(1L), Options(keywordOrder = order, journal = true))
      assert(r.journal.map(_.keyword) === Vector("title"), s"order $order")
    }
  }

  test("length and count bounds past Int range do not wrap") {
    assert(run("""{"minLength":3000000000}""", "\"abc\"")._1 === false)
    assert(run("""{"maxLength":4294967296}""", "\"abc\"")._1 === true)
    assert(run("""{"minItems":4294967297}""", "[1]")._1 === false)
    assert(run("""{"maxItems":4294967296}""", "[1]")._1 === true)
    assert(run("""{"minProperties":4294967298}""", """{"a":1,"b":2}""")._1 === false)
    assert(run("""{"maxProperties":4294967296}""", """{"a":1,"b":2}""")._1 === true)
  }

  test("JSON pointer evaluation (jsonpointer.cljc:7-49)") {
    val doc = Json.parse("""{"a":[{"b":"alpha"},{"b":[{"c":{"greek":"delta"}}]}]}""")
    assert(JsonPointer.eval(doc, "/a/1/b/0/c/greek") === JStr("delta"))
    assert(JsonPointer.eval(doc, "") === doc)
    intercept[JsonPointer.PointerException] { JsonPointer.eval(doc, "/missing") }
  }

  test("schema conformance rejects malformed schemas (schema_test.cljc)") {
    def rejects(s: String) =
      intercept[SchemaConformance.SchemaException] { SchemaDoc.schema(s) }
    rejects("""{"type":"float"}""")
    rejects("""{"type":123}""")
    rejects("""{"enum":"not-an-array"}""")
    rejects("""{"enum":[]}""")
    rejects("""{"enum":[1,1]}""")
    rejects("""{"multipleOf":0}""")
    rejects("""{"multipleOf":"2"}""")
    rejects("""{"maxLength":-1}""")
    rejects("""{"minLength":1.5}""")
    rejects("""{"pattern":123}""")
    rejects("""{"items":"x"}""")
    rejects("""{"required":[1]}""")
    rejects("""{"required":["a","a"]}""")
    rejects("""{"properties":[]}""")
    rejects("""{"dependencies":{"a":1}}""")
    rejects("""{"allOf":[]}""")
    rejects("""{"oneOf":"x"}""")
    rejects("""{"not":"x"}""")
    rejects("""{"format":123}""")
    rejects("""{"properties":{"p":{"type":"bogus"}}}""")
    // strict SHOULD rules relax when strict=false
    SchemaDoc.schema(Json.parse("""{"enum":[]}"""), strict = false)
  }

  test("regex named components (regex_test.cljc:15-31)") {
    assert(Formats.check("email", "mal@juxt.pro"))
    assert(!Formats.check("email", "mal@@juxt.pro"))
    assert(Formats.check("iri", "https://例え.テスト/パス?クエリ=値"))
    assert(Formats.check("uri", "https://juxt.pro/a/b?q=1#frag"))
  }
}
