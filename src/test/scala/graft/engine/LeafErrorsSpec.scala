package graft.engine

import java.io.File

import graft.json._
import graft.schema.{Resolver, SchemaDoc}
import graft.validate.{Options, Validator, Violation}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `RowValidator.leafErrors`, built over prefix sets, against its
  * definition as two pairwise scans, kept here as the reference. */
class LeafErrorsSpec extends AnyFunSuite {

  private val parents = Set("properties", "items", "allOf", "anyOf", "dependencies",
    "patternProperties", "additionalProperties", "then", "else", "$ref")

  /** The definition: quadratic in the violation count. */
  private def reference(errors: Vector[Violation]): Vector[Violation] =
    errors.filterNot { v =>
      (parents.contains(v.keyword) &&
        errors.exists(o => o != v && (o.path.startsWith(v.path + "/") ||
          (o.path == v.path && !parents.contains(o.keyword))))) ||
      errors.exists(o => o.keyword == v.keyword && o.path != v.path &&
        o.path.startsWith(v.path + "/"))
    } match {
      case Vector() if errors.nonEmpty => errors.take(1)
      case leaves => leaves
    }

  private val remotesDir = new File("src/test/resources/remotes")
  private val opts = Options(resolvers = Seq(Resolver.BuiltIn, Resolver.MapResolver(patterns = Seq(
    "http://localhost:1234/(.*)".r ->
      ((rel: String) => Resolver.FromFile(new File(remotesDir, rel).getPath))))))

  private def files(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
    else if (f.getName.endsWith(".json")) Seq(f)
    else Nil

  test("equals the definition on every draft-7 suite case") {
    var compared, failing = 0
    for {
      file <- files(new File("src/test/resources/draft7"))
      group <- Json.parse(new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8"))
        .asInstanceOf[JArr].items.map(_.asInstanceOf[JObj])
      schema <- scala.util.Try(SchemaDoc.schema(Json.render(group.get("schema").get))).toOption
      test <- group.get("tests").collect { case JArr(t) => t }.getOrElse(Vector.empty)
      // a few schemas hold regexes Java cannot compile (see OfficialSuiteSpec)
      res <- scala.util.Try(Validator.validate(schema, test.asInstanceOf[JObj].get("data").get, opts))
        .toOption
    } {
      assert(RowValidator.leafErrors(res.errors) === reference(res.errors),
        s"${file.getName}: ${res.errors}")
      compared += 1
      if (res.errors.nonEmpty) failing += 1
    }
    assert(compared > 1000 && failing > 400, s"$compared cases, $failing failing")
  }

  test("equals the definition on nested paths, repeated keywords and empty keys") {
    def v(path: String, kw: String) = Violation(path, kw, kw)
    val cases = Seq(
      Vector(v("", "properties"), v("/a", "required"), v("/a/b", "required"), v("/a/b", "type")),
      Vector(v("", "anyOf"), v("", "maximum"), v("", "minimum")),
      Vector(v("", "oneOf")),
      Vector(v("", "allOf"), v("", "then")),
      Vector(v("/a", "items"), v("/a/", "items"), v("/a//x", "type"), v("/a/", "enum")),
      Vector(v("/x", "properties"), v("/xy", "minimum"), v("/x", "properties")),
      Vector(v("", "required"), v("/k", "required"), v("/k/j", "required"), v("/q", "enum")),
      Vector(v("", "$ref"), v("/a", "$ref"), v("/a/b", "$ref")))
    cases.foreach(errs => assert(RowValidator.leafErrors(errs) === reference(errs), errs))
  }

  test("60,002 violations of 20,000 failing span elements flatten in bounded time") {
    // the doc schema's violations of a doc whose every span fails `enum` on
    // kind and `minimum` on offset, with their applicator rows; the
    // definition takes ~47 s on them (4 cores, JDK 17), the prefix sets
    // well under a second
    def v(path: String, kw: String) = Violation(path, kw, kw)
    val n = 20000
    val errors = Vector(v("", "properties"), v("/spans", "items")) ++
      (0 until n).flatMap(i => Seq(v(s"/spans/$i", "properties"),
        v(s"/spans/$i/kind", "enum"), v(s"/spans/$i/offset", "minimum")))
    val start = System.nanoTime()
    val leaves = RowValidator.leafErrors(errors)
    val seconds = (System.nanoTime() - start) / 1e9
    assert(leaves.groupBy(_.keyword).map { case (k, vs) => k -> vs.size } ===
      Map("enum" -> n, "minimum" -> n))
    assert(seconds < 5, s"$seconds s")
  }

  test("a doc with 20,000 failing span elements gets one row per failing keyword and span") {
    val spark = SparkTestSession.spark
    val n = 20000
    val spanType = StructType(Seq(StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType)))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, "doc-0", (0 until n).map(i => Row("bad", null, null, -i - 1))),
      Row(1L, "doc-1", Seq(Row("text", "t", null, 0)))), 1),
      StructType(Seq(StructField("doc_num", LongType), StructField("doc_id", StringType),
        StructField("spans", ArrayType(spanType)))))
    val rows = ValidationJob.violations(
      ValidationJob.withVerdicts(spark, frame, DocTable.docSchemaJson))
      .groupBy("keyword").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // each span fails `enum` on kind and `minimum` on offset
    assert(rows === Map("enum" -> n, "minimum" -> n), rows)
  }
}
