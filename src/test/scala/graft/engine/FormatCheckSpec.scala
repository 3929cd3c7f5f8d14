package graft.engine

import graft.validate.Formats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native FormatCheck expression must agree with the row core's
  * Formats.check on every format × sample (it delegates to the same code —
  * this guards the Catalyst plumbing: null handling, UTF8String bridge,
  * codegen path). */
class FormatCheckSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val formats = Seq(
    "date-time", "date", "time", "email", "idn-email", "hostname",
    "idn-hostname", "ipv4", "ipv6", "uri", "uri-reference", "iri",
    "iri-reference", "uri-template", "json-pointer", "relative-json-pointer",
    "regex", "some-unknown-format")

  private val samples = Seq(
    "2020-01-01", "2020-01-01T12:00:00Z", "12:00:00", "23:59:60Z",
    "a@b.com", "müller@example.com", "spark.apache.org",
    "bücher.example", "a" * 64 + ".example.com", "1.2.3.4", "256.1.1.1",
    "::1", "2001:db8::1", "http://example.com/a?b=c#d", "//rel/ref",
    "/a/~1b", "1/a#", "[a-z]+", "a\\Zb", "not a format at all", "",
    "a" * 300)

  test("FormatCheck expression ≡ Formats.check across all formats × samples") {
    val df = samples.zipWithIndex.map(_.swap).toDF("i", "s")
    formats.foreach { fmt =>
      val got = df.select(col("i"),
        graft.engine.expressions.FormatCheckFunctions.formatCheck(col("s"), fmt))
        .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      samples.zipWithIndex.foreach { case (s, i) =>
        assert(got(i) === Formats.check(fmt, s), s"format=$fmt sample=${s.take(40)}")
      }
    }
  }

  test("format keywords no longer force whole-schema row-core fallback") {
    val df = Seq(("2020-01-01T12:00:00Z", "bücher.example"),
      ("not-a-date", "spark.apache.org")).toDF("ts", "host")
    val schema = graft.schema.SchemaDoc.schema(
      """{"properties":{"ts":{"format":"date-time"},"host":{"format":"idn-hostname"}}}""")
    val ptype = org.apache.spark.sql.types.StructType(df.schema.fields)
    // compiles — no Unsupported — and the plan has no row-core call
    val out = df.withColumn("errors",
      ColumnCompiler.lowerings(schema, struct(col("ts"), col("host")), ptype)._2())
    assert(!out.queryExecution.optimizedPlan.toString.contains("graft_validate"))
    val verdicts = out.select(size(col("errors")) === 0).collect().map(_.getBoolean(0))
    assert(verdicts.toSeq === Seq(true, false))
  }
}
