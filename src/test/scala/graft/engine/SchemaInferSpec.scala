package graft.engine

import graft.json.Json
import graft.validate.Validator
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Constraint suggestion: evidence rules, schema assembly, and the
  * round-trip property (every row of the profiled corpus validates against
  * the schema inferred from it). */
class SchemaInferSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def evidenceMap(df: DataFrame): Map[String, Row] =
    SchemaInfer.evidence(df).collect().map(r => r.getString(0) -> r).toMap

  test("evidence: types, required, bounds, enum, date format, integral narrowing") {
    import spark.implicits._
    val df = Seq(
      (1L, "red", Some(2.0d), "2021-01-01", Some("x")),
      (2L, "blue", Some(5.0d), "2021-06-30", None),
      (3L, "red", None, "2022-12-31", Some("yy"))
    ).toDF("id", "color", "ratio", "day", "note")
    val ev = evidenceMap(df)

    val id = ev("/id")
    assert(id.getString(1) === "integer" && id.getBoolean(2))
    assert(id.getDouble(3) === 1.0 && id.getDouble(4) === 3.0)

    val color = ev("/color")
    assert(color.getString(1) === "string" && color.getBoolean(2))
    assert(color.getLong(5) === 3 && color.getLong(6) === 4) // len(red)/len(blue)
    assert(color.getString(8) === "blue|red") // sorted enum CSV
    assert(color.isNullAt(9)) // not a date

    val ratio = ev("/ratio") // whole-valued doubles narrow to integer
    assert(ratio.getString(1) === "integer" && !ratio.getBoolean(2)) // has a null

    val day = ev("/day")
    assert(day.getString(9) === "date") // every value matches the ISO shape

    val note = ev("/note")
    assert(!note.getBoolean(2) && note.getLong(5) === 1 && note.getLong(6) === 2)
  }

  test("evidence: non-whole doubles stay number; >enumMax distinct strings get no enum") {
    import spark.implicits._
    val df = Seq.tabulate(40)(i => (i + 0.5d, s"v$i")).toDF("x", "s")
    val ev = evidenceMap(df)
    assert(ev("/x").getString(1) === "number")
    assert(ev("/s").isNullAt(8))
    assert(ev("/s").getLong(7) === 40)
  }

  test("evidence: nested struct and array paths (docs shape)") {
    val docs = DocTable.docs(spark, sfDir)
    val ev = evidenceMap(docs)
    assert(ev.keySet === Set("/doc_num", "/doc_id", "/spans",
      "/spans/*/kind", "/spans/*/text", "/spans/*/media_ref", "/spans/*/offset"))
    val spans = ev("/spans")
    assert(spans.getString(1) === "array")
    assert(spans.getLong(5) === 0 && spans.getLong(6) === 4) // minItems..maxItems
    val kind = ev("/spans/*/kind")
    assert(kind.getString(8) === "imag|media|text")
    val offset = ev("/spans/*/offset")
    assert(offset.getString(1) === "integer" && offset.getDouble(3) === -1.0)
    assert(!ev("/spans/*/text").getBoolean(2)) // media spans carry null text
  }

  test("round trip: every doc validates against the schema inferred from the corpus") {
    val docs = DocTable.docs(spark, sfDir).cache()
    val schemaJson = SchemaInfer.inferSchema(docs.select("doc_id", "spans"))
    val parsed = Json.parse(schemaJson) // the emitted document is valid JSON
    assert(Json.render(parsed).nonEmpty)
    val lines = docs.select(to_json(struct(col("doc_id"), col("spans"))))
      .collect().map(_.getString(0))
    assert(lines.nonEmpty)
    val bad = lines.filterNot(l => Validator.validate(schemaJson, l).valid)
    assert(bad.isEmpty, s"${bad.size} docs fail their own inferred schema: ${bad.take(3).mkString(" | ")}")
    // and the inferred contract is TIGHT: a value outside the observed
    // bounds / enum / required set is a violation
    assert(!Validator.validate(schemaJson,
      """{"doc_id":"doc-1","spans":[{"kind":"video","text":null,"media_ref":null,"offset":0}]}""").valid)
    assert(!Validator.validate(schemaJson,
      """{"spans":[]}""").valid) // doc_id is required (never null in corpus)
    docs.unpersist()
  }

  test("inferred schema narrows doubles: whole-valued quantity becomes integer with bounds") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_quantity", "l_returnflag")
    val schemaJson = SchemaInfer.inferSchema(li)
    val obj = Json.parse(schemaJson).asInstanceOf[graft.json.JObj]
    val props = obj.get("properties").get.asInstanceOf[graft.json.JObj]
    val qty = props.get("l_quantity").get.asInstanceOf[graft.json.JObj]
    assert(qty.get("type").contains(graft.json.JStr("integer")))
    assert(qty.has("minimum") && qty.has("maximum"))
    val rf = props.get("l_returnflag").get.asInstanceOf[graft.json.JObj]
    assert(rf.has("enum"))
    // enum values are the exact distinct set
    val vs = rf.get("enum").get.asInstanceOf[graft.json.JArr].items
      .map(_.asInstanceOf[graft.json.JStr].v).toSet
    val want = li.select("l_returnflag").distinct().collect().map(_.getString(0)).toSet
    assert(vs === want)
  }

  test("evidenceDiff: identity is empty; each contract break surfaces as its aspect") {
    import spark.implicits._
    val ref = Seq(
      (1L, "red", 10.0d, Some("2021-01-01")),
      (2L, "blue", 20.0d, Some("2021-06-30"))
    ).toDF("id", "color", "score", "day")
    // drifted current snapshot: fractions in an integral column (type),
    // new enum value + longer string (enum, max_len), values above range
    // (max_value), nulls in a required column (required), a new column
    // (added)
    val cur = Seq(
      (1L, "red", 10.5d, Some("2021-01-01"), 1),
      (3L, "green", 99.0d, None, 2)
    ).toDF("id", "color", "score", "day", "extra")
    val refEv = SchemaInfer.evidence(ref)
    val curEv = SchemaInfer.evidence(cur)
    assert(SchemaInfer.evidenceDiff(refEv, refEv).count() === 0)
    val d = SchemaInfer.evidenceDiff(refEv, curEv).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(d.contains(("/extra", "added")))
    assert(d.contains(("/score", "type")))      // integer -> number
    assert(d.contains(("/score", "max_value"))) // 99 > 20
    assert(d.contains(("/color", "enum")))      // green joined the set
    assert(d.contains(("/color", "max_len")))   // len(green)=5 > 4
    assert(d.contains(("/day", "required")))    // a null appeared
    assert(d.contains(("/id", "max_value"))) // cur id 3 exceeds ref [1,2]
    assert(!d.contains(("/day", "format")))  // non-null days still ISO-shaped
  }

  test("contractBreaks: subset populations raise nothing; only out-of-contract rows fire") {
    import spark.implicits._
    val ref = Seq(
      (1L, "red", 1.5d, Some("x")),
      (50L, "blue", 9.0d, None) // note has a null -> NOT required in contract
    ).toDF("id", "color", "score", "note")
    val refEv = SchemaInfer.evidence(ref).cache()
    // a strict subset batch: fewer enum values, tighter range, integral
    // score under the number contract, no nulls in the nullable column —
    // note the string values must come from the reference sets (every
    // low-cardinality string column infers an enum contract)
    val subset = Seq((2L, "red", 3.0d, Some("x"))).toDF("id", "color", "score", "note")
    assert(SchemaInfer.contractBreaks(refEv, SchemaInfer.evidence(subset)).count() === 0)
    // the symmetric audit DOES see those as differences
    assert(SchemaInfer.evidenceDiff(refEv, SchemaInfer.evidence(subset)).count() > 0)
    // out-of-contract batch: new enum value, value above range, null in a
    // required column
    val breaking = Seq(
      (99L, "green", 2.5d, Some("z")),
      (3L, null.asInstanceOf[String], 2.5d, Some("w"))
    ).toDF("id", "color", "score", "note")
    val b = SchemaInfer.contractBreaks(refEv, SchemaInfer.evidence(breaking))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(b.contains(("/id", "max_value")))    // 99 > 50
    assert(b.contains(("/color", "enum")))      // green outside {blue, red}
    assert(b.contains(("/color", "required")))  // a null appeared
    assert(!b.exists(_._1 == "/score"))         // in-range, subset types
    refEv.unpersist()
  }

  test("enum values containing the '|' delimiter neither fragment nor mask (delimiter-safe encoding)") {
    import spark.implicits._
    // ADVICE r4: with a naive '|' join, ref value "a|b" splits into {a, b},
    // so a batch carrying the genuinely-new values "a" and "b" would look
    // in-contract (masking), and a batch re-seeing "a|b" would fragment.
    val ref = Seq((1L, "a|b"), (2L, "c\\d")).toDF("id", "tag")
    val refEv = SchemaInfer.evidence(ref).cache()
    // same values again: no break, no phantom fragmentation
    val same = Seq((3L, "a|b"), (4L, "c\\d")).toDF("id", "tag")
    val sameBreaks = SchemaInfer.contractBreaks(refEv, SchemaInfer.evidence(same))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!sameBreaks.exists(_._2 == "enum"), s"phantom enum break: $sameBreaks")
    // fragments of the joined value are OUT of contract and must fire
    val masked = Seq((5L, "a"), (6L, "b")).toDF("id", "tag")
    val maskedBreaks = SchemaInfer.contractBreaks(refEv, SchemaInfer.evidence(masked))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(maskedBreaks.contains(("/tag", "enum")),
      s"fragmented value masked an out-of-contract batch: $maskedBreaks")
    // round trip: the inferred schema still pins the exact raw values
    val schema = SchemaInfer.inferSchema(ref)
    assert(schema.contains("a|b") && schema.contains("c\\\\d"), schema)
    refEv.unpersist()
  }

  test("contractBreaks: an all-null batch column raises no enum/format alarm") {
    import spark.implicits._
    val ref = Seq(
      (1L, Some("red"), Some("2021-01-01")),
      (2L, Some("blue"), Some("2022-06-30")),
      (3L, None: Option[String], None: Option[String]) // nullable in contract
    ).toDF("id", "color", "day")
    val refEv = SchemaInfer.evidence(ref)
    // a batch where the nullable enum/format columns happen to be ALL null:
    // no value evidence either way -> silence (required doesn't fire either,
    // the contract already allows nulls); the symmetric audit still reports
    val batch = Seq((4L, None: Option[String], None: Option[String]))
      .toDF("id", "color", "day")
    val breaks = SchemaInfer.contractBreaks(refEv, SchemaInfer.evidence(batch))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!breaks.exists(b => b._2 == "enum" || b._2 == "format"))
    val audit = SchemaInfer.evidenceDiff(refEv, SchemaInfer.evidence(batch))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(audit.contains(("/color", "enum")))
  }

  test("evidenceDiff over nested array frames and an all-empty array side") {
    import spark.implicits._
    val ref = Seq(
      (1L, "red", 1.5d, Some("2021-01-01"), Seq("a", "bb")),
      (2L, "blue", 9.0d, Some("2022-06-30"), Seq("ccc"))
    ).toDF("id", "color", "score", "day", "tags")
    val cur = Seq(
      (9L, "green", 2.75d, None: Option[String], Seq("dddd", "e", "f")),
      (3L, "red", 11.5d, Some("2023-01-02"), Seq[String]())
    ).toDF("id", "color", "score", "day", "tags")
    // one side's array column all-empty: no row reaches its /tags/* frame,
    // which still gets the zero-count evidence of an empty frame, not
    // phantom added/removed aspects
    val curEmptyTags = Seq(
      (9L, "red", 2.0d, Some("2023-01-02"), Seq[String]()),
      (3L, "blue", 3.0d, Some("2023-01-03"), Seq[String]())
    ).toDF("id", "color", "score", "day", "tags")
    def diff(c: DataFrame, breaksOnly: Boolean): Seq[Seq[Any]] = {
      val (r, e) = (SchemaInfer.evidence(ref), SchemaInfer.evidence(c))
      (if (breaksOnly) SchemaInfer.contractBreaks(r, e) else SchemaInfer.evidenceDiff(r, e))
        .collect().map(_.toSeq).toSeq
    }
    val n = null
    // expected rows: (path, aspect, ref_num, cur_num, ref_str, cur_str)
    val curDrift = Seq(
      Seq("/color", "enum", n, n, "blue|red", "green|red"),
      Seq("/color", "max_len", 4.0, 5.0, n, n),
      Seq("/day", "enum", n, n, "2021-01-01|2022-06-30", "2023-01-02"),
      Seq("/day", "required", n, n, "true", "false"),
      Seq("/id", "max_value", 2.0, 9.0, n, n),
      Seq("/score", "max_value", 9.0, 11.5, n, n),
      Seq("/tags", "max_len", 2.0, 3.0, n, n),
      Seq("/tags", "min_len", 1.0, 0.0, n, n),
      Seq("/tags/*", "enum", n, n, "a|bb|ccc", "dddd|e|f"),
      Seq("/tags/*", "max_len", 3.0, 4.0, n, n))
    assert(diff(cur, breaksOnly = false) === curDrift)
    assert(diff(cur, breaksOnly = true) === curDrift)
    assert(diff(curEmptyTags, breaksOnly = false) === Seq(
      Seq("/day", "enum", n, n, "2021-01-01|2022-06-30", "2023-01-02|2023-01-03"),
      Seq("/id", "max_value", 2.0, 9.0, n, n),
      Seq("/score", "type", n, n, "number", "integer"),
      Seq("/tags", "min_len", 1.0, 0.0, n, n),
      Seq("/tags/*", "enum", n, n, "a|bb|ccc", n),
      Seq("/tags/*", "required", n, n, "true", "false")))
    assert(diff(curEmptyTags, breaksOnly = true) === Seq(
      Seq("/day", "enum", n, n, "2021-01-01|2022-06-30", "2023-01-02|2023-01-03"),
      Seq("/id", "max_value", 2.0, 9.0, n, n),
      Seq("/tags", "min_len", 1.0, 0.0, n, n),
      Seq("/tags/*", "required", n, n, "true", "false")))
    for (breaksOnly <- Seq(false, true))
      assert(!diff(curEmptyTags, breaksOnly).exists(r =>
        r(0).toString.startsWith("/tags/") && (r(1) == "added" || r(1) == "removed")),
        "all-empty array side must not report phantom added/removed")
  }

  /** One leaf's evidence the per-column way: one `agg` over the leaf's own
    * frame, `count_distinct` and all — the columns of `evidence` after
    * `path`, with −0.0 read as 0.0 (the two compare equal, so which one a
    * min or max returns depends on row order) and NaN as a string. */
  private def perColumn(frame: DataFrame, c: Column, dt: DataType): Seq[Any] = {
    val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(dt)
    val fractional = dt match {
      case FloatType | DoubleType | _: DecimalType => true
      case _ => false
    }
    val isStr = dt == StringType
    val num = if (integral || fractional) c.cast(DoubleType) else lit(null).cast(DoubleType)
    val len = dt match {
      case StringType => length(c)
      case _: ArrayType => size(c)
      case _ => lit(null).cast(IntegerType)
    }
    val escaped = replace(replace(c, lit("\\"), lit("\\\\")), lit("|"), lit("\\|"))
    val r = frame.agg(
      count(lit(1)), sum(when(c.isNull, 1L).otherwise(0L)),
      if (integral || fractional || isStr || dt == BooleanType) count_distinct(c)
      else lit(null).cast(LongType),
      min(num), max(num), bool_and(num % 1.0 === 0.0),
      min(len).cast(LongType), max(len).cast(LongType),
      if (isStr) array_join(array_sort(collect_set(escaped)), "|") else lit(null),
      if (isStr) bool_and(c.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$")) else lit(null)
    ).head()
    val total = r.getLong(0)
    val nulls = if (r.isNullAt(1)) 0L else r.getLong(1)
    val jsonType = dt match {
      case _ if integral => "integer"
      case _ if fractional => if (r.isNullAt(5) || r.getBoolean(5)) "integer" else "number"
      case StringType | DateType | TimestampType => "string"
      case BooleanType => "boolean"
      case _: ArrayType => "array"
      case _ => "object"
    }
    val distinct = r.get(2)
    val enumVals =
      if (isStr && r.getLong(2) >= 1 && r.getLong(2) <= SchemaInfer.enumMax) r.getString(8)
      else null
    val format = dt match {
      case DateType => "date"
      case TimestampType => "date-time"
      case StringType if total - nulls > 0 && r.getBoolean(9) => "date"
      case _ => null
    }
    canon(Seq(jsonType, nulls == 0 && total > 0, r.get(3), r.get(4), r.get(6), r.get(7),
      distinct, enumVals, format))
  }

  private def canon(xs: Seq[Any]): Seq[Any] = xs.map {
    case d: Double if d == 0.0 => 0.0
    case d: Double if d.isNaN => "NaN" // boxed NaNs never compare equal
    case x => x
  }

  test("evidence differential: every leaf equals its per-column aggregate") {
    // values where a grouped value key could part from count_distinct:
    // −0.0/0.0 and NaN (a non-canonical NaN too), ±Inf, whole-valued
    // doubles, decimals equal as doubles but distinct as decimals, strings
    // with the CSV's '|' and '\' and supplementary characters (UTF-8 and
    // UTF-16 order disagree on U+FB00 vs U+1D11E), an all-null column, an
    // all-empty array column, NULL array elements and arrays of arrays
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    def dec(s: String) = if (s == null) null else new java.math.BigDecimal(s)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val item = StructType(Seq(StructField("x", DoubleType), StructField("y", StringType)))
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("w", DoubleType), StructField("f", FloatType),
      StructField("dec", DecimalType(38, 20)), StructField("s", StringType),
      StructField("day", StringType), StructField("i", IntegerType),
      StructField("b", BooleanType), StructField("ts", TimestampType),
      StructField("bin", BinaryType), StructField("nul", StringType),
      StructField("tags", ArrayType(StringType)), StructField("empty", ArrayType(DoubleType)),
      StructField("items", ArrayType(item)),
      StructField("nested", ArrayType(ArrayType(LongType)))))
    val rows = Seq(
      Row(-0.0, 1.0, -0.0f, dec("0.10000000000000000001"), "a|b", "2021-01-01", 1, true,
        ts(0), Array[Byte](1), null, Seq("x", "y"), Seq(), Seq(Row(-0.0, "p"), Row(0.0, null)),
        Seq(Seq(1L, 2L), null, Seq())),
      Row(0.0, -0.0, 0.0f, dec("0.10000000000000000002"), "a\\b", "2021-13-45", 2, false,
        null, null, null, Seq(), Seq(), Seq(Row(Double.NaN, "q")), null),
      Row(Double.NaN, 0.0, Float.NaN, dec("0.1"), "|", null, null, null,
        ts(1000), Array[Byte](), null, null, Seq(), null, Seq()),
      Row(nan2, 1e300, 2.0f, null, "\\", "2021-01-01", -3, true,
        ts(0), Array[Byte](1), null, Seq(null, "x"), Seq(), Seq(), Seq(Seq(3L))),
      Row(Double.PositiveInfinity, 2.0, null, dec("-5"), "\uD834\uDD1E", "1999-12-31", 1, true,
        null, null, null, Seq("z"), Seq(), Seq(null), Seq(Seq(2L, 2L), Seq(-7L))),
      Row(Double.NegativeInfinity, null, 1.5f, dec("0.10000000000000000001"), "\uFB00", null,
        2, false, ts(5000), null, null, Seq(), Seq(), Seq(Row(nan2, "p|q")), Seq(null)),
      Row(3.0, 1.0, 2.0f, dec("12345678901234567.5"), "a|b", "2000-02-29", Int.MaxValue, null,
        ts(0), Array[Byte](2), null, Seq("x"), Seq(), Seq(Row(1.5, "p")), Seq(Seq())),
      Row(null, 4.0, -0.0f, dec("0"), null, "2000-02-29", Int.MinValue, true,
        null, null, null, null, Seq(), Seq(Row(null, null)), null))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3)
    def items(arr: String) = df.select(explode(col(arr)).as("v"))
    val leaves: Seq[(String, DataFrame, Column, DataType)] =
      schema.fields.toSeq.map(f => (s"/${f.name}", df, col(f.name), f.dataType)) ++ Seq(
        ("/tags/*", items("tags"), col("v"), StringType),
        ("/empty/*", items("empty"), col("v"), DoubleType),
        ("/items/*/x", items("items"), col("v.x"), DoubleType),
        ("/items/*/y", items("items"), col("v.y"), StringType),
        ("/nested/*", items("nested"), col("v"), ArrayType(LongType)),
        ("/nested/*/*", items("nested").select(explode(col("v")).as("v")), col("v"), LongType))
    // the table itself, and an empty frame: every path keeps its row
    for (keep <- Seq(lit(true), lit(false))) {
      val ev = evidenceMap(df.where(keep))
      assert(ev.keySet === leaves.map(_._1).toSet)
      leaves.foreach { case (path, frame, c, dt) =>
        assert(canon(ev(path).toSeq.tail) === perColumn(frame.where(keep), c, dt),
          s"$path (rows kept: $keep)")
      }
    }
    // a table with no value-carrying leaf (an empty key struct)
    assert(canon(evidenceMap(df.select("ts"))("/ts").toSeq.tail) ===
      perColumn(df, col("ts"), TimestampType))
  }

  test("enum evidence survives cross-partition merge and caps past enumMax") {
    import spark.implicits._
    // 3 distinct values scattered over 8 partitions: partial buffers merge
    val few = Seq.tabulate(24)(i => (i.toLong, s"v${i % 3}"))
      .toDF("id", "s").repartition(8)
    assert(evidenceMap(few)("/s").getString(8) === "v0|v1|v2")
    // 40 distinct over 8 partitions: every PARTIAL set is under the cap,
    // only the merged set overflows -> no enum, exact distinct count kept
    val many = Seq.tabulate(40)(i => (i.toLong, f"w$i%02d"))
      .toDF("id", "s").repartition(8)
    val r = evidenceMap(many)("/s")
    assert(r.isNullAt(8) && r.getLong(7) === 40)
  }

  test("evidence is deterministic across runs and partitionings") {
    val docs = DocTable.docs(spark, sfDir)
    val a = SchemaInfer.evidence(docs).collect().toSeq
    val b = SchemaInfer.evidence(docs.repartition(7)).collect().toSeq
    assert(a === b)
  }
}
