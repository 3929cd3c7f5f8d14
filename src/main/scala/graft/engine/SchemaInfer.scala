package graft.engine

import graft.json.{JArr, JBool, JNum, JObj, JStr, JVal, Json}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Constraint suggestion: profile a typed corpus and emit the draft-7
  * schema document it already satisfies — the inverse of the validator,
  * closing the loop between the stats engine ([[Checks.profile]]) and
  * [[graft.validate.Validator]]. The reference has no counterpart (jinx
  * only checks schemas, `validate.cljc`); this is the operation a
  * large-scale pipeline needs to BOOTSTRAP those checks: infer the contract
  * from a trusted snapshot, then validate every later snapshot against it
  * (drift in structure surfaces as violations, complementing the
  * distribution drift of [[Checks.ksDrift]]).
  *
  * Scale shape: ONE scan feeding one two-level grouped aggregate. Each row
  * of the table explodes into one `(path, typed value key)` row per leaf,
  * for the root frame and for the items of every array descent alike (the
  * nesting depth is bounded by the schema, not the data). The first level
  * groups by (path, key) — one row per distinct value — and the second by
  * path, so no metric needs a per-leaf `count_distinct` branch or an
  * `Expand`. Both levels combine map-side. The only driver-side
  * materialization is one evidence row per schema path, its enum CSV
  * holding ≤ [[enumMax]] values.
  *
  * Inference rules (deterministic, each SQL-expressible — the DuckDB
  * oracles `q_infer_lineitem` / `q_infer_docs` recompute them):
  *  - JSON type from the Spark type; floating/decimal columns narrow to
  *    `integer` when every non-null value is whole (`x % 1 = 0`)
  *  - `required` = no NULLs seen (within the field's own nesting frame);
  *    a NULL-able leaf gets type `[t, "null"]`
  *  - numeric `minimum`/`maximum`; string `minLength`/`maxLength`
  *    (chars); array `minItems`/`maxItems`
  *  - string `enum` when 1 ≤ distinct ≤ [[enumMax]]
  *  - `format`: `date`/`date-time` for date/timestamp Spark types;
  *    `date` for string columns whose every non-null value matches the
  *    ISO date shape
  */
object SchemaInfer {

  val enumMax = 16
  private val dateRx = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"

  /** Delimiter-safe encoding of a single enum value for the '|'-joined
    * evidence CSV: '\' → '\\', '|' → '\|'. Injective, so set comparisons
    * over escaped tokens are set comparisons over values. */
  private[engine] def escapeEnumValue(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length + 4)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' || c == '|') sb.append('\\')
      sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Split a '|'-joined evidence CSV back into its values, undoing the
    * [[escapeEnumValue]] encoding (a backslash escapes the next char, so an
    * escaped '|' never splits). Inverse of the finish-side join. */
  private[engine] def splitEnumValues(joined: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < joined.length) {
      val c = joined.charAt(i)
      if (c == '\\' && i + 1 < joined.length) {
        sb.append(joined.charAt(i + 1)); i += 2
      } else if (c == '|') {
        out += sb.toString; sb.setLength(0); i += 1
      } else { sb.append(c); i += 1 }
    }
    out += sb.toString
    out.result()
  }

  /** UTF-8 byte order — what Spark's own string comparison (and therefore
    * the `array_sort` this aggregate replaced) uses; Java's natural String
    * order differs on supplementary characters. */
  private object Utf8Order extends java.util.Comparator[String] with Serializable {
    def compare(a: String, b: String): Int = {
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      ab.length - bb.length
    }
  }

  /** [[boundedEnumSet]]'s buffer — public only because Kryo encoding
    * requires it; not API. */
  final case class EnumBuf(var over: Boolean, vals: java.util.HashSet[String])

  /** Size-capped distinct-set aggregate backing the enum evidence. The
    * buffer holds at most [[enumMax]] + 1 distinct values and latches an
    * overflow flag, so profiling a high-cardinality string column (a
    * 10¹²-row free-text column, say) costs a fixed ~17-string buffer —
    * the unbounded `collect_set` it replaces buffered the column's ENTIRE
    * distinct value set per partition before the projection discarded it.
    * Output: the '|'-joined UTF-8-sorted set when 1 ≤ distinct ≤
    * [[enumMax]], NULL otherwise — so it is the `enum_vals` column as it
    * stands. */
  private val boundedEnumSet: UserDefinedFunction = udaf(
    new Aggregator[String, EnumBuf, String] {
      def zero: EnumBuf = EnumBuf(over = false, new java.util.HashSet[String]())
      def reduce(b: EnumBuf, x: String): EnumBuf = {
        if (!b.over && x != null) {
          b.vals.add(x)
          if (b.vals.size > enumMax) { b.over = true; b.vals.clear() }
        }
        b
      }
      def merge(a: EnumBuf, b: EnumBuf): EnumBuf = {
        if (a.over || b.over) { a.over = true; a.vals.clear() }
        else {
          a.vals.addAll(b.vals)
          if (a.vals.size > enumMax) { a.over = true; a.vals.clear() }
        }
        a
      }
      def finish(r: EnumBuf): String =
        if (r.over || r.vals.isEmpty) null
        else {
          // delimiter-safe: escape each value ('\'→'\\', '|'→'\|') BEFORE
          // sorting, so the join order is the byte order of the ESCAPED
          // tokens — the only order a SQL mirror constrained to
          // `string_agg(DISTINCT escaped ORDER BY escaped)` can reproduce.
          // Without this, a value containing '|' fragments on the split in
          // contractBreaks' enum-subset test, raising phantom breaks and
          // masking genuinely out-of-contract values.
          val arr = r.vals.toArray(new Array[String](r.vals.size))
            .map(escapeEnumValue)
          java.util.Arrays.sort(arr, Utf8Order)
          arr.mkString("|")
        }
      def bufferEncoder: Encoder[EnumBuf] = Encoders.kryo[EnumBuf]
      def outputEncoder: Encoder[String] = Encoders.STRING
    }, Encoders.STRING)

  private sealed trait Kind
  private case object KInt extends Kind
  private case object KNum extends Kind
  private case object KStr extends Kind
  private case object KBool extends Kind
  private case object KArr extends Kind
  private case object KDate extends Kind
  private case object KTs extends Kind
  private case object KObj extends Kind // map/binary leaves: type only

  private def kindOf(dt: DataType): Kind = dt match {
    case ByteType | ShortType | IntegerType | LongType => KInt
    case FloatType | DoubleType | _: DecimalType => KNum
    case StringType => KStr
    case BooleanType => KBool
    case _: ArrayType => KArr
    case DateType => KDate
    case TimestampType => KTs
    case TimestampNTZType => KTs
    case _ => KObj
  }

  // Every leaf under (path, dt): a struct contributes its fields' leaves,
  // an array is a leaf itself (its size) AND starts a new nesting frame
  // whose items live at path + "/*" (the `kind` field of `spans` items
  // gets the path /spans + /star/kind, "star" being the asterisk).
  private def leaves(path: String, dt: DataType): Seq[(String, DataType)] = dt match {
    case st: StructType => st.fields.toSeq.flatMap(f => leaves(s"$path/${f.name}", f.dataType))
    case at: ArrayType => (path -> at) +: leaves(s"$path/*", at.elementType)
    case _ => Seq(path -> dt)
  }

  /** The field of the value key that a leaf of type `dt` fills: one field
    * per value domain, so grouping by the key groups exactly as
    * `count_distinct` over the column does. Integral types widen to long
    * and float to double (both injective; Spark normalizes −0.0 and NaN in
    * grouping keys, struct fields included), each decimal type keeps its
    * own exact field, an array keys on its size. Dates, timestamps and
    * type-only leaves fill none: their key only marks a non-null value. */
  private def keyField(dt: DataType): Option[StructField] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(StructField("l", LongType))
    case FloatType | DoubleType => Some(StructField("d", DoubleType))
    case d: DecimalType => Some(StructField(s"dec_${d.precision}_${d.scale}", d))
    case StringType => Some(StructField("s", StringType))
    case BooleanType => Some(StructField("b", BooleanType))
    case _: ArrayType => Some(StructField("n", IntegerType))
    case _ => None
  }

  /** Evidence table: one row per schema path —
    * (path, json_type, required, min_value, max_value, min_len, max_len,
    * distinct_count, enum_vals, format).
    *
    * Every leaf value of every frame becomes one `(path, key)` row, with
    * the key NULL exactly when the value is. Grouping by (path, key) and
    * counting leaves one row per distinct value; grouping those by path
    * derives every column: `total`/`nulls` are sums of the counts,
    * `distinct_count` counts the non-null keys, and the bounds, the
    * integral-narrowing and date-format checks and the enum set run over
    * the distinct values. A zero-count NULL-key seed per path gives an empty
    * frame (an empty table, an all-empty array column) its row. */
  def evidence(df: DataFrame): DataFrame = {
    val all = df.schema.fields.toSeq.flatMap(f => leaves(s"/${f.name}", f.dataType))
    val keyType = StructType(all.flatMap(l => keyField(l._2)).distinct)
    val pairType = ArrayType(StructType(Seq(
      StructField("path", StringType), StructField("key", keyType))))
    def pair(path: String, e: Column, dt: DataType): Column = {
      val own = keyField(dt).map(_.name)
      val v = if (dt.isInstanceOf[ArrayType]) size(e) else e
      val key = struct(keyType.fields.toSeq.map(f =>
        (if (own.contains(f.name)) v else lit(null)).cast(f.dataType).as(f.name)): _*)
      struct(lit(path).as("path"), when(e.isNotNull, key).as("key"))
    }
    // the (path, key) pairs of one row of a frame: its own leaves, then
    // the pairs of every array descent's items (a NULL array has none)
    def pairs(roots: Seq[(String, Column, DataType)]): Column = {
      def walk(path: String, e: Column, dt: DataType): (Seq[Column], Seq[Column]) = dt match {
        case st: StructType =>
          val parts = st.fields.toSeq.map(f =>
            walk(s"$path/${f.name}", e.getField(f.name), f.dataType))
          (parts.flatMap(_._1), parts.flatMap(_._2))
        case at: ArrayType =>
          val items = flatten(transform(e, x => pairs(Seq((s"$path/*", x, at.elementType)))))
          (Seq(pair(path, e, at)), Seq(coalesce(items, array().cast(pairType))))
        case _ => (Seq(pair(path, e, dt)), Nil)
      }
      val parts = roots.map { case (p, e, dt) => walk(p, e, dt) }
      concat(array(parts.flatMap(_._1): _*) +: parts.flatMap(_._2): _*)
    }
    val keyed = df.select(inline(pairs(
      df.schema.fields.toSeq.map(f => (s"/${f.name}", col(f.name), f.dataType)))))
    val seeds = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(all.map(l => Row(l._1, null, 0L)): _*),
      StructType(Seq(StructField("path", StringType), StructField("key", keyType),
        StructField("count", LongType))))
    val key = col("key")
    val cnt = col("count")
    def field(name: String, dt: DataType): Column =
      if (keyType.fieldNames.contains(name)) key.getField(name) else lit(null).cast(dt)
    val decimals = keyType.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[DecimalType] => key.getField(f.name)
    }
    val num = coalesce(
      (field("l", LongType) +: field("d", DoubleType) +: decimals).map(_.cast(DoubleType)): _*)
    val str = field("s", StringType)
    val len = coalesce(length(str), field("n", IntegerType))
    val perPath = keyed.groupBy("path", "key").count().unionByName(seeds)
      .groupBy("path").agg(
        sum(cnt).as("total"),
        sum(when(key.isNull, cnt).otherwise(0L)).as("nulls"),
        count(key).as("distinct"),
        min(num).as("mn"), max(num).as("mx"),
        bool_and(coalesce(num % lit(1.0d) === lit(0.0d), lit(true))).as("whole"),
        min(len).cast(LongType).as("lmn"), max(len).cast(LongType).as("lmx"),
        // NULL past enumMax distinct values or with none: exactly the
        // strings whose distinct count lies in [1, enumMax]
        boundedEnumSet(str).as("ev"),
        bool_and(coalesce(str.rlike(dateRx), lit(true))).as("fd"))
    val kind = element_at(typedLit(all.map { case (p, dt) => p -> kindOf(dt).toString }.toMap),
      col("path"))
    def is(ks: Kind*): Column = kind.isin(ks.map(_.toString): _*)
    val nonNull = col("total") - col("nulls")
    perPath.select(
      col("path"),
      when(is(KInt), "integer")
        .when(is(KNum), when(col("whole"), "integer").otherwise("number"))
        .when(is(KStr, KDate, KTs), "string")
        .when(is(KBool), "boolean")
        .when(is(KArr), "array")
        .otherwise("object").as("json_type"),
      (col("nulls") === 0 && col("total") > 0).as("required"),
      col("mn").as("min_value"), col("mx").as("max_value"),
      col("lmn").as("min_len"), col("lmx").as("max_len"),
      when(is(KInt, KNum, KStr, KBool), col("distinct")).as("distinct_count"),
      col("ev").as("enum_vals"),
      when(is(KDate), "date").when(is(KTs), "date-time")
        .when(is(KStr) && nonNull > 0 && col("fd"), "date").as("format"))
      .orderBy("path")
  }

  /** Structural drift between two snapshots' evidence tables (the contract
    * counterpart of [[Checks.ksDrift]]'s distribution drift): one row per
    * (path, aspect) where the CURRENT snapshot breaks out of the REFERENCE
    * snapshot's inferred contract —
    *  - `added` / `removed`: path present in only one side
    *  - `type`: JSON type changed (e.g. an integral column saw fractions)
    *  - `required`: nullability changed in either direction
    *  - `min_value` / `max_value`: current range exceeds the reference range
    *  - `min_len` / `max_len`: string/array bounds exceeded likewise
    *  - `enum`: the low-cardinality value set changed (incl. enum lost)
    *  - `format`: a detected format no longer holds
    * Output: (path, aspect, ref_num, cur_num, ref_str, cur_str) — numeric
    * aspects carry doubles, the rest strings; both evidence frames are
    * path-counted tiny, so the join is driver-trivial at any corpus size. */
  def evidenceDiff(refEv: DataFrame, curEv: DataFrame): DataFrame =
    diffRows(refEv, curEv, breaksOnly = false)

  /** Direction-aware variant for continuous monitoring: flags only rows
    * that BREAK OUT of the reference contract, never rows where the
    * current population is a strict subset of it (a micro-batch usually
    * is). Concretely vs [[evidenceDiff]]: `type` accepts integral current
    * values under a `number` contract; `required` fires only when nulls
    * APPEAR under a required contract; `enum` fires only on values outside
    * the reference set (or when the current set outgrew the enum cap). */
  def contractBreaks(refEv: DataFrame, curEv: DataFrame): DataFrame =
    diffRows(refEv, curEv, breaksOnly = true)

  private def diffRows(refEv: DataFrame, curEv: DataFrame,
      breaksOnly: Boolean): DataFrame = {
    // Both evidence tables are one row per schema path — always tiny — so
    // the diff runs entirely on the driver over the collected rows. The
    // distributed formulation (a union of ten aspect-filtered joins) paid
    // one Spark job of overhead PER ASPECT and, without an explicit
    // materialization, re-executed the corpus aggregation behind each
    // branch (measured 10.9 s vs ~0.1 s here for the sf0.1 drift query).
    // One collect of the side-tagged union runs both evidence aggregates
    // in one job, their stages side by side.
    val side = "__graft_ref"
    val (refRows, curRows) = refEv.withColumn(side, lit(true))
      .unionByName(curEv.withColumn(side, lit(false)))
      .collect().partition(_.getAs[Boolean](side))
    val rm = refRows.map(r => r.getString(0) -> r).toMap
    val cm = curRows.map(r => r.getString(0) -> r).toMap
    def dOpt(r: Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    def lOpt(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    def sOpt(r: Row, i: Int): Option[String] =
      if (r.isNullAt(i)) None else Some(r.getString(i))
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    def emit(path: String, aspect: String, rn: Option[Double], cn: Option[Double],
        rs: Option[String], cs: Option[String]): Unit =
      out += Row(path, aspect, rn.orNull, cn.orNull, rs.orNull, cs.orNull)
    (rm.keySet ++ cm.keySet).toSeq.sorted.foreach { path =>
      (rm.get(path), cm.get(path)) match {
        case (None, Some(c)) =>
          emit(path, "added", None, None, None, Some(c.getString(1)))
        case (Some(r), None) =>
          emit(path, "removed", None, None, Some(r.getString(1)), None)
        case (Some(r), Some(c)) =>
          val (rt, ct) = (r.getString(1), c.getString(1))
          val typeDrift =
            if (breaksOnly)
              // integer is a subset of number: integral current values
              // under a `number` contract are in-contract
              rt != ct && !(rt == "number" && ct == "integer")
            else rt != ct
          if (typeDrift) emit(path, "type", None, None, Some(rt), Some(ct))
          val (rreq, creq) = (r.getBoolean(2), c.getBoolean(2))
          val reqDrift =
            if (breaksOnly) rreq && !creq else rreq != creq
          if (reqDrift) emit(path, "required", None, None,
            Some(rreq.toString), Some(creq.toString))
          for (rv <- dOpt(r, 3); cv <- dOpt(c, 3); if cv < rv)
            emit(path, "min_value", Some(rv), Some(cv), None, None)
          for (rv <- dOpt(r, 4); cv <- dOpt(c, 4); if cv > rv)
            emit(path, "max_value", Some(rv), Some(cv), None, None)
          for (rv <- lOpt(r, 5); cv <- lOpt(c, 5); if cv < rv)
            emit(path, "min_len", Some(rv.toDouble), Some(cv.toDouble), None, None)
          for (rv <- lOpt(r, 6); cv <- lOpt(c, 6); if cv > rv)
            emit(path, "max_len", Some(rv.toDouble), Some(cv.toDouble), None, None)
          val (re, ce) = (sOpt(r, 8), sOpt(c, 8))
          val curHasValues = lOpt(c, 7).forall(_ > 0)
          val enumDrift =
            if (breaksOnly)
              // outside values appeared, or the set outgrew the enum cap;
              // an all-null batch column (curHasValues false) carries no
              // enum evidence either way — same reasoning as `format`
              // escape-aware split: a value containing '|' must not
              // fragment into phantom enum members (ADVICE r4)
              curHasValues && re.exists { rvs =>
                ce.forall(cvs =>
                  (splitEnumValues(cvs).toSet -- splitEnumValues(rvs).toSet).nonEmpty)
              }
            else re != ce && (re.nonEmpty || ce.nonEmpty)
          if (enumDrift) emit(path, "enum", None, None, re, ce)
          val (rf, cf) = (sOpt(r, 9), sOpt(c, 9))
          // breaks-only: an all-null batch column carries no format
          // evidence either way — don't flag "format lost" on absence
          val formatDrift = rf.nonEmpty && cf != rf &&
            (!breaksOnly || curHasValues)
          if (formatDrift) emit(path, "format", None, None, rf, cf)
      }
    }
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("aspect", StringType, nullable = false),
      StructField("ref_num", DoubleType, nullable = true),
      StructField("cur_num", DoubleType, nullable = true),
      StructField("ref_str", StringType, nullable = true),
      StructField("cur_str", StringType, nullable = true)))
    val sorted = out.sortBy(r => (r.getString(0), r.getString(1)))
    refEv.sparkSession.createDataFrame(
      java.util.Arrays.asList(sorted.toSeq: _*), schema)
  }

  /** Infer the draft-7 schema document the corpus satisfies, as JSON. Every
    * row of `df`, serialized with `to_json`, validates against the result
    * (the round-trip property `SchemaInferSpec` asserts). */
  def inferSchema(df: DataFrame): String = {
    val ev = evidence(df).collect()
      .map(r => r.getString(0) -> r).toMap

    def leafNode(path: String, dt: DataType): JVal = {
      val r = ev(path)
      val kind = kindOf(dt)
      val jsonType = r.getString(1)
      val required = r.getBoolean(2)
      val tpe: JVal =
        if (required) JStr(jsonType) else JArr.of(JStr(jsonType), JStr("null"))
      var fields = Vector[(String, JVal)]("type" -> tpe)
      if ((kind == KInt || kind == KNum) && !r.isNullAt(3)) {
        def num(d: Double): JNum =
          if (jsonType == "integer" && d.isWhole) JNum(d.toLong) else JNum(d)
        fields :+= "minimum" -> num(r.getDouble(3))
        fields :+= "maximum" -> num(r.getDouble(4))
      }
      if (kind == KStr && !r.isNullAt(5)) {
        fields :+= "minLength" -> JNum(r.getLong(5))
        fields :+= "maxLength" -> JNum(r.getLong(6))
      }
      // the evidence CSV holds the exact values, escaped and in UTF-8 order
      if (!r.isNullAt(8))
        fields :+= "enum" -> JArr(splitEnumValues(r.getString(8)).sorted.map(JStr(_)))
      if (!r.isNullAt(9)) fields :+= "format" -> JStr(r.getString(9))
      JObj(fields)
    }

    def node(path: String, dt: DataType): JVal = dt match {
      case st: StructType =>
        val req = st.fields.toVector
          .filter(f => ev.get(reqPath(path, f)).exists(_.getBoolean(2)))
          .map(f => JStr(f.name))
        val props = st.fields.toVector.map(f =>
          f.name -> node(s"$path/${f.name}", f.dataType))
        JObj(Vector[(String, JVal)]("type" -> JStr("object")) ++
          (if (req.nonEmpty) Vector("required" -> JArr(req)) else Vector.empty) :+
          ("properties" -> JObj(props)))
      case at: ArrayType =>
        val r = ev(path)
        var fields = Vector[(String, JVal)]("type" ->
          (if (r.getBoolean(2)) JStr("array") else JArr.of(JStr("array"), JStr("null"))))
        if (!r.isNullAt(5)) {
          fields :+= "minItems" -> JNum(r.getLong(5))
          fields :+= "maxItems" -> JNum(r.getLong(6))
        }
        fields :+= "items" -> node(s"$path/*", at.elementType)
        JObj(fields)
      case _ => leafNode(path, dt)
    }

    // the leaf row for a struct FIELD lives at the field's own path for
    // scalars and arrays alike
    def reqPath(parent: String, f: StructField): String = s"$parent/${f.name}"

    val root = JObj(Vector[(String, JVal)](
      "type" -> JStr("object"),
      "required" -> JArr(df.schema.fields.toVector
        .filter(f => ev.get(s"/${f.name}").exists(_.getBoolean(2)))
        .map(f => JStr(f.name))),
      "properties" -> JObj(df.schema.fields.toVector.map(f =>
        f.name -> node(s"/${f.name}", f.dataType)))))
    Json.render(root)
  }
}
