package graft.engine

import graft.json._
import graft.schema.SchemaDoc
import graft.validate.{Validator, Options, Violation}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._

/** The row-level validator core as Spark sees it: the JSON mapping of Spark
  * values ([[toJVal]]) and the per-instance verdict that the native
  * `graft_validate` expression ([[graft.engine.expressions.ValidateJson]])
  * runs for schemas the Column compiler cannot express (recursive `$ref`,
  * dynamic objects, content decoding). That expression is the only way the
  * row core enters a plan: a narrow projection, no shuffle.
  */
object RowValidator {

  // BigDecimal cannot represent NaN/Infinity; they map to DISTINCT
  // out-of-range decimals, so comparisons and equality behave like Spark's
  // double semantics instead of crashing: NaN sorts above +Inf and
  // everything else, NaN = NaN and Inf = Inf hold (Spark treats NaN as
  // equal to itself), and NaN ≠ ±Inf. A 1e-1000 tail keeps them off the
  // integers and off the multiples of every number a double holds, as the
  // compiled `type: integer` and `multipleOf` (`GraftMath.isMultipleOf`)
  // have it. Built in java.math: scala BigDecimal arithmetic rounds to 34
  // digits.
  private def beyondDoubles(magnitude: String, tail: String): JNum =
    JNum(BigDecimal(new java.math.BigDecimal(magnitude).add(new java.math.BigDecimal(tail))))
  private val NaNValue = beyondDoubles("1e1000", "1e-1000")
  private val PosInfValue = beyondDoubles("1e999", "1e-1000")
  private val NegInfValue = beyondDoubles("-1e999", "-1e-1000")

  /** Convert a Spark value (from `Row#get`) + its DataType to the JSON AST.
    * Dates and timestamps map to ISO-8601 strings (a timestamp as its UTC
    * instant), binary to base64, as JSON carries them. */
  def toJVal(v: Any, dt: DataType): JVal =
    if (v == null) JNull
    else (v, dt) match {
      case (s: String, _)                 => JStr(s)
      case (b: Boolean, _)                => JBool(b)
      case (i: Int, _)                    => JNum(BigDecimal(i))
      case (l: Long, _)                   => JNum(BigDecimal(l))
      case (s: Short, _)                  => JNum(BigDecimal(s.toInt))
      case (b: Byte, _)                   => JNum(BigDecimal(b.toInt))
      case (f: Float, _)                  => toJVal(f.toDouble, DoubleType)
      case (d: Double, _) =>
        if (d.isNaN) NaNValue
        else if (d == Double.PositiveInfinity) PosInfValue
        else if (d == Double.NegativeInfinity) NegInfValue
        else JNum(BigDecimal(d))
      case (d: java.math.BigDecimal, _)   => JNum(BigDecimal(d))
      case (d: java.sql.Date, _)          => JStr(d.toLocalDate.toString)
      case (d: java.time.LocalDate, _)    => JStr(d.toString)
      case (t: java.sql.Timestamp, _)     => JStr(t.toInstant.toString)
      case (t: java.time.Instant, _)      => JStr(t.toString)
      case (b: Array[Byte], _)            => JStr(java.util.Base64.getEncoder.encodeToString(b))
      case (r: Row, st: StructType) =>
        // Columnar mapping: a NULL struct field means the property is ABSENT
        // (Parquet cannot represent present-null) — must match the Column
        // compiler's gating exactly, or the two bulk paths diverge on
        // `required`/`properties` semantics (caught by RandomDocsSpec).
        JObj(st.fields.toVector.zipWithIndex.collect {
          case (f, i) if !r.isNullAt(i) => f.name -> toJVal(r.get(i), f.dataType)
        })
      case (seq: scala.collection.Seq[_], ArrayType(elem, _)) =>
        JArr(seq.toVector.map(toJVal(_, elem)))
      case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
        // same columnar mapping as struct fields: null value = absent key
        JObj(m.toVector.collect {
          case (k, mv) if mv != null => k.toString -> toJVal(mv, vt)
        })
      case (other, t) =>
        throw new IllegalArgumentException(s"cannot map $other of Spark type $t to JSON")
    }

  /** The first field of `st` (a dotted path) whose Spark type [[toJVal]]
    * has no JSON mapping for, with that type; None when every field maps. */
  def unmappableField(st: StructType): Option[(String, DataType)] = {
    def first(dt: DataType, path: String): Option[(String, DataType)] = dt match {
      case _: StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | _: DecimalType | NullType | DateType | TimestampType |
          BinaryType => None
      case s: StructType =>
        s.fields.iterator.flatMap(f => first(f.dataType, s"$path.${f.name}")).nextOption()
      case ArrayType(elem, _) => first(elem, path)
      case MapType(_, value, _) => first(value, path)
      case other => Some(path -> other)
    }
    st.fields.iterator.flatMap(f => first(f.dataType, f.name)).nextOption()
  }

  /** `df` + `valid:boolean` + `errors:array<struct<path,keyword,message>>`:
    * the row core applied to each row, the reference the specs hold the
    * compiled path to. The instance is the object formed from `payloadCols`
    * (all columns when None) — pass the same field set the Column path
    * validates, or the two paths diverge on object-shape keywords
    * (additionalProperties, maxProperties, …). */
  def validateRows(spark: SparkSession, df: DataFrame, schemaJson: String,
      payloadCols: Option[Seq[String]] = None): DataFrame = {
    val payload = struct(payloadCols.getOrElse(df.columns.toSeq).map(col): _*)
    ValidationJob.rowCoreVerdict(payload, schemaJson).addTo(df)
  }

  private val RowCoreOptions = Options()

  /** The row core's verdict on one instance: `valid` plus one
    * `mk(path, keyword, message)` per [[leafErrors]] violation. Every
    * row-core entry point goes through here, by way of `graft_validate`
    * ([[graft.engine.expressions.ValidateJson]]), so all of them emit the
    * same violation rows. */
  private[graft] def verdict[R](schema: SchemaDoc, inst: JVal)(
      mk: (String, String, String) => R): (Boolean, Vector[R]) = {
    val res = Validator.validate(schema, inst, RowCoreOptions)
    (res.valid, leafErrors(res.errors).map(v => mk(v.path, v.keyword, v.message)))
  }

  /** [[verdict]] on one raw JSON line. A malformed line is a single
    * `("", "parse", "Malformed JSON: …")` violation, not an exception — at
    * 10^12 lines some WILL be malformed, and one bad line must not kill
    * the job. */
  private[graft] def verdictOfLine[R](schema: SchemaDoc, line: String)(
      mk: (String, String, String) => R): (Boolean, Vector[R]) = {
    val parsed: Either[String, JVal] =
      try Right(Json.parse(line))
      catch { case e: Exception => Left(String.valueOf(e.getMessage).take(120)) }
    parsed match {
      case Left(msg) => (false, Vector(mk("", "parse", s"Malformed JSON: $msg")))
      case Right(inst) => verdict(schema, inst)(mk)
    }
  }

  /** Applicator keywords whose violation only summarizes child causes. */
  private val parents = Set("properties", "items", "allOf", "anyOf", "dependencies",
    "patternProperties", "additionalProperties", "then", "else", "$ref")

  /** The engine's exploded violation rows are the flattened leaves: drop
    * applicator-level parent entries that only summarize child causes, and
    * a keyword's summary at an ancestor of a path where the same keyword
    * fails again (e.g. `required`'s object-level row above its per-key
    * rows). Built over sets of the paths' segment prefixes, so it is linear
    * in the violations times the path depth. */
  def leafErrors(errors: Vector[Violation]): Vector[Violation] = {
    // the proper segment prefixes of `path`: p with `path.startsWith(p + "/")`
    def prefixes(path: String): Iterator[String] =
      Iterator.range(0, path.length).filter(path.charAt(_) == '/').map(path.substring(0, _))
    val ancestors = errors.iterator.flatMap(v => prefixes(v.path)).toSet
    val leafPaths = errors.iterator.filterNot(v => parents(v.keyword)).map(_.path).toSet
    val keywordAncestors = errors.iterator.flatMap(v => prefixes(v.path).map(v.keyword -> _)).toSet
    errors.filterNot { v =>
      // applicator summary rows, when any deeper/leaf cause exists
      (parents(v.keyword) && (ancestors(v.path) || leafPaths(v.path))) ||
      keywordAncestors((v.keyword, v.path))
    } match {
      case Vector() if errors.nonEmpty => errors.take(1) // keep at least one row
      case leaves => leaves
    }
  }
}
