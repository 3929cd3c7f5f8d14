package graft.engine

import graft.json._
import graft.schema.SchemaDoc
import graft.validate.{Validator, Options, Violation}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** Fallback bulk path: the row-level validator core applied per row with the
  * compiled schema registry **broadcast** to executors (north rule). Used for
  * schemas the Column compiler cannot express (recursive `$ref`, dynamic
  * objects, content decoding); still a narrow map — no shuffle.
  */
object RowValidator {

  /** Convert a Spark value (from `Row#get`) + its DataType to the JSON AST. */
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
        // BigDecimal cannot represent NaN/Infinity; approximate with
        // DISTINCT out-of-range decimals so comparisons and equality behave
        // like Spark's double semantics instead of crashing: NaN sorts above
        // +Inf and everything else, NaN = NaN and Inf = Inf hold (Spark
        // treats NaN as equal to itself), and NaN ≠ ±Inf.
        if (d.isNaN) JNum(BigDecimal("1e1000"))
        else if (d == Double.PositiveInfinity) JNum(BigDecimal("1e999"))
        else if (d == Double.NegativeInfinity) JNum(BigDecimal("-1e999"))
        else JNum(BigDecimal(d))
      case (d: java.math.BigDecimal, _)   => JNum(BigDecimal(d))
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

  /** Validate each row of `df`. The instance is the object formed from
    * `payloadCols` (all columns when None) — pass the same field set the
    * Column path validates, or the two declared-equivalent paths diverge on
    * object-shape keywords (additionalProperties, maxProperties, …).
    * Returns `df` columns + `valid:boolean` +
    * `errors:array<struct<path,keyword,message>>`. */
  def validateRows(spark: SparkSession, df: DataFrame, schemaJson: String,
      payloadCols: Option[Seq[String]] = None): DataFrame = {
    val bcSchema: Broadcast[SchemaDoc] =
      spark.sparkContext.broadcast(SchemaDoc.schema(schemaJson))
    val schema = df.schema
    val payloadIdx = payloadCols.map(_.map(schema.fieldIndex).toArray)
    withRowVerdicts(df, bcSchema) { (compiled, row) =>
      val inst = payloadIdx match {
        case None => toJVal(row, schema)
        case Some(idxs) =>
          // same columnar mapping as toJVal on a Row: null field = absent
          JObj(idxs.toVector.collect {
            case i if !row.isNullAt(i) =>
              schema.fields(i).name -> toJVal(row.get(i), schema.fields(i).dataType)
          })
      }
      (compiled, inst)
    }
  }

  /** `df` columns + `valid` + `errors`: each row is validated by the row
    * core against the (schema, instance) pair `instance` builds from the
    * broadcast value and the row, on the executor. */
  private[engine] def withRowVerdicts[B](df: DataFrame, bc: Broadcast[B])(
      instance: (B, Row) => (SchemaDoc, JVal)): DataFrame = {
    val outSchema = df.schema
      .add(StructField("valid", BooleanType, nullable = false))
      .add(StructField("errors", ColumnCompiler.errorType, nullable = false))
    df.mapPartitions { rows =>
      val shipped = bc.value
      rows.map { row =>
        val (schema, inst) = instance(shipped, row)
        val (valid, errRows) = verdict(schema, inst)(Row(_, _, _))
        Row.fromSeq(row.toSeq :+ valid :+ errRows)
      }
    }(Encoders.row(outSchema))
  }

  private val RowCoreOptions = Options()

  /** The row core's verdict on one instance: `valid` plus one
    * `mk(path, keyword, message)` per [[leafErrors]] violation. Every
    * row-core entry point (validateRows, the schema registry's row-core
    * dispatch, JSONL sources, SQL `graft_validate`) goes through here, so
    * all of them emit the same violation rows. */
  private def verdict[R](schema: SchemaDoc, inst: JVal)(
      mk: (String, String, String) => R): (Boolean, Vector[R]) = {
    val res = Validator.validate(schema, inst, RowCoreOptions)
    (res.valid, leafErrors(res.errors).map(v => mk(v.path, v.keyword, v.message)))
  }

  /** [[verdict]] on one raw JSON line. A malformed line is a single
    * `("", "parse", "Malformed JSON: …")` violation, not an exception — at
    * 10^12 lines some WILL be malformed, and one bad line must not kill
    * the job. */
  private[engine] def verdictOfLine[R](schema: SchemaDoc, line: String)(
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
    * applicator-level parent entries that only summarize child causes. */
  def leafErrors(errors: Vector[Violation]): Vector[Violation] =
    errors.filterNot { v =>
      // applicator summary rows, when any deeper/leaf cause exists
      (parents.contains(v.keyword) &&
        errors.exists(o => o != v && (o.path.startsWith(v.path + "/") ||
          (o.path == v.path && !parents.contains(o.keyword))))) ||
      // same-keyword summary at an ancestor path (e.g. `required`'s
      // object-level row above its per-key rows)
      errors.exists(o => o.keyword == v.keyword && o.path != v.path &&
        o.path.startsWith(v.path + "/"))
    } match {
      case Vector() if errors.nonEmpty => errors.take(1) // keep at least one row
      case leaves => leaves
    }
}
