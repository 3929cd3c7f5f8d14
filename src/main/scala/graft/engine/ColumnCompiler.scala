package graft.engine

import graft.engine.expressions.GraftFunctions.everyElement
import graft.json._
import graft.schema._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a draft-7 schema into a Catalyst boolean `Column` over a
  * statically-typed Dataset — the engine's bulk validation verdict.
  *
  * Each keyword is compiled once, into a small plan tree ([[Plan]]), and
  * the tree is lowered two ways: to the allocation-free boolean verdict
  * ([[validity]]) and, for the element plan of object `items`, to one
  * boolean over whole field arrays (`arrayValidOf`). Violation rows are not
  * built here: the row core alone builds them (`ValidationJob.verdict`
  * runs it on the rows this verdict fails), so a schema's violation rows
  * are the reference's whichever path its verdict takes.
  *
  * Everything is built from `org.apache.spark.sql.functions` and the native
  * expressions of `graft.engine.expressions` (no UDFs), and validation is a
  * narrow map over the scan, no shuffle. The verdict stays inside
  * whole-stage codegen wherever it needs no lambda: object `items` over
  * struct elements (nullable ones too, when the element's own `type`
  * rejects null) use the field-array form. `forall` and `transform` are
  * CodegenFallback and take a projection that holds them out of codegen.
  *
  * The verdict references only the leaves it checks, so Parquet
  * nested-schema pruning drops the rest of a struct array from the scan
  * (for the doc schema, `spans.text` and `spans.media_ref`). Field arrays
  * (`spans.kind`) and `spans IS NULL` prune; anything over the whole array
  * (`size(spans)`, `transform`, `forall`, a null-element test) reads every
  * field. So `minItems`/`maxItems` take the size of one field array, and
  * the element-null guard of object `items` is left out when a `required`
  * twin, which scans its field array for nulls, already fails a null
  * element. The guard, `required`'s twin and the `enum`/`const` twin run
  * as one allocation-free loop, [[graft.engine.expressions.EveryElement]],
  * not as `array_intersect`/`array_except`, which build a set and an array
  * per row.
  *
  * Mapping decisions for columnar data (documented divergence from the
  * dynamic-JSON world): a NULL struct field means *absent* (Parquet cannot
  * distinguish present-null from absent), so `required` fails on null fields
  * and `properties` subschemas are gated on non-null.
  *
  * Schemas using keywords that cannot be expressed as a finite Column tree
  * (recursive or external $ref, Spark types with no JSON mapping, malformed
  * keyword values …) throw [[ColumnCompiler.Unsupported]]; callers fall back
  * to the row-level core (`ValidationJob.verdict` then runs
  * `graft_validate` over the same payload on every row, not only on the
  * rows a verdict fails).
  */
object ColumnCompiler {

  final case class Unsupported(reason: String) extends RuntimeException(reason)

  /** The allocation-free boolean validity of `doc` over input column `col`
    * of Spark type `dt`. */
  private[engine] def validity(doc: SchemaDoc, col: Column, dt: DataType): Column =
    validOf(compile(doc.root, col, dt, doc, Set.empty, None, readLater = false))

  // --- the plan tree and its two lowerings ----------------------------------

  private sealed trait Plan
  /** A leaf that holds unless `ok` fails (null fails); `overArray` is its
    * all-elements form over the subject's twin, and `rejectsNullElement`
    * says that form fails a null element (`required`'s twin). */
  private final case class Check(ok: Column, overArray: Option[Column] = None,
      rejectsNullElement: Boolean = false) extends Plan
  private final case class All(parts: Seq[Plan]) extends Plan
  /** `inner` applies unless `absent` holds (null = absent gating). */
  private final case class Gate(absent: Column, inner: Plan) extends Plan
  /** if/then/else: `whenTrue` applies when `test` holds, else `whenFalse`. */
  private final case class Cond(test: Column, whenTrue: Plan, whenFalse: Plan) extends Plan
  /** A check over a whole array, already lowered to its boolean. */
  private final case class Lowered(valid: Column) extends Plan

  private val pass: Plan = All(Nil)
  private def all(parts: Seq[Plan]): Plan = All(parts.filter(_ != pass))
  private def gate(absent: Column, inner: Plan): Plan =
    if (inner == pass) pass else Gate(absent, inner)
  /** `body` holds for every element of `arr`. */
  private def each(arr: Column)(body: Column => Plan): Plan = Lowered(forall(arr, x => validOf(body(x))))

  private def ok(cond: Column): Column = coalesce(cond, lit(false))

  private def validOf(p: Plan): Column = p match {
    case Check(c, _, _)    => ok(c)
    case All(parts)        => parts.map(validOf).reduceOption(_ && _).getOrElse(lit(true))
    case Gate(absent, in)  => ok(absent || validOf(in))
    case Cond(test, t, f)  => ok(when(test, validOf(t)).otherwise(validOf(f)))
    case Lowered(valid)    => valid
  }

  /** The element plan of object `items` lowered to one boolean over
    * field-array twins: the checks' `overArray` forms, conjoined in plan
    * order; None when a check has none. Only subjects present in every
    * element or gated on their own null get a twin, so every gate here is
    * such a gate and drops out. The flag is whether a `required` twin is
    * among the conjuncts: it fails on a null in its field array, and a
    * null element is a null in every field array, so it fails a null
    * element too. */
  private def arrayValidOf(p: Plan): Option[(Column, Boolean)] = {
    def conjuncts(p: Plan): Option[Seq[Check]] = p match {
      case c: Check => c.overArray.map(_ => Seq(c))
      case All(parts) =>
        val cs = parts.map(conjuncts)
        Option.when(cs.forall(_.isDefined))(cs.flatten.flatten)
      case Gate(_, in) => conjuncts(in)
      case Cond(_, t, f) => Option.when(t == pass && f == pass)(Nil)
      case _: Lowered => None // nested items
    }
    conjuncts(p).map(cs => (cs.flatMap(_.overArray).reduceOption(_ && _).getOrElse(lit(true)),
      cs.exists(_.rejectsNullElement)))
  }

  // ---------------------------------------------------------------------------

  private def jsonTypeOf(dt: DataType): String = dt match {
    case StringType                                      => "string"
    case ByteType | ShortType | IntegerType | LongType   => "integer"
    case FloatType | DoubleType | _: DecimalType         => "number"
    case BooleanType                                     => "boolean"
    case _: ArrayType                                    => "array"
    case _: StructType | _: MapType                      => "object"
    case NullType                                        => "null"
    case other => throw Unsupported(s"no JSON mapping for Spark type $other")
  }

  /** The JSON types a `type` keyword value allows. */
  private def typeList(v: JVal): Seq[String] = v match {
    case JStr(t) => Seq(t)
    case JArr(ts) if ts.forall(_.isInstanceOf[JStr]) => ts.collect { case JStr(t) => t }
    case _ => throw Unsupported("malformed type")
  }

  /** Whether a non-null value of JSON type `t` passes `type: allowed`. */
  private def typeAdmits(allowed: Seq[String], t: String): Boolean =
    allowed.contains(t) || (t == "integer" && allowed.contains("number"))

  private def strings(kw: String, v: JVal): Vector[String] = v match {
    case JArr(xs) if xs.forall(_.isInstanceOf[JStr]) => xs.collect { case JStr(x) => x }
    case _ => throw Unsupported(s"malformed $kw")
  }

  private def count(kw: String, v: JVal): Int = v match {
    case JNum(n) if n.isWhole && n >= 0 && n.isValidInt => n.toInt
    case _ => throw Unsupported(s"malformed $kw")
  }

  /** Decided on the driver by the row core: a keyword whose operands are
    * all static (struct field names, default values) needs no Column. */
  private def rowCoreValid(schema: JVal, instance: JVal): Boolean =
    graft.validate.Validator.validate(SchemaDoc.compile(schema), instance).valid

  private def matches(pattern: String, s: String): Boolean =
    java.util.regex.Pattern.compile(pattern).matcher(s).find()

  /** multipleOf with the reference's exact-decimal semantics: floating
    * columns go through the native [[graft.engine.expressions.ExactMultipleOf]]
    * expression (BigDecimal remainder, codegen'd); integral/decimal columns
    * use exact decimal pmod. A divisor that a double, or decimal(38,12),
    * does not hold exactly is left to the row core. */
  private def multipleOfCond(col: Column, dt: DataType, m: JNum): Column = dt match {
    case FloatType | DoubleType =>
      if (!holdsExactly(m.v, DoubleType)) throw Unsupported(s"multipleOf ${m.v} is no double")
      graft.engine.expressions.GraftFunctions.exactMultipleOf(col, lit(m.v.toDouble))
    case _ =>
      val d = m.v.underlying.stripTrailingZeros
      val scale = dt match { case t: DecimalType => t.scale; case _ => 0 }
      if (d.scale > 12 || d.precision - d.scale > 26 || scale > 12)
        throw Unsupported(s"multipleOf ${m.v} is no decimal(38,12)")
      pmod(col.try_cast(DecimalType(38, 12)),
        lit(m.v.underlying).cast(DecimalType(38, 12))) === lit(0)
  }

  /** Whether a subject of numeric type `dt` can hold `n`: a long, or on a
    * floating subject a double whose shortest decimal, the row core's
    * reading of it, is `n`. A decimal subject holds any. */
  private def holdsExactly(n: BigDecimal, dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => n.isValidLong
    case FloatType | DoubleType =>
      val d = n.toDouble
      !d.isInfinite && BigDecimal(d).compare(n) == 0
    case _ => true
  }

  /** `n` as a bound on an integral subject `x`: the integer `x` crosses it
    * at (x ≤ n ⟺ x ≤ floor(n), x < n ⟺ x < ceil(n), `up` picks ceil), a
    * long, or past the long range, a decimal that every long is on the
    * same side of. */
  private def integralBound(n: BigDecimal, up: Boolean): Column = {
    val i = n.setScale(0, if (up) BigDecimal.RoundingMode.CEILING else BigDecimal.RoundingMode.FLOOR)
    if (i.isValidLong) lit(i.toLong)
    else lit((if (i > 0) BigDecimal(Long.MaxValue) + 1 else BigDecimal(Long.MinValue) - 1).underlying)
  }

  private def literal(v: JVal): Column = v match {
    case JStr(s)  => lit(s)
    case JNum(n)  => if (n.isValidLong) lit(n.toLong) else lit(n.toDouble)
    case JBool(b) => lit(b)
    case JNull    => lit(null)
    case other    => throw Unsupported(s"non-scalar literal ${other.typeName} in column path")
  }

  /** Whether `col === literal(v)` is well-typed for a column of type `dt`
    * and can hold. Mixed numeric widths coerce fine; string-vs-number or
    * boolean-vs-number would throw under ANSI mode, and per JSON semantics
    * cross-type values are simply unequal, as is a number the column
    * cannot hold (an integral column and 0.5). Non-scalars fall through to
    * [[literal]]'s Unsupported (row-core fallback). */
  private def literalComparable(v: JVal, dt: DataType): Boolean = v match {
    case _: JStr  => dt == StringType
    case JNum(n)  => jsonTypeOf(dt) match {
      case "integer" | "number" => holdsExactly(n, dt)
      case _ => false
    }
    case _: JBool => dt == BooleanType
    case _        => true
  }

  /** `twin`, inside an `items` element plan, is the subject's field-array
    * twin: its values across all elements, null where it is absent.
    * `readLater`: a keyword evaluated after this subschema may read the
    * subject as the row core left it (see `required`). */
  private def compile(
      schema: JVal, col: Column, dt: DataType, doc: SchemaDoc,
      seen: Set[String], twin: Option[Column], readLater: Boolean): Plan = schema match {
    case JBool(true) | JNull => pass
    case JBool(false)        => Check(lit(false))
    case o: JObj if o.has("$ref") =>
      // Static $ref inlining at compile time (driver side). The broadcast
      // registry exists for the row-level fallback; here the plan itself is
      // the compiled schema.
      val refStr = o.get("$ref") match {
        case Some(JStr(s)) => s
        case _             => throw Unsupported("non-string $ref")
      }
      if (seen.contains(refStr))
        throw Unsupported(s"recursive $$ref $refStr cannot compile to a finite Column tree")
      compile(resolveStatic(o, doc), col, dt, doc, seen + refStr, twin, readLater)
    case o: JObj =>
      all(o.fields.map { case (kw, v) => keyword(kw, v, o, col, dt, doc, seen, twin, readLater) })
    case other => throw Unsupported(s"invalid schema of type ${other.typeName}")
  }

  private def resolveStatic(refObj: JObj, doc: SchemaDoc): JVal = {
    val base = doc.baseUriOf(refObj)
    val ref = UriUtil.urlDecode(refObj.get("$ref").collect { case JStr(s) => s }.get)
    val uri = UriUtil.join(base, ref)
    val (docref, fragment) = UriUtil.splitFragment(uri)
    val frag = fragment.getOrElse("")
    if (docref.isEmpty) JsonPointer.eval(doc.root, frag)
    else doc.uriIndex.get(docref) match {
      case Some(embedded) => JsonPointer.eval(embedded, frag)
      case None => throw Unsupported(s"external $$ref $docref in column path")
    }
  }

  private val inertKeywords = Set(
    "$schema", "$id", "$comment", "definitions", "title", "description",
    "default", "readOnly", "writeOnly", "examples",
    // handled by their governing keyword:
    "additionalItems", "then", "else")

  /** Keywords that decode a string value in the row core (reporting
    * undecodable content, handing later keywords the parsed value); no
    * Column form, so a string subject falls back. Inert on other types. */
  private val contentKeywords = Set("contentEncoding", "contentMediaType")

  /** True when `schema` is trivially satisfied for a NON-NULL value of
    * Spark type `dt` (the gating contexts — properties children, item
    * fields — guarantee non-null). Skipping such subschemas keeps their
    * columns out of the plan entirely, which lets nested-schema pruning
    * drop them from the parquet scan: at 10^12 rows the win is not the
    * skipped comparison but the bytes never read. */
  private def gatedStaticTrue(schema: JVal, dt: DataType): Boolean = schema match {
    case JBool(true) | JNull => true
    case o: JObj if o.has("$ref") => false
    case o: JObj =>
      o.fields.forall { case (kw, v) =>
        inertKeywords.contains(kw) || (contentKeywords(kw) && dt != StringType) || (kw == "type" &&
          (try typeAdmits(typeList(v), jsonTypeOf(dt)) catch { case _: Unsupported => false }))
      }
    case _ => false
  }

  /** Keywords that compare a number with a numeric subject. */
  private val numericKeywords = Set("type", "enum", "const", "multipleOf",
    "maximum", "minimum", "exclusiveMaximum", "exclusiveMinimum")

  /** Keywords that read an object or array after a keyword before them in
    * the row core's order (`SchemaDoc.KeywordOrder`) changed it. */
  private val laterReaders = Set("uniqueItems", "contains", "patternProperties",
    "additionalProperties", "dependencies", "propertyNames", "if", "allOf", "anyOf", "oneOf", "not")

  /** The plan of one keyword of `schema`, applied to `col`. Keywords that
    * do not apply to the column's JSON type, and unknown keywords (like the
    * reference, `validate.cljc:118-124`), pass. */
  private def keyword(
      kw: String, v: JVal, schema: JObj, col: Column, dt: DataType, doc: SchemaDoc,
      seen: Set[String], twin: Option[Column], readLater: Boolean): Plan = {

    val order = SchemaDoc.KeywordOrder
    val readAfter = readLater ||
      schema.keys.exists(k => laterReaders(k) && order.indexOf(k) > order.indexOf(kw))
    def sub(s: JVal, c: Column, d: DataType, tw: Option[Column] = None): Plan =
      compile(s, c, d, doc, seen, tw, readAfter)
    def subValid(s: JVal, c: Column, d: DataType): Column = validOf(sub(s, c, d))
    def bad: Nothing = throw Unsupported(s"malformed $kw")
    def subschemas: Vector[JVal] = v match {
      case JArr(xs) if xs.nonEmpty => xs
      case _ => bad
    }
    def objectValue: JObj = v match { case o: JObj => o; case _ => bad }
    def keysOf(k: String): Vector[String] = schema.get(k) match {
      case Some(o: JObj) => o.keys; case _ => Vector.empty
    }

    val jsonType = jsonTypeOf(dt)
    val numeric = jsonType == "number" || jsonType == "integer"
    val scalar = numeric || jsonType == "string" || jsonType == "boolean"
    def onlyIf(applies: Boolean)(p: => Plan): Plan = if (applies) p else pass
    // A decimal of more than 15 digits compares with a number in doubles,
    // which cannot tell all of its values apart.
    dt match {
      case d: DecimalType if d.precision > 15 && numericKeywords(kw) =>
        throw Unsupported(s"$kw over $d")
      case _ =>
    }
    // the twin's extreme (nulls skipped) against the bound; `up`: an
    // integral subject meets it at its ceiling, not its floor
    def bounded(extreme: Column => Column, holds: (Column, Column) => Column, up: Boolean): Plan =
      onlyIf(numeric) {
        val n = v match { case JNum(n) => n; case _ => bad }
        val bound = if (jsonType == "integer") integralBound(n, up) else literal(JNum(n))
        Check(col.isNull || holds(col, bound),
          twin.map(a => coalesce(holds(extreme(a), bound), lit(true))))
      }
    // every twin value is one of `values` or null (absent), in one
    // allocation-free loop; the literal array, typed by the analyzer, sets
    // the type both sides compare in, as it would for array_except. That
    // loop tells -0.0 from 0.0 by their bits; `===` and the row core do
    // not, so a zero among the values admits -0.0 too.
    def inValues(values: Vector[JVal]): Option[Column] = twin.filter(_ => scalar).map { a =>
      val comparable = values.filter(x => x != JNull && literalComparable(x, dt))
      val negativeZero = dt match {
        case FloatType | DoubleType if comparable.exists { case JNum(n) => n == 0; case _ => false } =>
          Seq(lit(-0.0))
        case _ => Nil
      }
      everyElement(a, Some(array((comparable.map(literal) ++ negativeZero) :+ lit(null).cast(dt): _*)))
    }

    // object keywords: applied to non-null struct / string-keyed map values
    val isObject = dt match {
      case _: StructType | MapType(StringType, _, _) => true
      case _ => false
    }
    def onObject(p: => Plan): Plan = if (isObject) gate(col.isNull, p) else pass
    // property `k` of the object and its type; None when a struct lacks it
    def member(k: String): Option[(Column, DataType)] = dt match {
      case st: StructType => st.fields.find(_.name == k).map(f => (col.getField(k), f.dataType))
      case MapType(StringType, vt, _) => Some((try_element_at(col, lit(k)), vt))
      case _ => None
    }
    // per-entry plans over a map's (key, value) entries
    def eachEntry(body: (Column, Column) => Plan): Plan = Gate(col.isNull,
      each(map_entries(col))(e => body(e.getField("key"), e.getField("value"))))

    kw match {
      case "type" =>
        val allowed = typeList(v)
        val nonNullOk: Column = jsonType match {
          case t if typeAdmits(allowed, t) => lit(true)
          case "number" if allowed.contains("integer") =>
            (col.cast(DoubleType) % 1.0) === 0.0 // whole-valued check without ANSI long-overflow
          case _ => lit(false)
        }
        // a subject with a twin is never null where it is checked
        if (twin.isDefined && typeAdmits(allowed, jsonType)) pass
        else Check(when(col.isNull, lit(allowed.contains("null"))).otherwise(nonNullOk))

      case "enum" =>
        val values = v match { case JArr(xs) => xs; case _ => bad }
        // Type-incompatible entries are statically false (the row core just
        // reports no match) — comparing e.g. a numeric literal against a
        // string column would raise an ANSI cast error at runtime.
        val cond = when(col.isNull, lit(values.contains(JNull)))
          .otherwise(values.filter(_ != JNull).map(s =>
              if (literalComparable(s, dt)) col === literal(s) else lit(false))
            .reduceOption(_ || _).getOrElse(lit(false)))
        Check(cond, inValues(values))

      case "const" =>
        val cond = v match {
          case JNull => col.isNull
          case s if !literalComparable(s, dt) => lit(false) // see enum
          case s => col === literal(s)
        }
        Check(cond, inValues(Vector(v)))

      case "multipleOf" =>
        // Exact-decimal remainder like the reference's BigDecimal path;
        // decimal(38,12) covers the engine's numeric columns.
        val m = v match { case n: JNum if n.v > 0 => n; case _ => bad }
        onlyIf(numeric)(Check(col.isNull || multipleOfCond(col, dt, m)))

      case "maximum"          => bounded(array_max, _ <= _, up = false)
      case "minimum"          => bounded(array_min, _ >= _, up = true)
      case "exclusiveMaximum" => bounded(array_max, _ < _, up = true)
      case "exclusiveMinimum" => bounded(array_min, _ > _, up = false)

      case "maxLength" | "minLength" =>
        // Spark `length` on strings counts characters (code points for
        // UTF8String), matching the reference's codePointCount.
        val n = count(kw, v)
        onlyIf(jsonType == "string")(
          Check(col.isNull || (if (kw == "maxLength") length(col) <= n else length(col) >= n)))

      case "pattern" =>
        // RLIKE = Java-regex find(), same unanchored semantics as the
        // reference's re-seq (validate.cljc:280-283).
        val p = v match { case JStr(s) => s; case _ => bad }
        onlyIf(jsonType == "string")(Check(col.isNull || col.rlike(p)))

      case "format" =>
        val fmt = v match { case JStr(s) => s; case _ => bad }
        onlyIf(jsonType == "string")(Check(col.isNull || FormatColumns.condition(fmt, col)))

      case "items" =>
        (v, dt) match {
          case (s: JObj, ArrayType(elem, containsNull)) =>
            // Struct elements have the array as their twin, so
            // `arrayValidOf` can replace `forall` (CodegenFallback: boxes
            // every element outside whole-stage codegen) by field-array
            // ops that stay inside it. That form ignores the element, so
            // nulls stand in for it.
            def overFields = arrayValidOf(sub(s, lit(null), elem, Some(col)))
            // A null element fails `type: object` and passes every object
            // keyword. When the element's own `type` rejects null, "no null
            // element and the field-array form" is exact: without one the
            // data is the non-null case, with one both sides are false.
            // A `required` twin already fails a null element, so the
            // element-null guard, which reads every field of the element,
            // joins the form only without one. Otherwise the element plan
            // keeps no twin, so an admitted `type` does not fold to pass
            // for a null element.
            val rejectsNull =
              !s.has("$ref") && s.get("type").exists(t => !typeList(t).contains("null"))
            val (twin, fast) = elem match {
              case _: StructType if !containsNull => (Some(col), overFields.map(_._1))
              case _: StructType if rejectsNull => (None, overFields.map {
                case (form, nullElementFails) =>
                  if (nullElementFails) form else everyElement(col, None) && form
              })
              case _ => (None, None)
            }
            gate(col.isNull, fast.fold(each(col)(sub(s, _, elem, twin)))(Lowered))
          case (JBool(b), _: ArrayType) =>
            onlyIf(!b)(Check(col.isNull || size(col) === 0))
          case (JArr(tuple), ArrayType(elem, _)) =>
            val pad = schema.get("additionalItems").getOrElse(JBool(true))
            val body = (x: Column, i: Column) =>
              tuple.zipWithIndex.foldRight(sub(pad, x, elem)) {
                case ((s, ti), rest) => Cond(i === ti, sub(s, x, elem), rest)
              }
            // positional branches need the index, which `forall` lacks
            Gate(col.isNull, Lowered(forall(transform(col, (x, i) => validOf(body(x, i))), b => b)))
          case (_: JObj | _: JBool | _: JArr, _) => pass // items ignores non-arrays
          case _ => bad
        }

      case "maxItems" | "minItems" =>
        val n = count(kw, v)
        // over struct elements, the length of one field array, so nested-
        // schema pruning can keep the scan to the fields the plan reads
        // (`size` of the whole array reads all of them): a field a sibling
        // `items` requires, which its twin reads, else the first field
        val sized = dt match {
          case ArrayType(st: StructType, _) if st.nonEmpty =>
            val required = schema.get("items").collect { case o: JObj => o.get("required") }.flatten
              .collect { case JArr(ks) => ks.collect { case JStr(k) => k } }.getOrElse(Vector.empty)
            col.getField(required.find(st.fieldNames.contains).getOrElse(st.fieldNames.head))
          case _ => col
        }
        onlyIf(jsonType == "array")(
          Check(col.isNull || (if (kw == "maxItems") size(sized) <= n else size(sized) >= n)))

      case "uniqueItems" =>
        val unique = v match { case JBool(b) => b; case _ => bad }
        // -0.0 and 0.0 are one JSON number, the row core's 0, but two
        // values to array_distinct
        val values = dt match {
          case ArrayType(FloatType | DoubleType, _) => transform(col, x => x + 0.0)
          case _ => col
        }
        onlyIf(unique && jsonType == "array")(Check(
          col.isNull || size(array_distinct(values)) === size(col)))

      case "contains" =>
        dt match {
          case ArrayType(elem, _) =>
            Check(col.isNull || exists(col, x => subValid(v, x, elem)))
          case _ => pass
        }

      case "required" =>
        val names = strings(kw, v)
        onObject(all(names.map { k =>
          // Required-recovery semantics (validate.cljc:353-389): a missing
          // key whose subschema has a *valid* default is not a violation.
          // The row core injects the default, which the plan cannot see,
          // so a keyword that reads the instance later leaves it to the
          // row core.
          val recoverable = schema.get("properties").collect { case p: JObj => p.get(k) }.flatten
            .exists {
              case prop: JObj => prop.get("default").exists(rowCoreValid(prop, _))
              case _ => false
            }
          val present = member(k).map { case (c, _) => col.isNull || c.isNotNull }
          // no null in the field array, whatever the field's nullability:
          // a null element is a null there too (see `items`)
          val everywhere = (dt, twin) match {
            case (st: StructType, Some(a)) => Some(
              if (st.fieldNames.contains(k)) everyElement(a.getField(k), None) else size(a) === 0)
            case _ => None
          }
          if (recoverable && readAfter) throw Unsupported(s"later keywords read the default of $k")
          else if (recoverable) pass
          else Check(present.getOrElse(lit(false)), everywhere, rejectsNullElement = true)
        }))

      case "properties" =>
        val props = objectValue
        onObject(all(props.fields.flatMap { case (k, s) =>
          member(k).collect {
            // statically-true children never enter the plan, so the scan
            // can prune their columns. Only scalar fields get a twin:
            // `required`'s twin form assumes a subject present everywhere.
            case (c, t) if !gatedStaticTrue(s, t) =>
              val fieldTwin = t match {
                case _: StructType | _: ArrayType | _: MapType => None
                case _ => twin.map(_.getField(k))
              }
              gate(c.isNull, sub(s, c, t, fieldTwin))
          }
        }))

      case "patternProperties" =>
        val pats = objectValue
        dt match {
          case st: StructType =>
            // Static field names: pattern matching happens at compile time.
            Gate(col.isNull, All(st.fields.toSeq.flatMap { f =>
              val c = col.getField(f.name)
              pats.fields.collect { case (p, s) if matches(p, f.name) =>
                Gate(c.isNull, sub(s, c, f.dataType))
              }
            }))
          case MapType(StringType, vt, _) =>
            eachEntry((k, value) => All(pats.fields.map { case (p, s) =>
              Gate(!k.rlike(p) || value.isNull, sub(s, value, vt))
            }))
          case _ => pass
        }

      case "additionalProperties" =>
        // properties neither named in `properties` nor matched by a
        // `patternProperties` regex must satisfy the subschema
        val named = keysOf("properties").toSet
        val pats = keysOf("patternProperties")
        dt match {
          case st: StructType =>
            // A struct's fields are a closed set, so the additional ones
            // are known at compile time; with `false` they must be absent.
            val extra = st.fields.toSeq.filterNot(f =>
              named.contains(f.name) || pats.exists(matches(_, f.name)))
            Gate(col.isNull, All(extra.map { f =>
              val c = col.getField(f.name)
              v match {
                case JBool(false) => Check(col.isNull || c.isNull)
                case s => Gate(c.isNull, sub(s, c, f.dataType))
              }
            }))
          case MapType(StringType, vt, _) =>
            eachEntry { (k, value) =>
              val hits = named.toSeq.map(n => k === lit(n)) ++ pats.map(p => k.rlike(p))
              Gate(hits.foldLeft(value.isNull)(_ || _), sub(v, value, vt))
            }
          case _ => pass
        }

      case "dependencies" =>
        val deps = objectValue
        onObject(All(deps.fields.map { case (k, dv) =>
          member(k) match {
            case None => pass
            case Some((c, _)) => Gate(c.isNull, dv match {
              case JArr(_) => All(strings(kw, dv).map { n =>
                Check(member(n).map(_._1.isNotNull).getOrElse(lit(false)))
              })
              case s => sub(s, col, dt)
            })
          }
        }))

      case "propertyNames" =>
        dt match {
          case st: StructType =>
            // Static field names: a bad name is a violation when present.
            val badNames = st.fieldNames.toSeq.filterNot(name => rowCoreValid(v, JStr(name)))
            Gate(col.isNull, All(badNames.map(k => Check(col.isNull || col.getField(k).isNull))))
          case MapType(StringType, _, _) =>
            Gate(col.isNull, each(map_keys(col))(k => Check(subValid(v, k, StringType))))
          case _ => pass
        }

      case "maxProperties" | "minProperties" =>
        val n = count(kw, v)
        val propertyCount: Option[Column] = dt match {
          case st: StructType => Some(st.fieldNames.toSeq.map(k =>
            when(col.getField(k).isNotNull, 1).otherwise(0)).reduceOption(_ + _).getOrElse(lit(0)))
          case MapType(StringType, _, _) => Some(size(map_keys(col)))
          case _ => None
        }
        propertyCount.fold(pass) { cnt =>
          Check(col.isNull || (if (kw == "maxProperties") cnt <= n else cnt >= n))
        }

      // Applicators test their subschemas with the boolean lowering.
      case "allOf" => all(subschemas.map(sub(_, col, dt, twin)))

      case "anyOf" =>
        Check(subschemas.map(subValid(_, col, dt)).reduce(_ || _))

      case "oneOf" =>
        val validCount = subschemas.map(s => when(subValid(s, col, dt), 1).otherwise(0)).reduce(_ + _)
        Check(validCount === 1)

      case "not" => Check(!ok(subValid(v, col, dt)))

      case "if" =>
        // the branches get the twin only so an admitted `type` folds to pass
        def branch(k: String) = schema.get(k).map(sub(_, col, dt, twin)).getOrElse(pass)
        Cond(ok(subValid(v, col, dt)), branch("then"), branch("else"))

      case k if contentKeywords(k) =>
        if (jsonType == "string") throw Unsupported(s"$k on a string value") else pass

      case _ => pass // inert and unknown keywords
    }
  }
}

/** Format → Column-condition mapping for the compiled path. Simple regex
  * formats compile to anchored RLIKE (pure codegen'd builtins); everything
  * else — date/time parsing, IDN, regex-compilability, unknown-format
  * pass-through — runs the native [[graft.engine.expressions.FormatCheck]]
  * expression, which calls the SAME [[graft.validate.Formats.check]] the
  * row core uses (parity by construction, still whole-stage codegen). No
  * format ever forces a whole-schema row-core fallback. */
object FormatColumns {
  import graft.validate.Formats
  // `\z`, not `$`, which also matches before a final line terminator:
  // the row core's `matches()` takes the whole string
  private def anchor(p: String): String = s"^(?:$p)\\z"
  private val regexFormats: Map[String, String] = Map(
    "email" -> Formats.emailPattern,
    "ipv4" -> Formats.ipv4Pattern,
    "ipv6" -> Formats.ipv6Pattern,
    "uri" -> Formats.uriPattern,
    "json-pointer" -> Formats.jsonPointerPattern,
    "relative-json-pointer" -> Formats.relativeJsonPointerPattern
  ).map { case (k, v) => k -> anchor(v) }

  /** The (non-null) validity condition for a format. hostname adds the
    * RFC 1034 length caps on top of its regex, matching
    * [[Formats.hostname]]: total ≤ 255 chars (all-ASCII once the regex
    * passes, so `length` = bytes), and no label longer than 63 (a run of
    * 64+ label characters ⟺ some dot-separated label > 63). */
  def condition(fmt: String, col: Column): Column = fmt match {
    case "hostname" =>
      col.rlike(anchor(Formats.hostnamePattern)) &&
        length(col) <= 255 && !col.rlike("[A-Za-z0-9-]{64,}")
    case f if regexFormats.contains(f) => col.rlike(regexFormats(f))
    case other =>
      graft.engine.expressions.FormatCheckFunctions.formatCheck(col, other)
  }
}
