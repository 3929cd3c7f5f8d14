package graft.engine

import graft.engine.expressions.GraftFunctions.everyElement
import graft.json._
import graft.schema._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a draft-7 schema into Catalyst `Column` expressions over a
  * statically-typed Dataset — the engine's bulk validation path.
  *
  * Each keyword is compiled once, into a small plan tree ([[Plan]]), and
  * the tree is lowered three ways: to the allocation-free boolean verdict
  * (the first of [[lowerings]]), to the violation array (the second), and,
  * for the element plan of object `items`, to one boolean over whole field
  * arrays (`arrayValidOf`). So valid ⟺ no violations holds by construction,
  * like the reference's `:valid?` (no errors, `validate.cljc:99-116`).
  *
  * The violation array is `array<struct<path,keyword,message>>` holding the
  * *leaf* violations (the reference nests causes under applicator errors,
  * `validate.cljc:824-832`; the engine's exploded violation rows are the
  * flattened leaves — same validity semantics: valid ⟺ zero leaves).
  *
  * Everything is built from `org.apache.spark.sql.functions` and the native
  * expressions of `graft.engine.expressions` (no UDFs), and validation is a
  * narrow map over the scan, no shuffle. The boolean lowering stays inside
  * whole-stage codegen wherever it needs no lambda: object `items` over
  * struct elements (nullable ones too, when the element's own `type`
  * rejects null) use the field-array form. `forall`, `exists` and
  * `transform` are CodegenFallback and take a projection that holds them
  * out of codegen, so every bulk caller (`ValidationJob.compiled`)
  * evaluates the error lowering, which needs them for paths and messages,
  * interpreted inside the native [[graft.engine.expressions.ViolationsOf]],
  * for failing rows only.
  *
  * The boolean lowering references only the leaves it checks, so Parquet
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
  * per row. The error lowering still reads the whole payload: its paths
  * need each element's nullness.
  *
  * Mapping decisions for columnar data (documented divergence from the
  * dynamic-JSON world): a NULL struct field means *absent* (Parquet cannot
  * distinguish present-null from absent), so `required` fails on null fields
  * and `properties` subschemas are gated on non-null.
  *
  * Schemas using keywords that cannot be expressed as a finite Column tree
  * (recursive or external $ref, Spark types with no JSON mapping, malformed
  * keyword values …) throw [[ColumnCompiler.Unsupported]]; callers fall back
  * to the row-level core (`ValidationJob.compiled` returns None).
  */
object ColumnCompiler {

  final case class Unsupported(reason: String) extends RuntimeException(reason)

  val errorType: DataType = ArrayType(StructType(Seq(
    // path is nullable: dynamic paths concat map keys, which Spark types as
    // nullable strings
    StructField("path", StringType, nullable = true),
    StructField("keyword", StringType, nullable = false),
    StructField("message", StringType, nullable = false))), containsNull = false)
  private[engine] val noErrors: Column = array().cast(errorType)

  /** The allocation-free boolean validity of `doc` over input column `col`
    * of Spark type `dt`, and the violation array: two lowerings of one
    * compiled plan. The error lowering is built only when called, so a
    * caller that needs the verdict alone never pays for it. */
  private[engine] def lowerings(doc: SchemaDoc, col: Column, dt: DataType): (Column, () => Column) = {
    val p = plan(doc, col, dt)
    (validOf(p), () => errorsOf(p))
  }

  private def plan(doc: SchemaDoc, col: Column, dt: DataType): Plan =
    compile(doc.root, col, dt, lit(""), doc, Set.empty, None, readLater = false)

  // --- the plan tree and its three lowerings --------------------------------

  private sealed trait Plan
  /** A leaf: one violation at `path` unless `ok` holds (null fails);
    * `overArray` is its all-elements form over the subject's twin. */
  private final case class Check(ok: Column, path: Column, keyword: String, message: String,
      overArray: Option[Column] = None) extends Plan
  private final case class All(parts: Seq[Plan]) extends Plan
  /** `inner` applies unless `absent` holds (null = absent gating). */
  private final case class Gate(absent: Column, inner: Plan) extends Plan
  /** `body(element, index)` holds for every element of `arr`; `fast` is a
    * boolean-only form of the whole node: the element plan's `arrayValidOf`
    * for object `items`, a positional `forall` for tuple `items`. */
  private final case class Each(arr: Column, body: (Column, Column) => Plan,
      fast: Option[Column] = None) extends Plan
  /** if/then/else: `whenTrue` applies when `test` holds, else `whenFalse`. */
  private final case class Cond(test: Column, whenTrue: Plan, whenFalse: Plan) extends Plan

  private val pass: Plan = All(Nil)
  private def all(parts: Seq[Plan]): Plan = All(parts.filter(_ != pass))
  private def gate(absent: Column, inner: Plan): Plan =
    if (inner == pass) pass else Gate(absent, inner)

  private def ok(cond: Column): Column = coalesce(cond, lit(false))

  private def validOf(p: Plan): Column = p match {
    case Check(c, _, _, _, _) => ok(c)
    case All(parts)        => parts.map(validOf).reduceOption(_ && _).getOrElse(lit(true))
    case Gate(absent, in)  => ok(absent || validOf(in))
    // without `fast` the index feeds only violation paths, which this
    // lowering drops (tuple `items`, which branch on it, bring `fast`)
    case Each(arr, body, fast) => fast.getOrElse(forall(arr, x => validOf(body(x, lit(null)))))
    case Cond(test, t, f)  => ok(when(test, validOf(t)).otherwise(validOf(f)))
  }


  private def whenOr(cond: Column, ifTrue: Column, ifFalse: Column): Column =
    when(coalesce(cond, lit(false)), ifTrue).otherwise(ifFalse)

  private def errorsOf(p: Plan): Column = p match {
    case Check(c, path, kw, msg, _) =>
      whenOr(c, noErrors, array(struct(
        path.as("path"), lit(kw).as("keyword"), lit(msg).as("message"))).cast(errorType))
    case All(parts) =>
      if (parts.isEmpty) noErrors else parts.map(errorsOf).reduce(concat(_, _))
    case Gate(absent, in) => whenOr(absent, noErrors, errorsOf(in))
    case Each(arr, body, _) =>
      flatten(transform(arr, (x, i) => errorsOf(body(x, i)))).cast(errorType)
    case Cond(test, t, f) => whenOr(test, errorsOf(t), errorsOf(f))
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
      case _: Each => None // nested items
    }
    conjuncts(p).map(cs => (cs.flatMap(_.overArray).reduceOption(_ && _).getOrElse(lit(true)),
      cs.exists(_.keyword == "required")))
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
    * use exact decimal pmod. */
  private def multipleOfCond(col: Column, dt: DataType, m: JNum): Column = dt match {
    case FloatType | DoubleType =>
      graft.engine.expressions.GraftFunctions.exactMultipleOf(col, lit(m.v.toDouble))
    case _ =>
      pmod(col.try_cast(DecimalType(38, 12)),
        lit(m.v.underlying).cast(DecimalType(38, 12))) === lit(0)
  }

  private def literal(v: JVal): Column = v match {
    case JStr(s)  => lit(s)
    case JNum(n)  => if (n.isWhole && n.abs < BigDecimal(Long.MaxValue)) lit(n.toLong) else lit(n.toDouble)
    case JBool(b) => lit(b)
    case JNull    => lit(null)
    case other    => throw Unsupported(s"non-scalar literal ${other.typeName} in column path")
  }

  /** Whether `col === literal(v)` is well-typed for a column of the given
    * JSON type. Mixed numeric widths coerce fine; string-vs-number or
    * boolean-vs-number would throw under ANSI mode, and per JSON semantics
    * cross-type values are simply unequal. Non-scalars fall through to
    * [[literal]]'s Unsupported (row-core fallback). */
  private def literalComparable(v: JVal, jsonType: String): Boolean = v match {
    case _: JStr  => jsonType == "string"
    case _: JNum  => jsonType == "integer" || jsonType == "number"
    case _: JBool => jsonType == "boolean"
    case _        => true
  }

  /** `twin`, inside an `items` element plan, is the subject's field-array
    * twin: its values across all elements, null where it is absent.
    * `readLater`: a keyword evaluated after this subschema may read the
    * subject as the row core left it (see `required`). */
  private def compile(
      schema: JVal, col: Column, dt: DataType, path: Column, doc: SchemaDoc,
      seen: Set[String], twin: Option[Column], readLater: Boolean): Plan = schema match {
    case JBool(true) | JNull => pass
    case JBool(false)        => Check(lit(false), path, "false", "Schema is false")
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
      compile(resolveStatic(o, doc), col, dt, path, doc, seen + refStr, twin, readLater)
    case o: JObj =>
      all(o.fields.map { case (kw, v) => keyword(kw, v, o, col, dt, path, doc, seen, twin, readLater) })
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

  /** Keywords that read an object or array after a keyword before them in
    * the row core's order (`SchemaDoc.KeywordOrder`) changed it. */
  private val laterReaders = Set("uniqueItems", "contains", "patternProperties",
    "additionalProperties", "dependencies", "propertyNames", "if", "allOf", "anyOf", "oneOf", "not")

  /** The plan of one keyword of `schema`, applied to `col`. Keywords that
    * do not apply to the column's JSON type, and unknown keywords (like the
    * reference, `validate.cljc:118-124`), pass. */
  private def keyword(
      kw: String, v: JVal, schema: JObj, col: Column, dt: DataType, path: Column,
      doc: SchemaDoc, seen: Set[String], twin: Option[Column], readLater: Boolean): Plan = {

    val order = SchemaDoc.KeywordOrder
    val readAfter = readLater ||
      schema.keys.exists(k => laterReaders(k) && order.indexOf(k) > order.indexOf(kw))
    def sub(s: JVal, c: Column, d: DataType, p: Column, tw: Option[Column] = None): Plan =
      compile(s, c, d, p, doc, seen, tw, readAfter)
    def subValid(s: JVal, c: Column, d: DataType): Column = validOf(sub(s, c, d, path))
    def at(k: String): Column = concat(path, lit(s"/$k"))
    def atKey(k: Column): Column = concat(path, lit("/"), k)
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
    // the twin's extreme (nulls skipped) against the bound
    def bounded(extreme: Column => Column, holds: (Column, Column) => Column): Plan = {
      val bound = v match { case n: JNum => literal(n); case _ => bad }
      onlyIf(numeric)(Check(col.isNull || holds(col, bound), path, kw, s"Failed $kw check",
        twin.map(a => coalesce(holds(extreme(a), bound), lit(true)))))
    }
    // every twin value is one of `values` or null (absent), in one
    // allocation-free loop; the literal array, typed by the analyzer, sets
    // the type both sides compare in, as it would for array_except
    def inValues(values: Vector[JVal]): Option[Column] = twin.filter(_ => scalar).map { a =>
      val allowed = values.filter(x => x != JNull && literalComparable(x, jsonType)).map(literal)
      everyElement(a, Some(array(allowed :+ lit(null).cast(dt): _*)))
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
      Each(map_entries(col), (e, _) => body(e.getField("key"), e.getField("value"))))

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
        else Check(when(col.isNull, lit(allowed.contains("null"))).otherwise(nonNullOk),
          path, "type", s"Instance is not of type ${allowed.mkString(" or ")}")

      case "enum" =>
        val values = v match { case JArr(xs) => xs; case _ => bad }
        // Type-incompatible entries are statically false (the row core just
        // reports no match) — comparing e.g. a numeric literal against a
        // string column would raise an ANSI cast error at runtime.
        val cond = when(col.isNull, lit(values.contains(JNull)))
          .otherwise(values.filter(_ != JNull).map(s =>
              if (literalComparable(s, jsonType)) col === literal(s) else lit(false))
            .reduceOption(_ || _).getOrElse(lit(false)))
        Check(cond, path, "enum", "Value must be in enum", inValues(values))

      case "const" =>
        val cond = v match {
          case JNull => col.isNull
          case s if !literalComparable(s, jsonType) => lit(false) // see enum
          case s => col === literal(s)
        }
        Check(cond, path, "const", "Value must be equal to const", inValues(Vector(v)))

      case "multipleOf" =>
        // Exact-decimal remainder like the reference's BigDecimal path;
        // decimal(38,12) covers the engine's numeric columns.
        val m = v match { case n: JNum if n.v > 0 => n; case _ => bad }
        onlyIf(numeric)(Check(col.isNull || multipleOfCond(col, dt, m), path,
          "multipleOf", "Failed multipleOf check"))

      case "maximum"          => bounded(array_max, _ <= _)
      case "minimum"          => bounded(array_min, _ >= _)
      case "exclusiveMaximum" => bounded(array_max, _ < _)
      case "exclusiveMinimum" => bounded(array_min, _ > _)

      case "maxLength" | "minLength" =>
        // Spark `length` on strings counts characters (code points for
        // UTF8String), matching the reference's codePointCount.
        val n = count(kw, v)
        onlyIf(jsonType == "string")(
          if (kw == "maxLength") Check(col.isNull || length(col) <= n, path, kw, "String is too long")
          else Check(col.isNull || length(col) >= n, path, kw, "String is too short"))

      case "pattern" =>
        // RLIKE = Java-regex find(), same unanchored semantics as the
        // reference's re-seq (validate.cljc:280-283).
        val p = v match { case JStr(s) => s; case _ => bad }
        onlyIf(jsonType == "string")(Check(col.isNull || col.rlike(p), path, "pattern",
          s"String does not match pattern $p"))

      case "format" =>
        val fmt = v match { case JStr(s) => s; case _ => bad }
        onlyIf(jsonType == "string")(Check(col.isNull || FormatColumns.condition(fmt, col),
          path, "format", s"Doesn't match $fmt format"))

      case "items" =>
        def atIndex(i: Column) = concat(path, lit("/"), i.cast(StringType))
        (v, dt) match {
          case (s: JObj, ArrayType(elem, containsNull)) =>
            // Struct elements have the array as their twin, so
            // `arrayValidOf` can replace `forall` (CodegenFallback: boxes
            // every element outside whole-stage codegen) by field-array
            // ops that stay inside it. That form ignores the element, so
            // nulls stand in for it.
            def body(twin: Option[Column]) =
              (x: Column, i: Column) => sub(s, x, elem, atIndex(i), twin)
            def overFields = arrayValidOf(body(Some(col))(lit(null), lit(null)))
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
            gate(col.isNull, Each(col, body(twin), fast))
          case (JBool(b), _: ArrayType) =>
            onlyIf(!b)(Check(col.isNull || size(col) === 0, path, "items",
              "Items must be empty to satisfy a false schema"))
          case (JArr(tuple), ArrayType(elem, _)) =>
            val pad = schema.get("additionalItems").getOrElse(JBool(true))
            val body = (x: Column, i: Column) =>
              tuple.zipWithIndex.foldRight(sub(pad, x, elem, atIndex(i))) {
                case ((s, ti), rest) => Cond(i === ti, sub(s, x, elem, atIndex(i)), rest)
              }
            // positional branches need the index, which `forall` lacks
            Gate(col.isNull, Each(col, body,
              Some(forall(transform(col, (x, i) => validOf(body(x, i))), b => b))))
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
          if (kw == "maxItems") Check(col.isNull || size(sized) <= n, path, kw, "maxItems exceeded")
          else Check(col.isNull || size(sized) >= n, path, kw, "minItems not reached"))

      case "uniqueItems" =>
        val unique = v match { case JBool(b) => b; case _ => bad }
        onlyIf(unique && jsonType == "array")(Check(
          col.isNull || size(array_distinct(col)) === size(col),
          path, "uniqueItems", "Instance elements are not all unique"))

      case "contains" =>
        dt match {
          case ArrayType(elem, _) =>
            Check(col.isNull || exists(col, x => subValid(v, x, elem)), path, "contains",
              "Instance is not valid against schema")
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
          else Check(present.getOrElse(lit(false)), at(k), "required",
            "Required property not in object", everywhere)
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
              gate(c.isNull, sub(s, c, t, at(k), fieldTwin))
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
                Gate(c.isNull, sub(s, c, f.dataType, at(f.name)))
              }
            }))
          case MapType(StringType, vt, _) =>
            eachEntry((k, value) => All(pats.fields.map { case (p, s) =>
              Gate(!k.rlike(p) || value.isNull, sub(s, value, vt, atKey(k)))
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
                case JBool(false) => Check(col.isNull || c.isNull, at(f.name),
                  "additionalProperties", "An additional property failed the schema check")
                case s => Gate(c.isNull, sub(s, c, f.dataType, at(f.name)))
              }
            }))
          case MapType(StringType, vt, _) =>
            eachEntry { (k, value) =>
              val hits = named.toSeq.map(n => k === lit(n)) ++ pats.map(p => k.rlike(p))
              Gate(hits.foldLeft(value.isNull)(_ || _), sub(v, value, vt, atKey(k)))
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
                Check(member(n).map(_._1.isNotNull).getOrElse(lit(false)), at(n),
                  "dependencies", "Not every dependency in instance")
              })
              case s => sub(s, col, dt, path)
            })
          }
        }))

      case "propertyNames" =>
        dt match {
          case st: StructType =>
            // Static field names: a bad name is a violation when present.
            val badNames = st.fieldNames.toSeq.filterNot(name => rowCoreValid(v, JStr(name)))
            Gate(col.isNull, All(badNames.map(k =>
              Check(col.isNull || col.getField(k).isNull, at(k), "propertyNames", "propertyNames"))))
          case MapType(StringType, _, _) =>
            Gate(col.isNull, Each(map_keys(col), (k, _) =>
              Check(subValid(v, k, StringType), atKey(k), "propertyNames", "propertyNames")))
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
          if (kw == "maxProperties") Check(col.isNull || cnt <= n, path, kw, "Max properties exceeded")
          else Check(col.isNull || cnt >= n, path, kw, "Min properties not reached")
        }

      // Applicators test their subschemas with the boolean lowering.
      case "allOf" => all(subschemas.map(sub(_, col, dt, path, twin)))

      case "anyOf" =>
        Check(subschemas.map(subValid(_, col, dt)).reduce(_ || _),
          path, "anyOf", "No schema validates for anyOf validation")

      case "oneOf" =>
        val validCount = subschemas.map(s => when(subValid(s, col, dt), 1).otherwise(0)).reduce(_ + _)
        Check(validCount === 1, path, "oneOf", "oneOf validation failed")

      case "not" => Check(!ok(subValid(v, col, dt)), path, "not", "Schema should not be valid")

      case "if" =>
        // the branches get the twin only so an admitted `type` folds to pass
        def branch(k: String) = schema.get(k).map(sub(_, col, dt, path, twin)).getOrElse(pass)
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
  private def anchor(p: String): String = s"^(?:$p)$$"
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
