package graft.validate

import graft.json._
import graft.schema._
import java.util.regex.Pattern
import scala.collection.concurrent.TrieMap

/** One flattened validation error. `path` is a JSON-pointer-ish data path
  * into the instance ("" = root). The reference nests error causes
  * (`validate.cljc:824-832`); we flatten the tree into rows (what the engine
  * explodes into violation rows) while preserving the same validity
  * semantics: a keyword contributes at least one violation exactly when the
  * reference's journal records an `:error` for it.
  */
final case class Violation(path: String, keyword: String, message: String)

/** One journal entry: the outcome of processing a single keyword. Like the
  * reference (`validate.cljc:805-818`, the `if-let` around the journal
  * conj), only keywords whose processing returned a non-nil outcome are
  * recorded — a type-gated keyword that doesn't apply leaves no entry. */
final case class JournalEntry(
    keyword: String,
    errors: Vector[Violation],
    instance: Option[JVal],
    annotations: Option[Map[String, JVal]],
    instanceType: Option[String] = None)

/** Mirror of the reference's validate result shape (`validate.cljc:824-833`):
  * the instance may be *transformed* by validation (required-recovery
  * defaults, coercions, contentMediaType decoding, child rebuilds).
  * `instanceType` is the reference's `:type` (set by a string-form `type`
  * keyword on success); `journal` is populated only under
  * `Options(journal = true)`. Annotations follow the reference exactly:
  * `properties` nests child annotations under the reserved `":properties"`
  * key (a Clojure *keyword* in the reference, so it can never collide with
  * a string annotation name), and `allOf`/`anyOf` merge valid branches'
  * annotations into per-key value LISTS (`merge-annotations`,
  * `validate.cljc:51-76`).
  */
final case class VResult(
    valid: Boolean,
    errors: Vector[Violation],
    instance: JVal,
    annotations: Map[String, JVal],
    instanceType: Option[String] = None,
    journal: Vector[JournalEntry] = Vector.empty)

final case class Options(
    resolvers: Seq[Resolver] = Resolver.default,
    /** (runtime type name, target type name) → coercer, like the reference's
      * `:coercions` option (`validate.cljc:190-207`). Runtime type names are
      * JVal type names: null/boolean/number/string/array/object. */
    coercions: Map[(String, String), JVal => JVal] = Map.empty,
    keywordOrder: Option[Seq[String]] = None,
    maxRefDepth: Int = 100,
    /** Record every keyword outcome (the reference's `:journal?` option,
      * `validate.cljc:824-832`). */
    journal: Boolean = false)

/** Row-level draft-7 validator — semantics ported from the reference's
  * `validate*` recursion (`/root/reference/src/juxt/jinx/alpha/validate.cljc:741-833`)
  * and its `process-keyword` methods (`validate.cljc:99-739`). This is the
  * oracle-parity kernel; the Spark bulk path compiles the same semantics to
  * Catalyst columns where expressible and falls back to this core (broadcast)
  * otherwise.
  */
object Validator {

  /** The reference's keyword evaluation order, [[SchemaDoc.KeywordOrder]]. */
  val KeywordOrder: Vector[String] = SchemaDoc.KeywordOrder

  final class RefResolutionException(msg: String) extends RuntimeException(msg)

  // The reference recompiles regexes on every use (validate.cljc:282,419,434
  // — a TODO in-source); we memoize compiled patterns process-wide instead.
  private val patternCache = TrieMap.empty[String, Pattern]
  private def regex(p: String): Pattern =
    patternCache.getOrElseUpdate(p, Pattern.compile(p))
  private def reFind(p: String, s: String): Boolean = regex(p).matcher(s).find()

  private val docCache = TrieMap.empty[String, SchemaDoc]

  private final case class Ctx(
      doc: SchemaDoc,
      baseUri: Option[String],
      opts: Options,
      refDepth: Int)

  def validate(schema: SchemaDoc, instance: JVal, opts: Options = Options()): VResult =
    validateAt(schema.root, instance, Ctx(schema, None, opts, 0), "")

  def validate(schemaJson: String, instanceJson: String): VResult =
    validate(SchemaDoc.schema(schemaJson), Json.parse(instanceJson))

  // --------------------------------------------------------------------------

  private def ok(instance: JVal, ann: Map[String, JVal] = Map.empty): VResult =
    VResult(valid = true, Vector.empty, instance, ann)

  private def bad(instance: JVal, errs: Vector[Violation]): VResult =
    VResult(valid = false, errs, instance, Map.empty)

  private def one(path: String, kw: String, msg: String): Vector[Violation] =
    Vector(Violation(path, kw, msg))

  private def validateAt(schema: JVal, instance: JVal, ctx: Ctx, path: String): VResult =
    schema match {
      // Boolean schema short-circuit (validate.cljc:744-748).
      case JBool(true)  => ok(instance)
      case JBool(false) => bad(instance, one(path, "false", "Schema is false"))
      // A nil schema behaves as accept-all in the reference (the keyword fold
      // over `(keys nil)` is empty).
      case JNull => ok(instance)
      case o: JObj if o.has("$ref") =>
        // $ref takes precedence over every sibling keyword
        // (validate.cljc:753-760).
        val (target, newCtx) = resolveRef(o, ctx)
        val res = validateAt(target, instance, newCtx, path)
        if (res.valid) res
        else res.copy(errors =
          Violation(path, "$ref", "Schema failed following ref") +: res.errors)
      case o: JObj => keywordFold(o, instance, ctx, path)
      case _ =>
        bad(instance, one(path, "schema", s"Invalid schema of type ${schema.typeName}"))
    }

  private def resolveRef(refObj: JObj, ctx: Ctx): (JVal, Ctx) = {
    if (ctx.refDepth >= ctx.opts.maxRefDepth)
      throw new RefResolutionException("Infinite cycle detected following $ref")
    val base = ctx.doc.baseUriOf(refObj).orElse(ctx.baseUri)
    val ref = UriUtil.urlDecode(refObj.get("$ref") match {
      case Some(JStr(s)) => s
      case other => throw new RefResolutionException(s"$$ref must be a string, got $other")
    })
    val uri = UriUtil.join(base, ref)
    val (docref, fragment) = UriUtil.splitFragment(uri)
    val frag = fragment.getOrElse("")
    if (docref.isEmpty)
      (JsonPointer.eval(ctx.doc.root, frag), ctx.copy(refDepth = ctx.refDepth + 1))
    else ctx.doc.uriIndex.get(docref) match {
      case Some(embedded) =>
        (JsonPointer.eval(embedded, frag),
          ctx.copy(baseUri = Some(docref), refDepth = ctx.refDepth + 1))
      case None =>
        val doc = docCache.get(docref).orElse {
          ctx.opts.resolvers.view.flatMap(_.resolve(docref)).headOption.map { raw =>
            val compiled = SchemaDoc.compile(raw)
            docCache.putIfAbsent(docref, compiled)
            compiled
          }
        }.getOrElse(throw new RefResolutionException(s"Failed to resolve uri: $docref"))
        (JsonPointer.eval(doc.root, frag),
          Ctx(doc, Some(docref), ctx.opts, ctx.refDepth + 1))
    }
  }

  // --------------------------------------------------------------------------

  /** Per-keyword outcome: errors to append, and optionally a transformed
    * instance / replaced annotations / replaced instance-type (the
    * reference's journal fold, `validate.cljc:803-823`). `instanceType` is
    * double-Option because `oneOf`/`if` replace `:type` with the branch
    * result's value even when that value is absent. */
  private final case class KwOut(
      errors: Vector[Violation] = Vector.empty,
      instance: Option[JVal] = None,
      annotations: Option[Map[String, JVal]] = None,
      instanceType: Option[Option[String]] = None)

  private val NoOp = KwOut()

  /** The reference's keyword fold (`validate.cljc:803-823`). The reference
    * folds over `(distinct (concat keywords (keys schema)))`
    * (`validate.cljc:823`) and looks each name up in the schema, at every
    * node for every instance. Here the fold walks the node's keyword plan
    * instead — its draft-7 keywords with their values, in that order —
    * which [[SchemaDoc.compile]] works out once per schema node. Only a
    * custom `Options.keywordOrder` plans the node again on each call. */
  private def keywordFold(schema: JObj, instance0: JVal, ctx: Ctx, path: String): VResult = {
    val plan = ctx.opts.keywordOrder match {
      case None        => ctx.doc.keywordPlan(schema)
      case Some(order) => SchemaDoc.keywordPlan(schema, order)
    }
    var inst = instance0
    var ann = Map.empty[String, JVal]
    var typ: Option[String] = None
    var errs = Vector.empty[Violation]
    val journal = if (ctx.opts.journal) Vector.newBuilder[JournalEntry] else null
    var i = 0
    while (i < plan.length) {
      val (kw, v) = plan(i)
      val out = processKeyword(kw, v, schema, inst, ann, ctx, path)
      if (out.errors.nonEmpty) errs ++= out.errors
      out.instance.foreach(inst = _)
      out.annotations.foreach(ann = _)
      out.instanceType.foreach(typ = _)
      // the reference journals only non-nil keyword results
      // (validate.cljc:805-818); a NoOp outcome ≈ nil
      if (journal != null && out != NoOp)
        journal += JournalEntry(kw, out.errors, out.instance, out.annotations,
          out.instanceType.flatten)
      i += 1
    }
    VResult(errs.isEmpty, errs, inst, ann, typ,
      if (journal != null) journal.result() else Vector.empty)
  }

  /** The reference's `merge-annotations` (`validate.cljc:51-76`): concat all
    * entries, group per key, flatten already-sequential values, and collect
    * into a value LIST per key ("the default behavior is simply to collect
    * all values"); `default` deduplicates per the spec's SHOULD. */
  private def mergeAnnotations(maps: Seq[Map[String, JVal]]): Map[String, JVal] = {
    val pairs = maps.flatten
    pairs.map(_._1).distinct.map { k =>
      val flat = pairs.collect { case (`k`, v) => v }.flatMap {
        case JArr(els) => els
        case other     => Vector(other)
      }
      k -> JArr((if (k == "default") flat.distinct else flat).toVector)
    }.toMap
  }

  private def isNumber(v: JVal): Boolean = v.isInstanceOf[JNum]

  private def typePred(t: String, v: JVal): Boolean = t match {
    case "null"    => v == JNull
    case "boolean" => v.isInstanceOf[JBool]
    case "object"  => v.isInstanceOf[JObj]
    case "array"   => v.isInstanceOf[JArr]
    case "number"  => v.isInstanceOf[JNum]
    case "string"  => v.isInstanceOf[JStr]
    // whole-valued floats count as integers (validate.cljc:165-172)
    case "integer" => v match { case n: JNum => n.isWhole; case _ => false }
    case _         => false
  }

  private def processKeyword(
      kw: String, v: JVal, schema: JObj, instance: JVal,
      ann: Map[String, JVal], ctx: Ctx, path: String): KwOut = kw match {

    // ---- annotations (validate.cljc:142-160) ----
    case "title" | "description" | "readOnly" =>
      KwOut(annotations = Some(ann.updated(kw, v)))
    case "default" =>
      // NB: the reference returns the would-be replacement under `:value`,
      // which the fold ignores — so `default` never transforms the instance
      // here (validate.cljc:148-151 vs the fold's `(find result :instance)`).
      // Default *injection* happens only via required-recovery below.
      KwOut(annotations = Some(ann.updated(kw, v)))
    case "writeOnly" | "examples" => NoOp // stored as :metadata in the ref; inert
    case "$schema" | "definitions" | "$id" | "$comment" => NoOp

    // ---- any-type assertions (validate.cljc:174-235) ----
    case "type" =>
      v match {
        case JStr(t) =>
          if (typePred(t, instance)) KwOut(instanceType = Some(Some(t)))
          else {
            val coerced = ctx.opts.coercions.get((instance.typeName, t)).map { coercer =>
              try {
                val ni = coercer(instance)
                KwOut(instance = Some(ni), instanceType = Some(Some(t)))
              } catch {
                case e: Exception => KwOut(errors = one(path, kw,
                  s"Instance is not of type $t and failed to coerce to one"))
              }
            }
            coerced.getOrElse(
              KwOut(errors = one(path, kw, s"Instance is not of type $t")))
          }
        case JArr(types) =>
          val names = types.collect { case JStr(s) => s }
          if (names.exists(typePred(_, instance))) NoOp
          else KwOut(errors = one(path, kw,
            s"Value must be of type ${names.mkString(" or ")}"))
        case _ => NoOp
      }

    case "enum" =>
      v match {
        case JArr(items) =>
          if (items.contains(instance)) NoOp
          else KwOut(errors = one(path, kw, "Value must be in enum"))
        case _ => NoOp
      }

    case "const" =>
      if (v == instance) NoOp
      else KwOut(errors = one(path, kw, "Value must be equal to const"))

    // ---- numeric (validate.cljc:237-262) ----
    case "multipleOf" =>
      (instance, v) match {
        case (n: JNum, m: JNum) =>
          // Exact decimal remainder, like the reference's BigDecimal path.
          if (n.v.underlying.remainder(m.v.underlying).compareTo(java.math.BigDecimal.ZERO) == 0) NoOp
          else KwOut(errors = one(path, kw, "Failed multipleOf check"))
        case _ => NoOp
      }
    case "maximum" =>
      (instance, v) match {
        case (n: JNum, m: JNum) if !(n.v <= m.v) =>
          KwOut(errors = one(path, kw, "Failed maximum check"))
        case _ => NoOp
      }
    case "exclusiveMaximum" =>
      (instance, v) match {
        case (n: JNum, m: JNum) if !(n.v < m.v) =>
          KwOut(errors = one(path, kw, "Failed exclusiveMaximum check"))
        case _ => NoOp
      }
    case "minimum" =>
      (instance, v) match {
        case (n: JNum, m: JNum) if !(n.v >= m.v) =>
          KwOut(errors = one(path, kw, "Failed minimum check"))
        case _ => NoOp
      }
    case "exclusiveMinimum" =>
      (instance, v) match {
        case (n: JNum, m: JNum) if !(n.v > m.v) =>
          KwOut(errors = one(path, kw, "Failed exclusiveMinimum check"))
        case _ => NoOp
      }

    // ---- strings (validate.cljc:264-283) ----
    // Length and count bounds compare as decimals, like the reference's
    // numeric `<`/`>`: a bound past Int range must not wrap.
    case "maxLength" =>
      (instance, v) match {
        case (s: JStr, n: JNum) if n.v < s.codePointLength =>
          KwOut(errors = one(path, kw, "String is too long"))
        case _ => NoOp
      }
    case "minLength" =>
      (instance, v) match {
        case (s: JStr, n: JNum) if n.v > s.codePointLength =>
          KwOut(errors = one(path, kw, "String is too short"))
        case _ => NoOp
      }
    case "pattern" =>
      (instance, v) match {
        case (JStr(s), JStr(p)) =>
          // `re-seq` = unanchored find (validate.cljc:280-283).
          if (reFind(p, s)) NoOp
          else KwOut(errors = one(path, kw, s"String does not match pattern $p"))
        case _ => NoOp
      }

    // ---- arrays (validate.cljc:288-341) ----
    case "items" =>
      instance match {
        case arr @ JArr(elems) =>
          v match {
            case sub: JObj =>
              itemsResult(arr, elems.zipWithIndex.map { case (el, i) =>
                validateAt(sub, el, ctx, s"$path/$i")
              }, path)
            case JBool(b) =>
              // Boolean form: only `false` + non-empty array errors
              // (validate.cljc:302-305).
              if (!b && elems.nonEmpty)
                KwOut(errors = one(path, kw, "Items must be empty to satisfy a false schema"))
              else NoOp
            case JArr(tuple) =>
              // Tuple form: trailing elements validate against
              // `additionalItems` (absent → accept-all) — validate.cljc:307-318.
              val pad = schema.get("additionalItems").getOrElse(JNull)
              itemsResult(arr, elems.zipWithIndex.map { case (el, i) =>
                val sub = if (i < tuple.length) tuple(i) else pad
                validateAt(sub, el, ctx, s"$path/$i")
              }, path)
            case _ => NoOp
          }
        case _ => NoOp
      }

    // Standalone `additionalItems` (without tuple-form items) is ignored —
    // the reference has no method for it (validate.cljc:118-124).
    case "additionalItems" => NoOp

    case "maxItems" =>
      (instance, v) match {
        case (JArr(elems), n: JNum) if n.v < elems.length =>
          KwOut(errors = one(path, kw, "maxItems exceeded"))
        case _ => NoOp
      }
    case "minItems" =>
      (instance, v) match {
        case (JArr(elems), n: JNum) if n.v > elems.length =>
          KwOut(errors = one(path, kw, "minItems not reached"))
        case _ => NoOp
      }
    case "uniqueItems" =>
      (instance, v) match {
        case (JArr(elems), JBool(true)) if elems.distinct.length != elems.length =>
          KwOut(errors = one(path, kw, "Instance elements are not all unique"))
        case _ => NoOp
      }
    case "contains" =>
      instance match {
        case JArr(elems) =>
          if (elems.exists(el => validateAt(v, el, ctx, path).valid)) NoOp
          else KwOut(errors = one(path, kw, "Instance is not valid against schema"))
        case _ => NoOp
      }

    // ---- objects (validate.cljc:343-487) ----
    case "maxProperties" =>
      (instance, v) match {
        case (o: JObj, n: JNum) if n.v < o.fields.length =>
          KwOut(errors = one(path, kw, "Max properties exceeded"))
        case _ => NoOp
      }
    case "minProperties" =>
      (instance, v) match {
        case (o: JObj, n: JNum) if n.v > o.fields.length =>
          KwOut(errors = one(path, kw, "Min properties not reached"))
        case _ => NoOp
      }

    case "required" =>
      (instance, v) match {
        case (o: JObj, JArr(reqs)) =>
          val missing = reqs.collect { case JStr(k) if !o.has(k) => k }
          if (missing.isEmpty) NoOp
          else {
            // Recovery (validate.cljc:353-389): a missing key whose
            // properties-subschema carries a *valid* default is injected;
            // only unrecovered keys produce the error.
            val props = schema.get("properties") match {
              case Some(p: JObj) => p
              case _             => JObj.empty
            }
            var recovered = o
            val unrecovered = missing.filter { k =>
              props.get(k) match {
                case Some(prop: JObj) =>
                  prop.get("default") match {
                    case Some(defv) =>
                      val attempt = validateAt(prop, defv, ctx, s"$path/$k")
                      if (attempt.valid) {
                        recovered = recovered.updated(k, attempt.instance); false
                      } else true
                    case None => true
                  }
                case _ => true
              }
            }
            if (unrecovered.isEmpty) KwOut(instance = Some(recovered))
            else KwOut(
              errors = Violation(path, kw,
                "One or more required properties not found in object") +:
                unrecovered.map(k => Violation(s"$path/$k", kw,
                  "Required property not in object")).toVector,
              instance = Some(recovered))
          }
        case _ => NoOp
      }

    case "properties" =>
      (instance, v) match {
        case (o: JObj, props: JObj) =>
          // Validate each *present* property that has a subschema; merge
          // transformed children back (validate.cljc:391-415). On success,
          // child annotations nest under the reserved ":properties" key
          // (a Clojure keyword in the reference — collision-free). Until a
          // child changes, `inst` stays `o`: rebuilding it with an
          // unchanged child would give an equal object.
          var inst = o
          var causes = Vector.empty[Violation]
          val childAnn = Vector.newBuilder[(String, JVal)]
          o.fields.foreach { case (k, child) =>
            props.get(k).foreach { sub =>
              val r = validateAt(sub, child, ctx, s"$path/$k")
              if ((r.instance ne child) || (inst ne o)) inst = inst.updated(k, r.instance)
              childAnn += k -> JObj(r.annotations.toVector)
              if (!r.valid) causes ++= r.errors
            }
          }
          if (causes.nonEmpty)
            KwOut(errors = Violation(path, kw,
              "Some properties failed to validate against their schemas") +: causes)
          else KwOut(instance = Some(inst),
            annotations = Some(ann.updated(":properties", JObj(childAnn.result()))))
        case _ => NoOp
      }

    case "patternProperties" =>
      (instance, v) match {
        case (o: JObj, pats: JObj) =>
          // Error-only; child instances are NOT merged (validate.cljc:417-429).
          val failures = for {
            (name, child) <- o.fields
            (p, sub) <- pats.fields
            if reFind(p, name)
            r = validateAt(sub, child, ctx, s"$path/$name")
            if !r.valid
          } yield r
          if (failures.nonEmpty)
            KwOut(errors = Violation(path, kw,
              "Matched pattern property's schema does not succeed") +:
              failures.flatMap(_.errors).toVector)
          else NoOp
        case _ => NoOp
      }

    case "additionalProperties" =>
      instance match {
        case o: JObj =>
          // Applies to properties neither named in `properties` nor matched
          // by any `patternProperties` regex (validate.cljc:431-446).
          val named = schema.get("properties") match {
            case Some(p: JObj) => p.map.keySet
            case _             => Set.empty[String]
          }
          val pats = schema.get("patternProperties") match {
            case Some(p: JObj) => p.keys
            case _             => Vector.empty[String]
          }
          val failures = for {
            (name, child) <- o.fields
            if !named.contains(name)
            if !pats.exists(reFind(_, name))
            r = validateAt(v, child, ctx, s"$path/$name")
            if !r.valid
          } yield r
          if (failures.nonEmpty)
            KwOut(errors = Violation(path, kw,
              "An additional property failed the schema check") +:
              failures.flatMap(_.errors).toVector)
          else NoOp
        case _ => NoOp
      }

    case "dependencies" =>
      (instance, v) match {
        case (o: JObj, deps: JObj) =>
          // Schema-form deps validate the whole instance (and may transform
          // it); array-form deps require co-presence (validate.cljc:448-478).
          var inst: JVal = o
          var errs = Vector.empty[Violation]
          deps.fields.foreach { case (k, dv) =>
            if (o.has(k)) dv match {
              case JArr(names) =>
                val missing = names.collect { case JStr(n) if !o.has(n) => n }
                if (missing.nonEmpty)
                  errs ++= missing.map(n => Violation(s"$path/$n", kw,
                    "Not every dependency in instance"))
              case sub if sub.isInstanceOf[JObj] || sub.isInstanceOf[JBool] =>
                val r = validateAt(sub, inst, ctx, path)
                if (r.valid) inst = r.instance else errs ++= r.errors
              case _ => ()
            }
          }
          if (errs.nonEmpty)
            KwOut(errors = Violation(path, kw,
              "Some dependencies had validation errors") +: errs)
          else KwOut(instance = Some(inst))
        case _ => NoOp
      }

    case "propertyNames" =>
      instance match {
        case o: JObj =>
          val failures = o.keys.map(name =>
            (name, validateAt(v, JStr(name), ctx, s"$path/$name")))
            .filter(!_._2.valid)
          if (failures.nonEmpty)
            KwOut(errors = Violation(path, kw, "propertyNames") +:
              failures.flatMap(_._2.errors).toVector)
          else NoOp
        case _ => NoOp
      }

    // ---- conditionals + combinators (validate.cljc:489-543) ----
    case "if" =>
      // The taken branch's FULL result propagates on success — instance,
      // annotations, and instance-type all replace the accumulated values
      // (the reference returns `result` verbatim, validate.cljc:527-543).
      def branch(branchSchema: JVal, label: String): KwOut = {
        val r = validateAt(branchSchema, instance, ctx, path)
        if (r.valid) KwOut(instance = Some(r.instance),
          annotations = Some(r.annotations), instanceType = Some(r.instanceType))
        else KwOut(errors = Violation(path, label,
          s"$label clause does not succeed") +: r.errors)
      }
      if (validateAt(v, instance, ctx, path).valid)
        schema.get("then").fold(NoOp)(branch(_, "then"))
      else
        schema.get("else").fold(NoOp)(branch(_, "else"))
    // then/else alone are inert — they only run via `if` above.
    case "then" | "else" => NoOp

    case "allOf" =>
      v match {
        case JArr(subs) =>
          val results = subs.map(validateAt(_, instance, ctx, path))
          val failures = results.filter(!_.valid)
          // Annotations of VALID branches merge into the accumulated map,
          // success or not (validate.cljc:489-498).
          val merged = mergeAnnotations(ann +: results.filter(_.valid).map(_.annotations))
          if (failures.nonEmpty)
            KwOut(errors = Violation(path, kw,
              "allOf schema failed due to subschema failing") +:
              failures.flatMap(_.errors),
              annotations = Some(merged))
          else KwOut(annotations = Some(merged))
        case _ => NoOp
      }

    case "anyOf" =>
      v match {
        case JArr(subs) =>
          val results = subs.map(validateAt(_, instance, ctx, path))
          val merged = mergeAnnotations(ann +: results.filter(_.valid).map(_.annotations))
          if (results.exists(_.valid)) KwOut(annotations = Some(merged))
          else KwOut(errors = Violation(path, kw,
            "No schema validates for anyOf validation") +:
            results.flatMap(_.errors),
            annotations = Some(merged))
        case _ => NoOp
      }

    case "oneOf" =>
      v match {
        case JArr(subs) =>
          val results = subs.map(validateAt(_, instance, ctx, path))
          val successes = results.filter(_.valid)
          if (successes.isEmpty)
            KwOut(errors = Violation(path, kw,
              "No schema succeeds in oneOf validation") +:
              results.flatMap(_.errors))
          else if (successes.length > 1)
            KwOut(errors = one(path, kw,
              "Multiple schemas are valid in oneOf validation"))
          else {
            // the single winner's FULL result propagates — instance,
            // annotations, and type (the reference returns `(first
            // successes)` verbatim, validate.cljc:507-521)
            val w = successes.head
            KwOut(instance = Some(w.instance),
              annotations = Some(w.annotations),
              instanceType = Some(w.instanceType))
          }
        case _ => NoOp
      }

    case "not" =>
      if (validateAt(v, instance, ctx, path).valid)
        KwOut(errors = one(path, kw, "Schema should not be valid"))
      else NoOp

    // ---- format (always-on assertion, validate.cljc:690-695) ----
    case "format" =>
      (instance, v) match {
        case (JStr(s), JStr(fmt)) =>
          if (Formats.check(fmt, s)) NoOp
          else KwOut(errors = one(path, kw, s"Doesn't match $fmt format"))
        case _ => NoOp
      }

    // ---- content keywords (validate.cljc:697-739) ----
    case "contentEncoding" =>
      instance match {
        case JStr(s) =>
          // NB: reference quirks — (a) the decoded value is *discarded* on
          // success (the `(try {...} nil ...)` body returns nil); only
          // decode failure is observable; (b) `decode-content`'s `case`
          // throws for any encoding other than "base64"/nil, and the
          // surrounding try reports that as "Not base64" too
          // (validate.cljc:697-717).
          v match {
            case JStr("base64") =>
              try { java.util.Base64.getDecoder.decode(s); NoOp }
              catch { case _: IllegalArgumentException =>
                KwOut(errors = one(path, kw, "Not base64")) }
            case _ => KwOut(errors = one(path, kw, "Not base64"))
          }
        case _ => NoOp
      }

    case "contentMediaType" =>
      instance match {
        case JStr(s) =>
          val decoded: Option[String] = schema.get("contentEncoding") match {
            case None => Some(s)
            case Some(JStr("base64")) =>
              try Some(new String(java.util.Base64.getDecoder.decode(s), "UTF-8"))
              catch { case _: IllegalArgumentException => None }
            // unknown encodings fail decode-content inside the reference's
            // try → "Unable to decode content" (validate.cljc:727-731, 740)
            case Some(_) => None
          }
          decoded match {
            case None => KwOut(errors = one(path, kw, "Unable to decode content"))
            case Some(content) => v match {
              case JStr("application/json") =>
                try KwOut(instance = Some(Json.parse(content)))
                catch { case _: Exception =>
                  KwOut(errors = one(path, kw, "Instance is not application/json")) }
              case other =>
                // faithful to the reference: the un-defaulted `case` on the
                // media-type VALUE throws OUT of validation — for unknown
                // string media types AND for malformed non-string keyword
                // values alike (validate.cljc:732-739)
                throw new IllegalArgumentException(
                  s"No matching clause: ${Json.render(other)} (unsupported contentMediaType)")
            }
          }
        case _ => NoOp
      }

    case _ => NoOp // unknown keywords are ignored (validate.cljc:118-124)
  }

  /** `items`' outcome over the element results of `arr`; when no element
    * changed, the instance is `arr` itself, not a copy. */
  private def itemsResult(arr: JArr, results: Vector[VResult], path: String): KwOut = {
    val bad = results.filter(!_.valid)
    if (bad.nonEmpty)
      KwOut(errors = Violation(path, "items", "Not all items are valid") +:
        bad.flatMap(_.errors))
    else if (results.lazyZip(arr.items).forall(_.instance eq _))
      KwOut(instance = Some(arr))
    else KwOut(instance = Some(JArr(results.map(_.instance))))
  }
}
