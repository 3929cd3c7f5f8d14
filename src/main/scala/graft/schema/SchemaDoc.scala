package graft.schema

import graft.json._
import java.util.IdentityHashMap

/** A compiled schema document: the raw JSON value plus per-node base-URI
  * annotations, per-node keyword plans and the `$id` → subschema index.
  *
  * Mirrors the reference's compile step
  * (`/root/reference/src/juxt/jinx/alpha/schema.cljc:21-50, 322-334`), which
  * stores base URIs as Clojure metadata and indexes embedded `$id`s. We use
  * identity maps over the immutable AST instead of metadata.
  *
  * Thread-safety: fully immutable after construction; safe to broadcast.
  */
final class SchemaDoc private (
    val root: JVal,
    baseUris: IdentityHashMap[JVal, String],
    plans: IdentityHashMap[JObj, Array[(String, JVal)]],
    val uriIndex: Map[String, JVal]) extends Serializable {

  /** Base URI in effect at `node` (from the nearest enclosing `$id`). */
  def baseUriOf(node: JVal): Option[String] = Option(baseUris.get(node))

  /** The keyword plan of `node` in [[SchemaDoc.KeywordOrder]], computed once
    * by `compile` (see [[SchemaDoc.keywordPlan]]). A node the map misses —
    * after a deserializer that does not keep object identity — is planned
    * on the spot. */
  private[graft] def keywordPlan(node: JObj): Array[(String, JVal)] = {
    val plan = plans.get(node)
    if (plan != null) plan else SchemaDoc.keywordPlan(node, SchemaDoc.KeywordOrder)
  }
}

object SchemaDoc {

  /** Canonical keyword evaluation order (`validate.cljc:766-801`). */
  val KeywordOrder: Vector[String] = Vector(
    "$schema", "definitions",
    "title", "description", "default", "readOnly", "writeOnly", "examples",
    "type", "enum", "const",
    "multipleOf", "maximum", "exclusiveMinimum", "minimum", "exclusiveMaximum",
    "maxLength", "minLength", "pattern",
    "items", "additionalItems", "maxItems", "minItems", "uniqueItems", "contains",
    "maxProperties", "minProperties", "required", "properties",
    "patternProperties", "additionalProperties", "dependencies", "propertyNames",
    "if", "then", "else",
    "allOf", "anyOf", "oneOf", "not",
    "format",
    "contentEncoding", "contentMediaType")

  private val Keywords: Set[String] = KeywordOrder.toSet

  /** A schema node's keyword plan: the draft-7 keywords it has, with their
    * values, in the order the reference folds them — `(distinct (concat
    * order (keys schema)))` (`validate.cljc:823`). Other keys (`$id`,
    * `$comment`, unknown names) are left out: the reference processes them
    * as no-ops, which leave no trace in the result or the journal. */
  private[graft] def keywordPlan(node: JObj, order: Seq[String]): Array[(String, JVal)] =
    (order ++ node.keys).distinct.iterator
      .filter(Keywords)
      .flatMap(kw => node.get(kw).map(kw -> _))
      .toArray

  /** Compile without conformance checking (used for resolver-fetched docs —
    * the reference attaches no metadata to those; indexing them anyway is a
    * spec-correct superset). */
  def compile(root: JVal): SchemaDoc = {
    val baseUris = new IdentityHashMap[JVal, String]()
    val plans = new IdentityHashMap[JObj, Array[(String, JVal)]]()
    var index = Map.empty[String, JVal]

    def walk(node: JVal, base: Option[String]): Unit = node match {
      case o: JObj =>
        val newBase = o.get("$id") match {
          case Some(JStr(id)) =>
            val joined = UriUtil.join(base, id)
            index = index.updated(UriUtil.stripFragment(joined), o)
            Some(joined)
          case _ => base
        }
        newBase.foreach(b => baseUris.put(o, b))
        plans.put(o, keywordPlan(o, KeywordOrder))
        o.fields.foreach { case (_, v) => walk(v, newBase) }
      case JArr(items) => items.foreach(walk(_, base))
      case _           => ()
    }

    walk(root, None)
    new SchemaDoc(root, baseUris, plans, index)
  }

  /** Full compile: conformance-validate first (like `jinx/schema`,
    * `alpha.clj:12-13` → `schema.cljc:322-334`), then annotate + index. */
  def schema(root: JVal, strict: Boolean = true): SchemaDoc = {
    SchemaConformance.validate(root, strict)
    compile(root)
  }

  def schema(json: String): SchemaDoc = schema(Json.parse(json))
}
