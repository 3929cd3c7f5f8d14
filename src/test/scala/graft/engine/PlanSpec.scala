package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the shapes BASELINE.md claims must actually be
  * the plans Catalyst picks. These are the 100 TB guarantees — a regression
  * here (a surprise shuffle, a lost broadcast, a widened scan schema) is a
  * scale bug even when results stay correct. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The calls of the row core, `graft_validate`, in a plan. */
  private def rowCoreCalls(plan: String): Int = "graft_validate\\(".r.findAllIn(plan).size

  /** Whether `plan` runs the row core in the non-`valid` branch of a CASE
    * on the projected compiled verdict, so only failing rows run it.
    * `arms` is what comes between (a registry's CASE on the schema name). */
  private def gatedOnVerdict(plan: String, arms: String = ""): Boolean =
    plan.matches(s"(?s).*CASE WHEN valid#\\d+ THEN null ELSE ${arms}graft_validate\\(.*")

  test("compiled validation is a shuffle-free narrow projection over the scan") {
    val docs = DocTable.docs(spark, sfDir)
    val verdicts = ValidationJob.withVerdicts(spark, docs, DocTable.docSchemaJson)
    val plan = physical(verdicts)
    assert(!plan.contains("Exchange"), s"validation must not shuffle:\n${plan.take(600)}")
    // the doc schema compiles to Columns: the row core runs behind its verdict
    assert(rowCoreCalls(plan) === 1 && gatedOnVerdict(plan), plan)
  }

  test("referential check broadcasts the catalog side") {
    val refs = DocTable.docs(spark, sfDir)
      .select(explode(col("spans")).as("span"))
      .select(col("span.media_ref").as("media_ref"))
    val plan = physical(Checks.danglingRefs(refs, "media_ref",
      DocTable.mediaCatalog(spark), "media_ref"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"catalog side must broadcast:\n${plan.take(600)}")
    assert(plan.contains("LeftAnti"), "dangling refs = anti join")
  }

  test("column selection prunes the parquet read schema") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), TextOps.tokenCount(coalesce(col("text"), lit(""))).as("n"))
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(scan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("url"),
      s"scan must not read unused columns: $readSchema")
  }

  test("filter pushdown reaches the parquet scan") {
    // fresh temp parquet: another suite may have .cache()d the shared events
    // table, which would substitute an InMemoryRelation and hide the scan
    val tmp = java.nio.file.Files.createTempDirectory("graft-pushdown").toString
    spark.read.parquet(s"$sfDir/events.parquet").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
      .where(col("event_id") > 100).select("event_id", "value")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,100)]") ||
      scan.contains("GreaterThan(event_id"),
      s"predicate must push to the scan:\n${scan.take(600)}")
  }

  test("whole-stage codegen covers the validation projection, with no interpreted lambdas") {
    val docs = DocTable.docs(spark, sfDir)
    val verdicts = ValidationJob.withVerdictsOnly(spark, docs, DocTable.docSchemaJson)
    val plan = physical(verdicts)
    // the Project computing `valid` must sit inside a WholeStageCodegen
    // subtree (rendered as a `*(n)` prefix) and use the vectorized
    // lambda-free array conditions, not interpreted forall()
    val validLine = plan.linesIterator.find(_.contains("AS valid")).getOrElse("")
    assert(validLine.trim.startsWith("*("),
      s"valid projection must be codegen'd: ${validLine.take(300)}")
    assert(!validLine.contains("forall("),
      s"span items must compile to vectorized array ops, not forall: ${validLine.take(300)}")
    assert(validLine.contains("graft_every_element") && validLine.contains("array_min"),
      s"expected vectorized item conditions: ${validLine.take(300)}")
    assert(!plan.contains("graft_validate("), plan)
  }

  /** `df` written to parquet and read back: a file-read array is
    * containsNull = true, unlike the in-memory table. */
  private def fileBacked(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    df.write.mode("overwrite").parquet(tmp)
    val back = spark.read.parquet(tmp)
    assert(back.schema("spans").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .containsNull)
    back
  }

  /** The named projections of `df` run in whole-stage codegen, with no
    * lambdas. */
  private def projections(df: org.apache.spark.sql.DataFrame, names: String*): Unit = {
    val lines = physical(df).linesIterator.toSeq
    names.foreach { name =>
      // the operator, after the tree-drawing prefix
      val line = lines.find(_.contains(s"AS $name")).getOrElse("").dropWhile(" :+-".contains(_))
      assert(line.startsWith("*("), s"$name projection must be codegen'd: ${line.take(400)}")
      assert(!line.contains("forall(") && !line.contains("transform("),
        s"$name projection must hold no interpreted lambdas: ${line.take(400)}")
    }
  }

  test("whole-stage codegen covers both validation projections over a parquet-read table") {
    val docs = fileBacked(DocTable.docs(spark, sfDir))
    projections(ValidationJob.withVerdictsOnly(spark, docs, DocTable.docSchemaJson), "valid")
    val full = ValidationJob.withVerdicts(spark, docs, DocTable.docSchemaJson)
    projections(full, "valid", "errors")
    assert(rowCoreCalls(physical(full)) === 1)
  }

  test("whole-stage codegen covers the schema registry's projections over a parquet-read table") {
    val docs = fileBacked(DocTable.docs(spark, sfDir).withColumn("schema_name",
      when(col("doc_num") % 2 === 0, lit("doc")).otherwise(lit("id-only"))))
    val registry = SchemaRegistry.compile(Map(
      "doc" -> DocTable.docSchemaJson,
      "id-only" -> """{"required":["doc_id"],"properties":{"doc_id":{"pattern":"^doc-"}}}"""))
    val verdicts = SchemaRegistry.validateWith(docs, registry, "schema_name")
    projections(verdicts, "valid", "errors")
    assert(rowCoreCalls(physical(verdicts)) === 2)
  }

  test("the parquet-read verdict reads only the leaves it checks, with no set operations") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = fileBacked(DocTable.docs(spark, sfDir))
    val verdicts = ValidationJob.withVerdictsOnly(spark, docs, DocTable.docSchemaJson)
      .select("doc_num", "valid")
    val plan = verdicts.queryExecution.executedPlan
    val read = plan.collect { case s: FileSourceScanExec => s.requiredSchema }
    assert(read.size === 1, plan.toString)
    // the doc schema never checks `text`, and `media_ref` only through a
    // type its nullable field always passes
    val spans = read.head("spans").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(spans.fieldNames.toSeq === Seq("kind", "offset"), read.head.simpleString)
    projections(verdicts, "valid")
    assert(!plan.toString.contains("array_intersect") && !plan.toString.contains("array_except"),
      plan.toString)
  }

  test("violation rows evaluate the verdict and the row core once per row") {
    // without an observe between them, `size(errors) > 0` and the
    // `isnotnull(errors)` inferred under explode must stay above the
    // projection that defines `errors`, not be inlined into a Filter; the
    // row core runs for the rows the verdict fails only
    val docs = fileBacked(DocTable.docs(spark, sfDir))
    val rows = ValidationJob.violations(
      ValidationJob.withVerdicts(spark, docs, DocTable.docSchemaJson))
    val plan = physical(rows)
    assert(rowCoreCalls(plan) === 1 && gatedOnVerdict(plan), plan)
    assert("RLIKE".r.findAllIn(plan).size === 1, plan)
  }

  /** A recursive `$ref` over the doc shape: not column-expressible. */
  private val recursiveDocSchema =
    """{"type":"object","required":["doc_id","spans"],
      |"properties":{"doc_id":{"pattern":"^doc-"},
      |  "spans":{"type":"array","minItems":1,"items":{"$ref":"#/definitions/span"}}},
      |"definitions":{"span":{"type":"object","required":["kind"],
      |  "properties":{"kind":{"enum":["text","media"]}},
      |  "additionalProperties":{"anyOf":[{"type":["string","integer","null"]},
      |    {"$ref":"#/definitions/span"}]}}}}""".stripMargin

  test("a row-core schema's violation rows evaluate the row core once per row") {
    // graft_validate is nondeterministic: `size(errors) > 0` and the
    // inferred `isnotnull(errors)` stay above the projection that defines
    // it, and `valid` and `errors` read one struct
    val docs = fileBacked(DocTable.docs(spark, sfDir))
    val verdicts = ValidationJob.withVerdicts(spark, docs, recursiveDocSchema)
    val plan = physical(ValidationJob.violations(verdicts))
    assert(rowCoreCalls(plan) === 1 && !plan.contains(" THEN null ELSE graft_validate("), plan)
    projections(verdicts, "valid", "errors")
    assert(ValidationJob.violations(verdicts).count() > 0)
  }

  test("a hybrid registry runs each row's row core once, behind the verdict") {
    val docs = fileBacked(DocTable.docs(spark, sfDir).withColumn("schema_name",
      when(col("doc_num") % 2 === 0, lit("doc")).otherwise(lit("recursive"))))
    val registry = SchemaRegistry.compile(Map(
      "doc" -> DocTable.docSchemaJson, "recursive" -> recursiveDocSchema))
    val verdicts = SchemaRegistry.validateWith(docs, registry, "schema_name")
    val plan = physical(ValidationJob.violations(verdicts))
    // one call per schema, each in the arm of a CASE on the schema name,
    // behind the verdict, which is `false` for the recursive schema, so
    // its rows always reach the row core
    assert(rowCoreCalls(plan) === 2, plan)
    assert(gatedOnVerdict(plan, "CASE WHEN \\(schema_name#\\d+ = doc\\) THEN ") &&
      plan.matches("(?s).*WHEN \\(schema_name#\\d+ = recursive\\) THEN graft_validate\\(.*"), plan)
    assert(plan.contains("= recursive) THEN false"), plan)
    projections(verdicts, "valid", "errors")
  }

  test("winnowing ids are non-nullable, so the candidate join infers no null filters") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    assert(!TextOps.winnowingFingerprints(docs, "doc_id", "text").schema("id").nullable)
    val plan = Dedup.winnowPairs(docs, "doc_id", "text").queryExecution.optimizedPlan.toString
    try assert(!plan.contains("isnotnull(id"), plan) finally Caches.releaseAll()
  }

  test("per-row text and vector kernels are udf columns, each once in the operator that defines it") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeserializeToObject, LogicalPlan, Project}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // every operator of a plan, the plans of its cached relations included
    def operators(p: LogicalPlan): Seq[LogicalPlan] = p +: (p match {
      case r: InMemoryRelation => operators(r.cacheBuilder.logicalPlan)
      case _ => p.children.flatMap(operators)
    })
    def check(name: String, df: org.apache.spark.sql.DataFrame, kernels: String*): Unit = {
      val ops = operators(df.queryExecution.optimizedPlan)
      assert(!ops.exists(_.isInstanceOf[DeserializeToObject]),
        s"$name: typed object stage in\n${df.queryExecution.optimizedPlan}")
      val sites = ops.map(op => op -> op.expressions.flatMap(_.collect {
        case u: ScalaUDF => u.udfName.getOrElse("")
      })).filter(_._2.nonEmpty)
      kernels.foreach(k => assert(sites.exists(_._2.contains(k)), s"$name: no $k kernel"))
      // a kernel over an aggregate's output (dupSpans' coverage) collapses
      // into the Aggregate's result list, still once per row
      sites.foreach { case (op, names) =>
        assert(op.isInstanceOf[Project] || op.isInstanceOf[Aggregate],
          s"$name: kernel outside a Project: $op")
        assert(names.distinct.size === names.size, s"$name: kernel evaluated twice in $op")
      }
    }
    try {
      check("minhashPairs", Dedup.minhashPairs(docs, "doc_id", "text"), "minhash")
      check("winnowPairs", Dedup.winnowPairs(docs, "doc_id", "text"), "winnow")
      check("dupSpans", Dedup.dupSpans(docs, "doc_id", "text"),
        "dup_windows", "dup_coverage")
      check("scrubDupSpans", Dedup.scrubDupSpans(docs, "doc_id", "text"),
        "normalize", "scrub_windows", "scrub_rebuild")
      check("chunkDocs", TextOps.chunkDocs(docs, "doc_id", "text"), "chunks")
      check("embedIndex", Similarity.embedIndex(emb), "srp_bucket")
      check("ivfTopK", Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5), 3),
        "ivf_cell", "ivf_probe_cells")
      check("lmPerplexity", Pipeline.lmPerplexity(docs, docs, "doc_id", "text"),
        "lm_perplexity")
    } finally Caches.releaseAll()
  }

  test("salted dedup pre-aggregates before the final shuffle (two-phase)") {
    val dups = Checks.duplicateKeys(DocTable.docs(spark, sfDir), "doc_id")
    val plan = physical(dups)
    // two aggregation levels: (key, salt) partials then key-level merge
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"expected partial+final aggregates at both phases:\n${plan.take(800)}")
  }
}
