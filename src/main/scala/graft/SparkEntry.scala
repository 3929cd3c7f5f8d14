package graft

import graft.engine._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — one entry per implemented operator (SURVEY.md §2), with
  * DuckDB-runnable oracle SQL over the same parquet tables.
  *
  * The interleaved doc table (north-rule input shape) is synthesized
  * deterministically from `documents.parquet` ([[graft.engine.DocTable]]);
  * each oracle carries the same synthesis as SQL CTEs so the DuckDB compare
  * is a genuine independent differential test of the Catalyst compiler.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    DocTable.docs(s, dir)

  private def verdicts(s: SparkSession, dir: String): DataFrame =
    ValidationJob.withVerdicts(s, docs(s, dir), DocTable.docSchemaJson)

  /** The persisted IVF index for a scale factor's embeddings — trained and
    * assigned ONCE (first caller builds; training is deterministic, so any
    * builder produces the same index), then every q_ivf_topk call probes
    * the partition-pruned cell layout instead of retraining. Versioned path
    * so a format change never reads a stale layout. */
  private def ivfIndex(s: SparkSession, dir: String): Similarity.IvfIndex = {
    // cache key carries a SOURCE-CONTENT stamp (file names + sizes +
    // mtimes of the embeddings parquet), not just the directory basename:
    // a regenerated dataset, or a different tree whose leaf dir happens to
    // share the name, must rebuild rather than silently probe a stale
    // index from an earlier corpus
    val src = new java.io.File(s"$dir/embeddings.parquet")
    val stamp = {
      val files = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
      val desc = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .sorted.mkString("|")
      java.security.MessageDigest.getInstance("MD5")
        .digest(desc.getBytes("UTF-8")).take(6)
        .map("%02x".format(_)).mkString
    }
    val base = new java.io.File(dir).getName
    val p = s"/tmp/graft-ivf/$base-nlist8-v1-$stamp"
    if (!new java.io.File(s"$p/cells/_SUCCESS").exists()) {
      Similarity.writeIvfIndex(
        s.read.parquet(s"$dir/embeddings.parquet"), p, nlist = 8)
      // a regenerated dataset changes the stamp: AFTER the new index lands,
      // drop sibling stamped dirs for the same basename so /tmp never
      // accumulates stale corpus copies (each holds a full cell-assignment
      // of the embeddings). Deleting after the build means a concurrent
      // builder of the same new stamp is never clobbered mid-write; a
      // reader still holding a lazy frame over an OLD stamp breaks on its
      // next action, which is inherent to evicting — it was reading a
      // superseded snapshot.
      Option(new java.io.File("/tmp/graft-ivf").listFiles()).foreach(_
        .filter(f => f.getName.startsWith(s"$base-nlist8-v1-") && f.getPath != p)
        .foreach { f =>
          def rm(x: java.io.File): Unit = {
            if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
            x.delete(); ()
          }
          rm(f)
        })
    }
    Similarity.loadIvfIndex(s, p)
  }

  /** Build the once-per-snapshot indexes outside any timed window. The
    * bench calls this before its query pass so q_ivf_topk measures the
    * steady-state PROBE cost (the recurring cost at scale), not the
    * train+assign that happens once per snapshot; Verify needs no special
    * case — the first q_ivf_topk call builds on demand. */
  def prepareIndexes(s: SparkSession, dir: String): Unit = { ivfIndex(s, dir); () }

  /** saveAsTable with the default IN-MEMORY catalog leaves the warehouse
    * DIRECTORY behind when the session dies while the catalog entry does
    * not — the next session's overwrite-create then fails with "location
    * already exists". Called before re-creating a bench/verify-scoped
    * table: if this session's catalog doesn't know the table but its
    * directory exists, the directory is a stale husk from a previous run
    * and is removed. */
  private def dropStaleTableDir(s: SparkSession, table: String): Unit =
    if (!s.catalog.tableExists(table)) {
      val raw = s.conf.get("spark.sql.warehouse.dir")
      val base =
        if (raw.startsWith("file:")) new java.io.File(new java.net.URI(raw))
        else new java.io.File(raw)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      val dir = new java.io.File(base, table.toLowerCase)
      if (dir.exists()) rm(dir)
    }

  /** Flagship query on sf=0.001: full validation verdicts. */
  def entry(spark: SparkSession): DataFrame =
    verdicts(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_validate_verdicts" -> ((s, dir) =>
      verdicts(s, dir)
        .select(col("doc_num"), col("doc_id"), col("valid"),
          size(col("errors")).as("n_violations"))
        .orderBy("doc_num")),

    "q_validate_violations" -> ((s, dir) =>
      ValidationJob.violations(verdicts(s, dir))
        .select("doc_num", "path", "keyword")
        .orderBy("doc_num", "path", "keyword")),

    "q_partition_verdicts" -> ((s, dir) =>
      ValidationJob.partitionVerdicts(verdicts(s, dir), col("doc_num"), 32)
        .orderBy("partition")),

    // raw-JSON path: serialize each doc to a JSON line, then validate the
    // parsed line with the full dynamic row core — same oracle as the
    // compiled path, so the parse→validate pipeline is DuckDB-gated too
    "q_jsonl_verdicts" -> ((s, dir) => {
      val lines = docs(s, dir).select(col("doc_num"),
        to_json(struct(col("doc_id"), col("spans"))))
      JsonLines.validateStrings(s, lines, DocTable.docSchemaJson)
        .select(col("doc_num"), col("valid"), size(col("errors")).as("n_violations"))
        .orderBy("doc_num")
    }),

    // the SQL surface's validate call: same parse→row-core pipeline as
    // q_jsonl_verdicts but spelled as one native expression
    // (graft_validate), so the pure-SQL user gets the DuckDB gate too
    "q_sql_validate" -> ((s, dir) => {
      graft.engine.expressions.GraftExtensions.register(s)
      val schemaLit = DocTable.docSchemaJson.replace("'", "''")
      docs(s, dir)
        .select(col("doc_num"), to_json(struct(col("doc_id"), col("spans"))).as("doc"))
        .selectExpr("doc_num", s"graft_validate(doc, '$schemaLit') AS v")
        .select(col("doc_num"), col("v.valid").as("valid"),
          size(col("v.violations")).as("n_violations"))
        .orderBy("doc_num")
    }),

    "q_dedup_exact" -> ((s, dir) =>
      Checks.duplicateKeys(docs(s, dir), "doc_id")),

    "q_refcheck_dangling" -> ((s, dir) =>
      Checks.danglingRefs(
        docs(s, dir).select(explode(col("spans")).as("span"))
          .select(col("span.media_ref").as("media_ref")),
        "media_ref",
        DocTable.mediaCatalog(s), "media_ref")),

    // the same referential anti-join on a classic FK (orders.o_custkey →
    // customer.c_custkey), with injected danglers so the check has known
    // answers; the customer side is broadcast
    "q_refcheck_orders" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val refs = orders.select(col("o_custkey"))
        .unionByName(orders.where(col("o_orderkey") % 1000 === 0)
          .select((-col("o_orderkey")).as("o_custkey")))
      Checks.danglingRefs(refs, "o_custkey",
        s.read.parquet(s"$dir/customer.parquet"), "c_custkey")
    }),

    // the compiled draft-7 validation plan over a classic relational table:
    // numeric bounds / pattern / enum constraints on lineitem compile to
    // a codegen'd filter; emits the violating rows with the row core's leaf
    // error counts (+ an injected row failing every rule)
    "q_lineitem_validate" -> ((s, dir) => {
      import s.implicits._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
          "l_returnflag", "l_linestatus")
        .unionByName(Seq((-1L, 0, 0.5, 0.2, "X", "Z"))
          .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
            "l_returnflag", "l_linestatus"))
      val schemaJson =
        """{"type":"object","properties":{
          |  "l_quantity":{"minimum":1,"maximum":48},
          |  "l_discount":{"minimum":0,"maximum":0.09},
          |  "l_returnflag":{"pattern":"^[ARN]$"},
          |  "l_linestatus":{"enum":["O","F"]}}}""".stripMargin
      val fields = li.schema.fields
      val verdict = ValidationJob.verdict(schemaJson,
        struct(fields.map(f => col(f.name)).toSeq: _*), StructType(fields), "q_lineitem_validate")
      if (verdict.compiled.isEmpty) sys.error("the lineitem schema must compile to Columns")
      verdict.addTo(li).where(!col("valid"))
        .select(col("l_orderkey"), col("l_linenumber"), size(col("errors")).as("n_errors"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_stats_profile" -> ((s, dir) =>
      Checks.profile(
        s.read.parquet(s"$dir/events.parquet"),
        Seq("value", "user_id", "event_type"))),

    // constraint suggestion (SchemaInfer): the per-path evidence table the
    // inferred draft-7 schema is built from — flat relational shape
    "q_infer_lineitem" -> ((s, dir) =>
      SchemaInfer.evidence(s.read.parquet(s"$dir/lineitem.parquet"))),

    // …and the nested interleaved-document shape (struct + array descent)
    "q_infer_docs" -> ((s, dir) =>
      SchemaInfer.evidence(docs(s, dir))),

    // structural (contract) drift between two snapshots: reference = even
    // order keys, current = odd keys with injected contract breaks — a
    // fraction pushed into an integral column (type), a new enum value, a
    // negated price (min_value), and nulled ship dates (required)
    "q_infer_drift" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ref = li.where(col("l_orderkey") % 2 === 0)
      val cur = li.where(col("l_orderkey") % 2 === 1)
        .withColumn("l_quantity",
          when(col("l_orderkey") % 7 === 1, col("l_quantity") + 0.5)
            .otherwise(col("l_quantity")))
        .withColumn("l_returnflag",
          when(col("l_orderkey") % 11 === 1, lit("Z")).otherwise(col("l_returnflag")))
        .withColumn("l_extendedprice",
          when(col("l_orderkey") % 13 === 1, -col("l_extendedprice"))
            .otherwise(col("l_extendedprice")))
        .withColumn("l_shipdate",
          when(col("l_orderkey") % 17 === 1, lit(null).cast("timestamp"))
            .otherwise(col("l_shipdate")))
      SchemaInfer.evidenceDiff(SchemaInfer.evidence(ref), SchemaInfer.evidence(cur))
    }),

    "q_drift_bins" -> ((s, dir) =>
      Checks.driftBins(
        s.read.parquet(s"$dir/events.parquet"),
        "value", col("event_id") % 2 === 0, 10.0)),

    // drift scores over the binned counts; HALF_UP 6dp so the DuckDB mirror
    // (same smoothing + running-ECDF formulas in SQL) rounds identically.
    "q_drift_scores" -> ((s, dir) => {
      val bins = Checks.driftBins(
        s.read.parquet(s"$dir/events.parquet"),
        "value", col("event_id") % 2 === 0, 50.0).collect()
      val ref = bins.map(_.getAs[Long]("ref_count")).toSeq
      val cur = bins.map(_.getAs[Long]("cur_count")).toSeq
      def r6(x: Double) = new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      import s.implicits._
      Seq(("psi", r6(Drift.psi(ref, cur))), ("ks", r6(Drift.ks(ref, cur))))
        .toDF("measure", "score").orderBy("measure")
    }),

    // sketch-based drift (native KLL sketch): reference vs current
    // population of events.value. KLL compaction is randomized, so raw
    // quantile estimates can't be hash-oracled; instead each row is a
    // deterministic BOUND CHECK: the sketch's quantile estimate must land
    // inside the exact value interval [exact(q−ε), exact(q+ε)] with ε = 0.05
    // rank slack (≈4× KLL's normalized rank error at k = QuantileSketch.K,
    // 1.33% with 99% confidence, whatever the input or merge order — tight
    // enough that a broken sketch fails). The interval endpoints are exact
    // percentiles from the same grouped aggregate, independently re-derived
    // by DuckDB quantile_cont (same p·(n−1) interpolation), so the hash
    // match verifies both the exact percentile parity AND the sketch's
    // rank-error contract.
    "q_drift_sketch" -> ((s, dir) => {
      // (measure, sketch probe q, exact lo probe q−ε, exact hi probe q+ε) —
      // probe quantiles are decimal literals (not q±ε arithmetic) so the
      // Spark and DuckDB probe doubles parse bit-identically
      val qs = Seq(("p10", 0.1, "0.05", "0.15"), ("p50", 0.5, "0.45", "0.55"),
        ("p90", 0.9, "0.85", "0.95"))
      // a population with no non-null value has NULL bounds and passes,
      // like the oracle
      def r6(r: org.apache.spark.sql.Row, i: Int) = Option.unless(r.isNullAt(i))(
        new java.math.BigDecimal(r.getDouble(i))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      import s.implicits._
      val probeSql = qs.flatMap(t => Seq(t._3, t._4))
        .map(p => s"${p}D").mkString("array(", ", ", ")")
      val checks = qs.zipWithIndex.map { case ((m, q, _, _), i) =>
        val lo = col("p")(2 * i); val hi = col("p")(2 * i + 1)
        struct(lit(m).as("measure"), lo.as("lo"), hi.as("hi"),
          when(kll_sketch_get_n_double(col("sk")) === 0, lit(true))
            .otherwise(kll_sketch_get_quantile_double(col("sk"), lit(q)).between(lo, hi))
            .as("within_bound"))
      }
      // one scan: both populations' sketches and exact percentiles; the
      // population split is the oracle's CASE (a null id is 'cur')
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(when(col("event_id") % 2 === 0, "ref").otherwise("cur").as("population"))
        .agg(kll_sketch_agg_double(col("value").cast("double"), QuantileSketch.K).as("sk"),
          expr(s"percentile(CAST(value AS DOUBLE), $probeSql)").as("p"))
        .select(col("population"), explode(array(checks: _*)).as("c"))
        .select("population", "c.*")
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r6(r, 2), r6(r, 3), r.getBoolean(4)))
        .toDF("population", "measure", "lo", "hi", "within_bound")
        .orderBy("population", "measure")
    }),

    // tumbling-window event aggregates (the batch shape of the streaming
    // stats path; exact SQL both sides)
    "q_events_window" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          round(avg(col("value")), 6).as("avg_value"))
        .orderBy("window_start", "event_type")),

    // ---- text analysis over documents ----
    "q_text_tokens" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextOps.tokenCount(coalesce(col("text"), lit(""))).as("token_count"))
        .orderBy("doc_id")),

    "q_text_bpe_tokens" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextOps.bpeTokenCount(coalesce(col("text"), lit(""))).as("bpe_tokens"))
        .orderBy("doc_id")),

    "q_text_quality" -> ((s, dir) => {
      val t = coalesce(col("text"), lit(""))
      val qcols = TextOps.qualityColumns(t).map { case (n, c) => round(c, 6).as(n) }
      s.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") +: qcols): _*)
        .orderBy("doc_id")
    }),

    "q_lang_id" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          TextOps.langId(coalesce(col("text"), lit(""))).as("predicted"))
        .orderBy("doc_id")),

    "q_fingerprint_dups" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      // exact-dup corpus: every 40th doc gets a verbatim copy under a new id
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", -col("doc_id") - 1000000))
      corpus
        .select(TextOps.fingerprint(coalesce(col("text"), lit(""))).as("fingerprint"))
        .groupBy("fingerprint").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)
        .orderBy("fingerprint")
    }),

    // ---- near-dup detection ----
    "q_ngram_jaccard" -> ((s, dir) => {
      val corpus = TextOps.withMutatedTwins(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "doc_id", "text")
      val sh = corpus.select(col("doc_id").as("id"),
        Dedup.wordShingles(coalesce(col("text"), lit("")), 3).as("s"))
      val a = sh.where(col("id") >= 0 && col("id") % 50 === 0)
        .select(col("id").as("id_a"), col("s").as("sh_a"))
      val b = sh.where(col("id") < 0).select(col("id").as("id_b"), col("s").as("sh_b"))
      a.join(b, col("id_b") === -col("id_a") - 1)
        .select(col("id_a"), col("id_b"),
          round(Dedup.setJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
        .orderBy("id_a")
    }),

    // dedup clustering: distributed min-label propagation over exact-dup
    // STAR edges (one root→member edge per group member — linear in group
    // size, where a within-group self-join is quadratic on a boilerplate
    // fingerprint); the oracle recomputes components independently
    // (per-fingerprint min over the same corpus), a true differential for
    // the iterative join
    "q_dedup_components" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", -col("doc_id") - 1000000))
      val fp = corpus.select(col("doc_id").as("id"),
        TextOps.fingerprint(coalesce(col("text"), lit(""))).as("f"))
      Dedup.components(Dedup.exactDupEdges(fp, "id", "f"))
    }),

    // same clustering through the O(log n)-round large-star/small-star
    // contraction (the at-scale variant for arbitrary graph shapes); same
    // independent oracle
    "q_dedup_components_star" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", -col("doc_id") - 1000000))
      val fp = corpus.select(col("doc_id").as("id"),
        TextOps.fingerprint(coalesce(col("text"), lit(""))).as("f"))
      Dedup.componentsStar(Dedup.exactDupEdges(fp, "id", "f"))
    }),

    // LSH candidate generation is hash-function-specific → rows-only checks;
    // EngineSpec asserts recall of the known twins.
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(
        TextOps.withMutatedTwins(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          "doc_id", "text"),
        "doc_id", "text", threshold = 0.5)),

    // end-to-end NEAR-dup clustering: LSH candidates → Jaccard-verified
    // pairs → min-label connected components, the full fuzzy-dedup chain
    "q_neardup_clusters" -> ((s, dir) => {
      val corpus = TextOps.withMutatedTwins(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "doc_id", "text")
      Dedup.components(
        Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5))
    }),

    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        TextOps.withMutatedTwins(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          "doc_id", "text"),
        "doc_id", "text", maxHamming = 2, maxBucket = 4096)),

    // ---- similarity search over embeddings ----
    "q_knn_exact" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 3)
    }),

    "q_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.annTopK(emb, emb.where(col("vec_id") < 5), k = 3, bits = 4)
    }),

    // IVF coarse-quantizer ANN. nProbe = nlist makes probing exhaustive, so
    // the result must EQUAL the exact top-k — the oracle thereby gates the
    // whole partition/probe/score machinery (the k-means cell assignment
    // must cover every vector exactly once, the probe join must reach every
    // cell, scoring must be exact); recall at nProbe < nlist is what the
    // operator trades at scale and is spec-gated (DedupSimilaritySpec).
    // Runs through the PERSISTED index (train+assign once per snapshot,
    // probe per query batch — the at-scale shape); training is
    // deterministic, so the result is identical to the in-line ivfTopK,
    // and DedupSimilaritySpec pins that equality.
    "q_ivf_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfTopKIndexed(ivfIndex(s, dir),
        emb.where(col("vec_id") < 5), k = 3, nProbe = 8)
    }),

    "q_cosine_neardups" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      // inject near-identical twins so the near-dup detector has known hits
      val twins = emb.where(col("vec_id") % 100 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
      Similarity.cosineNearDups(emb.unionByName(twins), threshold = 0.99, bits = 4,
        maxBucket = 512)
    }),

    // SemDeDup semantic-dedup verdict over the same twin-injected corpus:
    // the injected twin (larger id) is dropped, its original survives
    "q_semdedup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val twins = emb.where(col("vec_id") % 100 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
      Similarity.semDedup(emb.unionByName(twins), threshold = 0.99, bits = 4,
          maxBucket = 512)
        .orderBy("vec_id")
    }),

    // embedding-distribution drift: the current snapshot rectifies half
    // the vectors (component-wise abs) — mass concentrates on the positive
    // side of every hyperplane, a deterministic OCCUPANCY shift. (Negating
    // vectors instead is a measure-preserving involution on a symmetric
    // distribution: every vector moves but the histogram doesn't.)
    "q_embed_drift" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cur = emb.withColumn("embedding",
        when(col("vec_id") % 2 === 0, transform(col("embedding"), x => abs(x)))
          .otherwise(col("embedding")))
      Similarity.embedDriftBins(emb, cur, bits = 4)
    }),

    // embedding-space decontamination: benchmark vectors are rescaled
    // copies of corpus vectors (cosine-invariant ⇒ known sim-1.0 leaks);
    // the probe also surfaces genuine same-bucket near-dups ≥ 0.99
    "q_embed_decontam" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val bench = emb.where(col("vec_id") % 23 === 5)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
      Similarity.embedDecontam(emb, bench, threshold = 0.99, bits = 4,
          maxBucket = 512)
        .orderBy("vec_id")
    }),

    // the same decontamination through the ON-DISK bucketed SRP index
    // (write once per snapshot, probe in place — the recurring-ingestion
    // shape): identical output and oracle as q_embed_decontam, so this row
    // gates the index write→load→probe round trip against DuckDB too
    // (the no-exchange probe plan itself is pinned by BucketedIndexSpec)
    "q_embed_decontam_idx" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val bench = emb.where(col("vec_id") % 23 === 5)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
      dropStaleTableDir(s, "graft_q_embed_idx")
      Similarity.writeBucketedEmbedIndex(
        Similarity.embedIndex(bench, bits = 4, maxBucket = 512),
        "graft_q_embed_idx", numBuckets = 8)
      Similarity.embedDecontamIndexed(
          emb, broadcast(s.table("graft_q_embed_idx")), threshold = 0.99,
          bits = 4)
        .orderBy("vec_id")
    }),

    // mixed-kind corpus validated via the schema registry
    // (per-row schema dispatch, column-compiled when expressible)
    "q_registry_verdicts" -> ((s, dir) => {
      val registry = SchemaRegistry.compile(Map(
        "titleish" -> """{"properties":{"payload":{"type":"string","maxLength":24}},"required":["payload"]}""",
        "numericid" -> """{"properties":{"payload":{"pattern":"^[0-9]+$"}},"required":["payload"]}"""))
      val corpus = s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("titleish")).otherwise(lit("numericid")).as("schema_name"),
        when(col("doc_id") % 2 === 0,
          col("text").substr(lit(1), (col("doc_id") % 30 + 10).cast("int")))
          .otherwise(col("doc_id").cast("string")).as("payload"))
      SchemaRegistry.validateWith(corpus, registry, "schema_name")
        .select(col("doc_id"), col("schema_name"), col("valid"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: real PNG/WAV decode, synthetic-container video ----
    "q_media_meta" -> ((s, dir) =>
      MediaOps.syntheticMedia(s)
        .groupBy("mime")
        .agg(count(lit(1)).as("n"), sum(col("meta.bytes")).as("total_bytes"))
        .orderBy("mime")),

    // features sample DECODED content (pixels / PCM samples / container
    // bytes); ref_sim scores them against a fixed reference vector through
    // the typed cosine path, so a wrong decode shows up as a value mismatch
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      val refVec = Array.tabulate(8)(i => 1.0f / (i + 1))
      MediaOps.extractFeatures(MediaOps.syntheticMedia(s))
        .map { m =>
          val sim = new java.math.BigDecimal(Similarity.cosineArrays(m.feature, refVec))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          (m.media_ref, m.mime, m.width, m.height, m.frames, sim)
        }
        .toDF("media_ref", "mime", "width", "height", "frames", "ref_sim")
        .orderBy("media_ref")
    }),

    // real resize: Spark decodes + bilinear-rescales + re-encodes the PNG;
    // the oracle recomputes expected dims from the construction formulas
    "q_media_resize" -> ((s, dir) =>
      MediaOps.resizeImages(MediaOps.syntheticMedia(s), maxDim = 16).toDF()
        .select("media_ref", "mime", "width", "height")
        .orderBy("media_ref")),

    // deterministic frame sampling over the video items (pure Column logic
    // over the decoded frame count — the "sample every Nth frame" stage of
    // a multimodal pipeline)
    // (sampled indexes emitted as a CSV string — scalar columns only, the
    // driver's pandas canonicalization cannot sort array columns)
    "q_media_frames" -> ((s, dir) =>
      MediaOps.extractFeatures(MediaOps.syntheticMedia(s)).toDF()
        .where(col("mime") === "video/mp4")
        .select(col("media_ref"), col("frames"),
          MediaOps.sampleFrameIndexes(col("frames"), 5).as("sampled"))
        .select(col("media_ref"), col("frames"),
          size(col("sampled")).as("n_sampled"),
          array_join(col("sampled").cast("array<string>"), ",").as("sampled_csv"))
        .orderBy("media_ref")),

    // winnowing inverted-index near-dup pairs (the plagiarism-detection
    // join: docs sharing >= minShared fingerprints, skew-capped).
    // maxBucket follows the operator's own cost model (BASELINE.md):
    // join rows = Σ_f min(c_f, cap)², and this corpus — every doc carrying
    // a mutated twin — is exactly the heavy-cross-doc-reuse shape where
    // the model says cap ≈ 64·minShared = 512, not the 10k prose default
    // (a fingerprint shared by >512 docs is boilerplate evidence, not a
    // pair signal; BASELINE.md's round-4 text-dedup table runs winnow at
    // this cap). The oracle mirrors the cap, so correctness is gated on the
    // capped semantics.
    "q_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(
        TextOps.withMutatedTwins(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          "doc_id", "text"),
        "doc_id", "text", minShared = 8, maxBucket = 512)),

    // winnowing fingerprint overlap between originals and their mutated
    // twins
    "q_winnow_overlap" -> ((s, dir) => {
      val corpus = TextOps.withMutatedTwins(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "doc_id", "text")
      val fp = TextOps.winnowingFingerprints(corpus, "doc_id", "text")
      val orig = fp.where(col("id") >= 0 && col("id") % 50 === 0)
        .select(col("id"), col("fingerprints").as("fp_o"))
      val twin = fp.where(col("id") < 0)
        .select((-col("id") - 1).as("id"), col("fingerprints").as("fp_t"))
      orig.join(twin, "id")
        .select(col("id"),
          size(col("fp_o")).as("n_orig"),
          size(array_intersect(col("fp_o"), col("fp_t"))).as("shared"))
        .orderBy("id")
    }),

    // ---- training-data pipeline assembly (Pipeline.scala) ----
    // deterministic hash-bucketed train/val/test split
    "q_split_assign" -> ((s, dir) =>
      Pipeline.splitAssign(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", salt = 42)
        .orderBy("doc_id")),

    // per-source mixture sampling toward a target corpus mix
    "q_mixture_sample" -> ((s, dir) =>
      Pipeline.mixtureSample(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source", "lang"),
        "doc_id", "source",
        rates = Map("src0" -> 0.25, "src1" -> 0.0), defaultRate = 0.8, salt = 7)
        .orderBy("doc_id")),

    // train-test decontamination: word 6-gram overlap vs a benchmark subset
    "q_decontam_overlap" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      Pipeline.decontaminate(d, d.where(col("doc_id") % 37 === 3),
          "doc_id", "text", n = 6, minHits = 2)
        .orderBy("doc_id")
    }),

    // same decontamination through the non-broadcast scale path: Bloom
    // prefilter cuts the corpus-gram shuffle to probable hits; false
    // positives die in the exact join, so the oracle is the SAME SQL
    "q_decontam_bloom" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      Pipeline.decontaminate(d, d.where(col("doc_id") % 37 === 3),
          "doc_id", "text", n = 6, minHits = 2,
          broadcastBenchmark = false, bloomFpp = 0.03)
        .orderBy("doc_id")
    }),

    // FUZZY decontamination: the benchmark docs are lightly-edited copies
    // of corpus docs — the common leak mode exact n-gram hit counting
    // misses; LSH candidates + exact-Jaccard verify catches them
    "q_decontam_fuzzy" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val bench = d.where(col("doc_id") % 37 === 3)
        .withColumn("text", concat(col("text"), lit(" extra trailing words appended")))
      Pipeline.fuzzyDecontam(d, bench, "doc_id", "text", threshold = 0.5)
        .orderBy("doc_id")
    }),

    // GPT-style concat-and-chunk packing into budget-512 sequences
    "q_pack_chunks" -> ((s, dir) =>
      Pipeline.packChunks(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        budget = 512, buckets = 32)
        .orderBy("doc_id")),

    // Gopher-style repetition signals (+ an injected degenerate spam doc so
    // the duplicate-n-gram paths are exercised, not vacuously zero)
    "q_text_repetition" -> ((s, dir) => {
      import s.implicits._
      val corpus = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        .unionByName(Seq((-999L, "buy now " * 30)).toDF("doc_id", "text"))
      TextOps.repetitionSignals(corpus, "doc_id", "text").orderBy("doc_id")
    }),

    // exact substring-dedup spans: duplicated 20-token-window coverage per
    // doc over the mutated-twins corpus (twins share their full prefix run)
    "q_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(
        TextOps.withMutatedTwins(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          "doc_id", "text"),
        "doc_id", "text", k = 20)
        .orderBy("doc_id")),

    // the rewrite half of substring dedup: duplicated 20-token runs cut
    // from every occurrence except the corpus-canonical (min (id,pos)) one
    "q_scrub_spans" -> ((s, dir) =>
      Dedup.scrubDupSpans(
        TextOps.withMutatedTwins(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          "doc_id", "text"),
        "doc_id", "text", k = 20)
        .orderBy("doc_id")),

    // end-to-end curation chain (quality filter → canonical dedup → split),
    // over a corpus with an injected spam doc and verbatim dup copies
    "q_curate_assign" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val corpus = d
        .unionByName(Seq((-999L, "buy now " * 30)).toDF("doc_id", "text"))
        .unionByName(d.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", -col("doc_id") - 1000000))
      Pipeline.curate(corpus, "doc_id", "text", budget = 512, buckets = 32)
        .curated.select("doc_id", "bucket", "split").orderBy("doc_id")
    }),

    // the same run's train-split packing layout
    "q_curate_packed" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val corpus = d
        .unionByName(Seq((-999L, "buy now " * 30)).toDF("doc_id", "text"))
        .unionByName(d.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", -col("doc_id") - 1000000))
      Pipeline.curate(corpus, "doc_id", "text", budget = 512, buckets = 32)
        .packed.orderBy("doc_id")
    }),

    // incremental ingestion dedup: new batch (with re-ingested corpus dups
    // and in-batch dups) anti-joined against the existing snapshot
    "q_dedup_incremental" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val existing = d.where(col("doc_id") % 3 === 0)
      val newBatch = d.where(col("doc_id") % 3 =!= 0)
        .unionByName(existing.where(col("doc_id") % 9 === 0)
          .withColumn("doc_id", -col("doc_id") - 5000)) // re-ingested dups
        .unionByName(d.where(col("doc_id") % 3 === 1)
          .withColumn("doc_id", -col("doc_id") - 7000)) // in-batch dups
      Dedup.incrementalNew(newBatch, existing, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // canonical-doc selection per exact-dup cluster (keep highest quality,
    // ties → smallest id)
    "q_dedup_keepbest" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val corpus = d.unionByName(
        d.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", -col("doc_id") - 1000000))
      Dedup.keepBest(corpus, "doc_id", "text").orderBy("f")
    }),

    // int8 embedding quantization with reconstruction error. The codes
    // array is emitted as an md5 digest of its CSV form (scalar columns
    // only — the driver's pandas canonicalization cannot sort array
    // columns); the digest still pins every code value exactly.
    "q_embed_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(s.read.parquet(s"$dir/embeddings.parquet"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          md5(concat_ws(",", col("codes").cast("array<string>"))).as("codes_fp"),
          round(col("rmse"), 6).as("rmse"))
        .orderBy("vec_id")),

    // sliding-window chunking (32-token windows, 8-token overlap — small
    // enough that the ~54-word docs produce multi-chunk output)
    "q_text_chunks" -> ((s, dir) =>
      TextOps.chunkDocs(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "doc_id", "text", size = 32, overlap = 8)
        .orderBy("doc_id", "chunk")),

    // passage-level dedup: repeated chunk fingerprints across the corpus
    // (the chunk-granular view of substring dedup — twins share their
    // aligned leading chunks verbatim)
    "q_chunk_dups" -> ((s, dir) => {
      val corpus = TextOps.withMutatedTwins(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "doc_id", "text")
      TextOps.chunkDocs(corpus, "doc_id", "text", size = 32, overlap = 8)
        .select(TextOps.fingerprint(col("chunk_text")).as("chunk_fp"),
          col("doc_id"))
        .groupBy("chunk_fp")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_chunks") > 1)
        .orderBy("chunk_fp")
    }),

    // corpus card: per-(source, lang) doc counts, token totals and
    // exact-dedup distinct counts — the summary a dataset release ships with
    "q_corpus_stats" -> ((s, dir) => {
      val text = coalesce(col("text"), lit(""))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("lang"),
          TextOps.tokenCount(text).cast(LongType).as("toks"),
          TextOps.fingerprint(text).as("f"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("total_tokens"),
          countDistinct(col("f")).as("distinct_docs"))
        .orderBy("source", "lang")
    }),

    // per-source token-length distribution (exact interpolated percentiles)
    "q_token_percentiles" -> ((s, dir) => {
      val text = coalesce(col("text"), lit(""))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), TextOps.bpeTokenCount(text).cast(DoubleType).as("t"))
        .groupBy("source")
        .agg(round(expr("percentile(t, 0.5D)"), 6).as("p50"),
          round(expr("percentile(t, 0.9D)"), 6).as("p90"),
          round(expr("percentile(t, 0.99D)"), 6).as("p99"))
        .orderBy("source")
    }),

    // PII detection + redaction scrub pass (+ an injected doc carrying all
    // three PII classes so the patterns are exercised on known answers)
    "q_pii_scrub" -> ((s, dir) => {
      import s.implicits._
      val corpus = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        .unionByName(Seq((-998L,
          "contact john.doe@example.com or a.b@c.io, call 555-123-4567, host 192.168.1.100"))
          .toDF("doc_id", "text"))
      val piiCols = TextOps.piiColumns(coalesce(col("text"), lit("")))
        .map { case (n, c) => c.as(n) }
      corpus.select((col("doc_id") +: piiCols): _*).orderBy("doc_id")
    }),

    // composite C4/Gopher quality filter with per-rule reasons
    "q_quality_filter" -> ((s, dir) => {
      import s.implicits._
      val corpus = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        .unionByName(Seq((-999L, "buy now " * 30)).toDF("doc_id", "text"))
      Pipeline.qualityFilter(corpus, "doc_id", "text").orderBy("doc_id")
    }),

    // CCNet-style hashed-bigram LM perplexity scoring: the model trains on
    // the English slice; injected spam (vocabulary the reference never
    // produces) scores high-perplexity and is dropped
    "q_lm_perplexity" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "lang")
      val raw = d.select("doc_id", "text").unionByName(
        d.where(col("doc_id") % 11 === 0).select(
          (-col("doc_id") - 9000).as("doc_id"),
          lit("win big casino jackpot now free spins bonus").as("text")))
      Pipeline.lmPerplexity(raw, d.where(col("lang") === "en"),
          "doc_id", "text", buckets = 128, seed = 29, keepBelow = 150.0)
        .select(col("doc_id"), col("n_toks"),
          round(col("ppl"), 6).as("ppl"), col("keep"))
        .orderBy("doc_id")
    }),

    // RefinedWeb-style per-source cap: top-7 longest docs per source via
    // the two-phase salted window (exact per-key top-k with bounded
    // partitions; salts=4 exercises the real two-phase path on the
    // 25-doc-per-source corpus).
    "q_source_caps" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "n_chars")
      Pipeline.capPerSource(d, "doc_id", "source", "n_chars",
          maxPerSource = 7, salts = 4)
        .orderBy("doc_id")
    }),

    // Misra-Gries heavy hitters in the EXACT regime: the corpus vocabulary
    // (31 distinct tokens) fits capacity=64, so no decrement ever fires and
    // the sketch output IS the exact token-count table (max_underestimate
    // pinned at 0) — one partial-aggregable pass, no key-space shuffle.
    "q_heavy_hitters" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("text")
      val toks = d.select(explode(split(trim(regexp_replace(
          lower(coalesce(col("text"), lit(""))), "\\s+", " ")), " ")).as("key"))
        .where(col("key") =!= "")
      TypedAggregators.heavyHitters(toks, "key", capacity = 64)
        .orderBy(col("est_count").desc, col("key"))
    }),

    // Heavy hitters in the GUARANTEE regime: a deterministically skewed key
    // stream (two hot keys fanned out 20×, singleton cold tail) forces
    // decrements at capacity=8; the deterministic claim is the MG contract
    // itself — every key with true count above n/(capacity+1) is present,
    // never overestimated, and within the reported underestimate bound.
    "q_heavy_hitters_bound" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val keys = d.where(col("doc_id") % 10 === 0)
        .select(explode(array_repeat(
          concat(lit("hot"), col("doc_id") % 20), 20)).as("key"))
        .unionByName(d.where(col("doc_id") % 10 =!= 0)
          .select(concat(lit("cold"), col("doc_id")).as("key")))
      val hh = TypedAggregators.heavyHitters(keys, "key", capacity = 8)
      val exact = keys.groupBy("key").agg(count(lit(1)).as("exact_count"))
      val n = keys.count()
      exact.where(col("exact_count") > lit(n / 9L))
        .join(hh, Seq("key"), "left")
        .select(col("key"), col("exact_count"),
          col("est_count").isNotNull.as("present"),
          (col("est_count").isNotNull &&
            col("est_count") <= col("exact_count") &&
            (col("exact_count") - col("est_count")) <= col("max_underestimate"))
            .as("within_bound"))
        .orderBy("key")
    }),

    // CCNet-style line-level boilerplate scrub. The corpus has no newlines,
    // so template chrome is injected deterministically: two boilerplate
    // variants that normalize (case + whitespace collapse) to the same
    // line, wrapped around the unique doc bodies — the classic
    // header/footer shape line dedup exists to kill.
    "q_line_scrub" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val corpus = d.select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("Subscribe to our newsletter!\n"), col("text"),
            lit("\nCopyright Example  Corp ALL rights reserved")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit("\ncopyright example corp all rights reserved")))
          .otherwise(col("text")).as("text"))
      Dedup.scrubBoilerplateLines(corpus, "doc_id", "text", minDocs = 50)
        .orderBy("doc_id")
    }),

    // DSIR-style importance resampling toward the English slice of the
    // corpus, with injected off-distribution spam in the raw side (the
    // synthetic corpus draws one shared vocabulary, so without the
    // injection target and raw marginals would coincide and every weight
    // would sit at ~0). Spam docs carry vocabulary absent from the target
    // → strongly negative weights → rejected by the logistic draw.
    // `selected` compares the hash draw against the UNROUNDED weight; only
    // the reported column is rounded.
    "q_importance_weights" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "lang")
      val raw = d.select("doc_id", "text").unionByName(
        d.where(col("doc_id") % 11 === 0).select(
          (-col("doc_id") - 9000).as("doc_id"),
          lit("win big casino jackpot now free spins bonus").as("text")))
      Pipeline.importanceResample(raw, d.where(col("lang") === "en"),
          "doc_id", "text", buckets = 256, seed = 13, salt = 5)
        .select(col("doc_id"), col("n_toks"),
          round(col("logw"), 6).as("logw"), col("selected"))
        .orderBy("doc_id")
    })
  )

  /** Shared mirror for `q_decontam_overlap` and its Bloom-prefiltered
    * twin `q_decontam_bloom` (exactness of the bloom path means one SQL
    * serves both). */
  private def decontamOracle: String =
    s"""WITH cl AS (SELECT doc_id AS id,
       |    trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')) AS cl
       |  FROM documents),
       |tok AS (SELECT id, string_split(cl, ' ') AS ts FROM cl),
       |gr AS (SELECT id, list_distinct(CASE WHEN len(ts) <= 6 THEN [array_to_string(ts, ' ')]
       |         ELSE [array_to_string(ts[i:i+5], ' ') for i in range(1, len(ts) - 4)] END) AS gs
       |  FROM tok),
       |hg AS (SELECT id, [${HashSql.hash64("g", 7)} for g in gs] AS hs FROM gr),
       |inv AS (SELECT id, len(hs) AS n_grams, unnest(hs) AS g FROM hg),
       |bg AS (SELECT DISTINCT g FROM inv WHERE id % 37 = 3)
       |SELECT inv.id AS doc_id, CAST(inv.n_grams AS INTEGER) AS n_grams,
       |  COUNT(*) AS hits, true AS contaminated
       |FROM inv JOIN bg USING (g)
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirrors. Column names must match the Spark outputs exactly. */
  def oracleSql: Map[String, String] = {
    val W = DocTable.sqlWith
    // SRP bucket assignment over dim-64 embeddings, mirrored from the same
    // deterministic sign matrix the engine uses (Similarity.srpSigns).
    val srpSigns4 = Similarity.srpSignsSqlLiteral(bits = 4, dim = 64)
    // fixed-point SRP dot, mirroring Similarity.srpBucketOf exactly:
    // floor(x·2²⁰) is exact for float x (power-of-two scale) and the ±1-
    // signed sum runs in BIGINT — no float-summation-order dependence, so
    // this mirror and the engine's sequential Scala fold agree bit-for-bit
    // even on boundary vectors whose true dot sits at ±1 ulp of zero.
    def srpBucketSql(vec: String) =
      s"""list_sum([CASE WHEN list_sum([
         |    CAST(floor(CAST($vec[i] AS DOUBLE) * 1048576.0) AS BIGINT) * CAST(m[j][i] AS BIGINT)
         |  for i in range(1, len($vec) + 1)]) > 0
         |  THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END
         |  for j in range(1, 5)])""".stripMargin
    val cosineLateral =
      """LATERAL (SELECT
        |  list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in range(1, len(q.embedding) + 1)]) AS dot,
        |  list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) for i in range(1, len(q.embedding) + 1)]) AS qq,
        |  list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in range(1, len(c.embedding) + 1)]) AS cc) t""".stripMargin
    // exact cosine top-3 for the 5 query vectors — the oracle for BOTH
    // q_knn_exact (brute force) and q_ivf_topk (nProbe = nlist ⇒ exhaustive
    // probing must reproduce the exact result)
    val exactTop3Sql =
      """WITH cos AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROUND(
        |      list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in range(1, len(q.embedding) + 1)]) /
        |      (sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) for i in range(1, len(q.embedding) + 1)])) *
        |       sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in range(1, len(c.embedding) + 1)]))), 6) AS sim
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM cos)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    // mutated-twins corpus (TextOps.withMutatedTwins) shared by the near-dup
    // oracles
    val twinsCorpus =
      """corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT -doc_id - 1, text || ' extra trailing words appended'
        |  FROM documents WHERE doc_id % 50 = 0)""".stripMargin
    // quality-filter rule chain over a CTE named `corpus(doc_id, text)`;
    // ends in rules(doc_id, tok, reasons) — shared by q_quality_filter and
    // the end-to-end curation mirror
    val qualityRulesCtes =
      """t AS (SELECT doc_id, COALESCE(text, '') AS x,
        |    CAST(len(COALESCE(text, '')) AS DOUBLE) AS n,
        |    CASE WHEN text IS NULL OR len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
        |  FROM corpus),
        |r AS (SELECT doc_id, tok,
        |    CASE WHEN n = 0 THEN 0.0 ELSE (n - len(regexp_replace(x, '[A-Za-z]', '', 'g'))) / n END AS alpha_ratio,
        |    CASE WHEN n = 0 THEN 0.0 ELSE (n - len(regexp_replace(x, '[0-9]', '', 'g'))) / n END AS digit_ratio,
        |    CASE WHEN tok = 0 THEN 0.0 ELSE (n - (tok - 1)) / tok END AS mean_word_len,
        |    ' ' || lower(x) || ' ' AS p
        |  FROM t),
        |lh AS (SELECT doc_id,
        |    (CASE WHEN strpos(p, ' the ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' and ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' of ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' to ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' in ') > 0 THEN 1 ELSE 0 END) AS s_en,
        |    (CASE WHEN strpos(p, ' der ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' und ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' die ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' das ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' nicht ') > 0 THEN 1 ELSE 0 END) AS s_de,
        |    (CASE WHEN strpos(p, ' le ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' la ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' et ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' les ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' des ') > 0 THEN 1 ELSE 0 END) AS s_fr,
        |    (CASE WHEN strpos(p, ' el ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' que ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' los ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(p, ' una ') > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN strpos(p, ' por ') > 0 THEN 1 ELSE 0 END) AS s_es
        |  FROM r),
        |lang AS (SELECT doc_id,
        |    CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
        |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr'
        |         ELSE 'es' END AS lid
        |  FROM lh),
        |cl AS (SELECT doc_id, trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g')) AS cl FROM corpus),
        |tokl AS (SELECT doc_id, CASE WHEN cl = '' THEN CAST([] AS VARCHAR[]) ELSE string_split(cl, ' ') END AS ts FROM cl),
        |bi AS (SELECT doc_id, unnest([array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))]) AS g
        |  FROM tokl WHERE len(ts) >= 2),
        |bic AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |btop AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac FROM bic GROUP BY 1),
        |rules AS (SELECT r.doc_id, tok,
        |    concat_ws(',',
        |      CASE WHEN tok < 10 THEN 'too_short' END,
        |      CASE WHEN tok > 100000 THEN 'too_long' END,
        |      CASE WHEN alpha_ratio < 0.5 THEN 'low_alpha' END,
        |      CASE WHEN digit_ratio > 0.2 THEN 'high_digit' END,
        |      CASE WHEN mean_word_len < 2.0 OR mean_word_len > 12.0 THEN 'word_len' END,
        |      CASE WHEN lid <> 'en' THEN 'non_english' END,
        |      CASE WHEN COALESCE(top_bigram_frac, 0.0) > 0.2 THEN 'repetitive' END) AS reasons
        |  FROM r JOIN lang USING (doc_id) LEFT JOIN btop ON btop.doc_id = r.doc_id)""".stripMargin
    // fingerprint + quality-score chain over a CTE `src(doc_id, text)`;
    // ends in qsc(doc_id, f, score) — shared by keep-best and curation
    def scoreCtes(src: String) =
      s"""qt AS (SELECT doc_id, COALESCE(text, '') AS qx,
         |    CAST(len(COALESCE(text, '')) AS DOUBLE) AS qn,
         |    md5(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g'))) AS f
         |  FROM $src),
         |qr AS (SELECT doc_id, f,
         |    CASE WHEN qn = 0 THEN 0.0 ELSE (qn - len(regexp_replace(qx, '[A-Za-z]', '', 'g'))) / qn END AS a_r,
         |    CASE WHEN qn = 0 THEN 0.0 ELSE (qn - len(regexp_replace(qx, '[0-9]', '', 'g'))) / qn END AS d_r,
         |    CASE WHEN qn = 0 THEN 0.0 ELSE (qn - len(regexp_replace(qx, '[.,;:!?''"()\\[\\]-]', '', 'g'))) / qn END AS p_r,
         |    CASE WHEN qn = 0 THEN 0.0 ELSE (qn - len(regexp_replace(qx, '[ ]', '', 'g'))) / qn END AS s_r
         |  FROM qt),
         |qsc AS (SELECT doc_id, f,
         |    GREATEST(0.0, LEAST(1.0,
         |      a_r * 0.6 + s_r * 0.8 + (1.0 - d_r) * 0.2 - p_r * 0.3)) AS score
         |  FROM qr)""".stripMargin
    // SchemaInfer evidence mirrors: one SELECT per schema path, the
    // inference rules recomputed in SQL (SchemaInfer.scala documents them)
    def inferInt(path: String, from: String, c: String) =
      s"""SELECT '$path' AS path, 'integer' AS json_type,
         |    (SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = 0 AND COUNT(*) > 0) AS required,
         |    MIN(CAST($c AS DOUBLE)) AS min_value, MAX(CAST($c AS DOUBLE)) AS max_value,
         |    CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len,
         |    COUNT(DISTINCT $c) AS distinct_count,
         |    CAST(NULL AS VARCHAR) AS enum_vals, CAST(NULL AS VARCHAR) AS format
         |  FROM $from""".stripMargin
    def inferNum(path: String, from: String, c: String) =
      s"""SELECT '$path' AS path,
         |    CASE WHEN COALESCE(bool_and(fmod($c, 1) = 0), TRUE)
         |         THEN 'integer' ELSE 'number' END AS json_type,
         |    (SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = 0 AND COUNT(*) > 0) AS required,
         |    MIN(CAST($c AS DOUBLE)) AS min_value, MAX(CAST($c AS DOUBLE)) AS max_value,
         |    CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len,
         |    COUNT(DISTINCT $c) AS distinct_count,
         |    CAST(NULL AS VARCHAR) AS enum_vals, CAST(NULL AS VARCHAR) AS format
         |  FROM $from""".stripMargin
    def inferStr(path: String, from: String, c: String) =
      s"""SELECT '$path' AS path, 'string' AS json_type,
         |    (SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = 0 AND COUNT(*) > 0) AS required,
         |    CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value,
         |    CAST(MIN(len($c)) AS BIGINT) AS min_len, CAST(MAX(len($c)) AS BIGINT) AS max_len,
         |    COUNT(DISTINCT $c) AS distinct_count,
         |    CASE WHEN COUNT(DISTINCT $c) BETWEEN 1 AND 16 AND COUNT($c) > 0
         |         THEN string_agg(DISTINCT replace(replace($c, '\\', '\\\\'), '|', '\\|'), '|'
         |                         ORDER BY replace(replace($c, '\\', '\\\\'), '|', '\\|'))
         |         END AS enum_vals,
         |    CASE WHEN COUNT($c) > 0 AND COALESCE(bool_and(
         |           regexp_matches($c, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$')), TRUE)
         |         THEN 'date' END AS format
         |  FROM $from""".stripMargin
    def inferTs(path: String, from: String, c: String) =
      s"""SELECT '$path' AS path, 'string' AS json_type,
         |    (SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = 0 AND COUNT(*) > 0) AS required,
         |    CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value,
         |    CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len,
         |    CAST(NULL AS BIGINT) AS distinct_count,
         |    CAST(NULL AS VARCHAR) AS enum_vals, 'date-time' AS format
         |  FROM $from""".stripMargin
    def lineitemEv(from: String) = Seq(
      inferInt("/l_orderkey", from, "l_orderkey"),
      inferInt("/l_partkey", from, "l_partkey"),
      inferInt("/l_suppkey", from, "l_suppkey"),
      inferInt("/l_linenumber", from, "l_linenumber"),
      inferNum("/l_quantity", from, "l_quantity"),
      inferNum("/l_extendedprice", from, "l_extendedprice"),
      inferNum("/l_discount", from, "l_discount"),
      inferNum("/l_tax", from, "l_tax"),
      inferStr("/l_returnflag", from, "l_returnflag"),
      inferStr("/l_linestatus", from, "l_linestatus"),
      inferTs("/l_shipdate", from, "l_shipdate")).mkString("\nUNION ALL\n")
    val base = Map(
      "q_validate_verdicts" ->
        s"""$W, span_viol AS (
           |  SELECT doc_num, SUM(CASE WHEN kind = 'imag' THEN 1 ELSE 0 END)
           |                + SUM(CASE WHEN "offset" < 0 THEN 1 ELSE 0 END) AS sviol
           |  FROM gspans GROUP BY doc_num)
           |SELECT d.doc_num, d.doc_id_str AS doc_id,
           |  (nv.n = 0) AS valid, CAST(nv.n AS INTEGER) AS n_violations
           |FROM gdocs d
           |LEFT JOIN span_viol s USING (doc_num),
           |LATERAL (SELECT (CASE WHEN regexp_matches(d.doc_id_str, '^doc-[0-9]+$$') THEN 0 ELSE 1 END)
           |              + (CASE WHEN d.n_spans < 1 THEN 1 ELSE 0 END)
           |              + COALESCE(s.sviol, 0) AS n) nv
           |ORDER BY d.doc_num""".stripMargin,

      "q_validate_violations" ->
        s"""$W
           |SELECT doc_num, path, keyword FROM (
           |  SELECT doc_num, '/doc_id' AS path, 'pattern' AS keyword
           |    FROM gdocs WHERE NOT regexp_matches(doc_id_str, '^doc-[0-9]+$$')
           |  UNION ALL
           |  SELECT doc_num, '/spans', 'minItems' FROM gdocs WHERE n_spans < 1
           |  UNION ALL
           |  SELECT doc_num, '/spans/' || idx || '/kind', 'enum' FROM gspans WHERE kind = 'imag'
           |  UNION ALL
           |  SELECT doc_num, '/spans/' || idx || '/offset', 'minimum' FROM gspans WHERE "offset" < 0
           |) ORDER BY doc_num, path, keyword""".stripMargin,

      "q_jsonl_verdicts" ->
        s"""$W, span_viol AS (
           |  SELECT doc_num, SUM(CASE WHEN kind = 'imag' THEN 1 ELSE 0 END)
           |                + SUM(CASE WHEN "offset" < 0 THEN 1 ELSE 0 END) AS sviol
           |  FROM gspans GROUP BY doc_num)
           |SELECT d.doc_num, (nv.n = 0) AS valid, CAST(nv.n AS INTEGER) AS n_violations
           |FROM gdocs d
           |LEFT JOIN span_viol s USING (doc_num),
           |LATERAL (SELECT (CASE WHEN regexp_matches(d.doc_id_str, '^doc-[0-9]+$$') THEN 0 ELSE 1 END)
           |              + (CASE WHEN d.n_spans < 1 THEN 1 ELSE 0 END)
           |              + COALESCE(s.sviol, 0) AS n) nv
           |ORDER BY d.doc_num""".stripMargin,

      // identical semantics to q_jsonl_verdicts: the SQL-surface expression
      // runs the same row core over the same serialized lines
      "q_sql_validate" ->
        s"""$W, span_viol AS (
           |  SELECT doc_num, SUM(CASE WHEN kind = 'imag' THEN 1 ELSE 0 END)
           |                + SUM(CASE WHEN "offset" < 0 THEN 1 ELSE 0 END) AS sviol
           |  FROM gspans GROUP BY doc_num)
           |SELECT d.doc_num, (nv.n = 0) AS valid, CAST(nv.n AS INTEGER) AS n_violations
           |FROM gdocs d
           |LEFT JOIN span_viol s USING (doc_num),
           |LATERAL (SELECT (CASE WHEN regexp_matches(d.doc_id_str, '^doc-[0-9]+$$') THEN 0 ELSE 1 END)
           |              + (CASE WHEN d.n_spans < 1 THEN 1 ELSE 0 END)
           |              + COALESCE(s.sviol, 0) AS n) nv
           |ORDER BY d.doc_num""".stripMargin,

      "q_partition_verdicts" ->
        s"""$W, span_viol AS (
           |  SELECT doc_num, SUM(CASE WHEN kind = 'imag' THEN 1 ELSE 0 END)
           |                + SUM(CASE WHEN "offset" < 0 THEN 1 ELSE 0 END) AS sviol
           |  FROM gspans GROUP BY doc_num),
           |doc_v AS (
           |  SELECT d.doc_num,
           |    (CASE WHEN regexp_matches(d.doc_id_str, '^doc-[0-9]+$$') THEN 0 ELSE 1 END)
           |    + (CASE WHEN d.n_spans < 1 THEN 1 ELSE 0 END)
           |    + COALESCE(s.sviol, 0) AS n
           |  FROM gdocs d LEFT JOIN span_viol s USING (doc_num))
           |SELECT CAST(doc_num % 32 AS INTEGER) AS partition,
           |  COUNT(*) AS docs,
           |  CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_count,
           |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fail_count,
           |  CAST(SUM(n) AS BIGINT) AS violation_count
           |FROM doc_v GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_dedup_exact" ->
        s"""$W
           |SELECT doc_id_str AS doc_id, COUNT(*) AS cnt
           |FROM gdocs GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""".stripMargin,

      "q_refcheck_dangling" ->
        s"""$W
           |SELECT media_ref AS ref, COUNT(*) AS ref_count
           |FROM gspans
           |WHERE media_ref IS NOT NULL
           |  AND CAST(substr(media_ref, 3) AS INTEGER) >= 200
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      // classic-FK referential mirror: anti-join the injected-dangler ref
      // set against customer
      "q_refcheck_orders" ->
        """WITH refs AS (
          |  SELECT o_custkey FROM orders
          |  UNION ALL SELECT -o_orderkey FROM orders WHERE o_orderkey % 1000 = 0)
          |SELECT r.o_custkey AS ref, COUNT(*) AS ref_count
          |FROM refs r LEFT JOIN customer c ON r.o_custkey = c.c_custkey
          |WHERE r.o_custkey IS NOT NULL AND c.c_custkey IS NULL
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // lineitem validation mirror: each leaf rule recomputed as a CASE —
      // bounds apply to present numeric values, pattern to strings, enum to
      // present values (SQL-NULL columns are ABSENT properties in the
      // engine's row model, and this table has none)
      "q_lineitem_validate" ->
        """WITH li AS (
          |  SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
          |         l_returnflag, l_linestatus FROM lineitem
          |  UNION ALL SELECT -1, 0, 0.5, 0.2, 'X', 'Z'),
          |e AS (SELECT l_orderkey, l_linenumber,
          |    (CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END) +
          |    (CASE WHEN l_quantity > 48 THEN 1 ELSE 0 END) +
          |    (CASE WHEN l_discount < 0 THEN 1 ELSE 0 END) +
          |    (CASE WHEN l_discount > 0.09 THEN 1 ELSE 0 END) +
          |    (CASE WHEN NOT regexp_matches(l_returnflag, '^[ARN]$') THEN 1 ELSE 0 END) +
          |    (CASE WHEN l_linestatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS n_errors
          |  FROM li)
          |SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS l_linenumber,
          |  CAST(n_errors AS INTEGER) AS n_errors
          |FROM e WHERE n_errors > 0 ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "q_stats_profile" ->
        """SELECT * FROM (
          |  SELECT 'event_type' AS "column", COUNT(*) AS total_count,
          |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
          |    CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value,
          |    COUNT(DISTINCT event_type) AS distinct_count FROM events
          |  UNION ALL
          |  SELECT 'user_id', COUNT(*),
          |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |    MIN(CAST(user_id AS DOUBLE)), MAX(CAST(user_id AS DOUBLE)),
          |    COUNT(DISTINCT user_id) FROM events
          |  UNION ALL
          |  SELECT 'value', COUNT(*),
          |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |    MIN(value), MAX(value), COUNT(DISTINCT value) FROM events
          |) ORDER BY "column"""".stripMargin,

      "q_infer_lineitem" ->
        s"SELECT * FROM (\n${lineitemEv("lineitem")}\n) ORDER BY path",

      // the evidence rules recomputed over BOTH snapshot halves, then the
      // diff rules recomputed over the two evidence tables
      "q_infer_drift" ->
        s"""WITH liref AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 0),
           |licur AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
           |    CASE WHEN l_orderkey % 7 = 1 THEN l_quantity + 0.5 ELSE l_quantity END AS l_quantity,
           |    CASE WHEN l_orderkey % 13 = 1 THEN -l_extendedprice ELSE l_extendedprice END AS l_extendedprice,
           |    l_discount, l_tax,
           |    CASE WHEN l_orderkey % 11 = 1 THEN 'Z' ELSE l_returnflag END AS l_returnflag,
           |    l_linestatus,
           |    CASE WHEN l_orderkey % 17 = 1 THEN NULL ELSE l_shipdate END AS l_shipdate
           |  FROM lineitem WHERE l_orderkey % 2 = 1),
           |refev AS (
           |${lineitemEv("liref")}
           |), curev AS (
           |${lineitemEv("licur")}
           |), j AS (
           |  SELECT r.path AS rpath, c.path AS cpath, r.json_type AS rt, c.json_type AS ct,
           |    r.required AS rreq, c.required AS creq,
           |    r.min_value AS rmin, c.min_value AS cmin, r.max_value AS rmax, c.max_value AS cmax,
           |    r.min_len AS rminl, c.min_len AS cminl, r.max_len AS rmaxl, c.max_len AS cmaxl,
           |    r.enum_vals AS re, c.enum_vals AS ce, r.format AS rf, c.format AS cf
           |  FROM refev r FULL OUTER JOIN curev c ON r.path = c.path)
           |SELECT * FROM (
           |  SELECT COALESCE(rpath, cpath) AS path, 'added' AS aspect,
           |    CAST(NULL AS DOUBLE) AS ref_num, CAST(NULL AS DOUBLE) AS cur_num,
           |    CAST(NULL AS VARCHAR) AS ref_str, ct AS cur_str FROM j WHERE rpath IS NULL
           |  UNION ALL SELECT COALESCE(rpath, cpath), 'removed',
           |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), rt, CAST(NULL AS VARCHAR)
           |    FROM j WHERE cpath IS NULL
           |  UNION ALL SELECT rpath, 'type', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), rt, ct
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL AND rt <> ct
           |  UNION ALL SELECT rpath, 'required', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |    CAST(rreq AS VARCHAR), CAST(creq AS VARCHAR)
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL AND rreq <> creq
           |  UNION ALL SELECT rpath, 'min_value', rmin, cmin, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL AND cmin < rmin
           |  UNION ALL SELECT rpath, 'max_value', rmax, cmax, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL AND cmax > rmax
           |  UNION ALL SELECT rpath, 'min_len', CAST(rminl AS DOUBLE), CAST(cminl AS DOUBLE),
           |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL AND cminl < rminl
           |  UNION ALL SELECT rpath, 'max_len', CAST(rmaxl AS DOUBLE), CAST(cmaxl AS DOUBLE),
           |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL AND cmaxl > rmaxl
           |  UNION ALL SELECT rpath, 'enum', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), re, ce
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL
           |      AND re IS DISTINCT FROM ce AND (re IS NOT NULL OR ce IS NOT NULL)
           |  UNION ALL SELECT rpath, 'format', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), rf, cf
           |    FROM j WHERE rpath IS NOT NULL AND cpath IS NOT NULL
           |      AND rf IS NOT NULL AND cf IS DISTINCT FROM rf
           |) ORDER BY path, aspect""".stripMargin,

      "q_infer_docs" -> {
        val spansArr =
          """SELECT '/spans' AS path, 'array' AS json_type,
            |    (COUNT(*) > 0) AS required,
            |    CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value,
            |    CAST(MIN(n_spans) AS BIGINT) AS min_len, CAST(MAX(n_spans) AS BIGINT) AS max_len,
            |    CAST(NULL AS BIGINT) AS distinct_count,
            |    CAST(NULL AS VARCHAR) AS enum_vals, CAST(NULL AS VARCHAR) AS format
            |  FROM gdocs""".stripMargin
        val branches = Seq(
          inferStr("/doc_id", "gdocs", "doc_id_str"),
          inferInt("/doc_num", "gdocs", "doc_num"),
          spansArr,
          inferStr("/spans/*/kind", "gspans", "kind"),
          inferStr("/spans/*/media_ref", "gspans", "media_ref"),
          inferInt("/spans/*/offset", "gspans", "\"offset\""),
          inferStr("/spans/*/text", "gspans", "text"))
        s"$W SELECT * FROM (\n${branches.mkString("\nUNION ALL\n")}\n) ORDER BY path"
      },

      "q_drift_bins" ->
        """SELECT CAST(FLOOR(value / 10.0) AS INTEGER) AS bin,
          |  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_count,
          |  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS cur_count
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_events_window" ->
        """SELECT date_trunc('hour', ts) AS window_start, event_type,
          |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value,
          |  ROUND(AVG(value), 6) AS avg_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_text_tokens" ->
        """SELECT doc_id,
          |  CASE WHEN text IS NULL OR len(trim(text)) = 0 THEN 0
          |       ELSE len(string_split_regex(trim(text), '\s+')) END AS token_count
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_text_bpe_tokens" ->
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(COALESCE(text, ''),
           |    '${TextOps.bpeTokenPattern.replace("'", "''")}')) AS INTEGER) AS bpe_tokens
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q_text_quality" ->
        """WITH t AS (
          |  SELECT doc_id, COALESCE(text, '') AS x,
          |    CAST(len(COALESCE(text, '')) AS DOUBLE) AS n,
          |    CASE WHEN text IS NULL OR len(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, n, tok,
          |    CASE WHEN n = 0 THEN 0.0 ELSE (n - len(regexp_replace(x, '[A-Za-z]', '', 'g'))) / n END AS alpha_ratio,
          |    CASE WHEN n = 0 THEN 0.0 ELSE (n - len(regexp_replace(x, '[0-9]', '', 'g'))) / n END AS digit_ratio,
          |    CASE WHEN n = 0 THEN 0.0 ELSE (n - len(regexp_replace(x, '[.,;:!?''"()\[\]-]', '', 'g'))) / n END AS punct_ratio,
          |    CASE WHEN n = 0 THEN 0.0 ELSE (n - len(regexp_replace(x, '[ ]', '', 'g'))) / n END AS space_ratio
          |  FROM t)
          |SELECT doc_id,
          |  ROUND(alpha_ratio, 6) AS alpha_ratio,
          |  ROUND(digit_ratio, 6) AS digit_ratio,
          |  ROUND(punct_ratio, 6) AS punct_ratio,
          |  ROUND(space_ratio, 6) AS space_ratio,
          |  ROUND(CASE WHEN tok = 0 THEN 0.0 ELSE (n - (tok - 1)) / tok END, 6) AS mean_word_len,
          |  ROUND(GREATEST(0.0, LEAST(1.0,
          |    alpha_ratio * 0.6 + space_ratio * 0.8 + (1.0 - digit_ratio) * 0.2 - punct_ratio * 0.3)), 6) AS quality_score
          |FROM r ORDER BY doc_id""".stripMargin,

      "q_lang_id" ->
        """WITH p AS (
          |  SELECT doc_id, lang, ' ' || lower(COALESCE(text, '')) || ' ' AS x FROM documents),
          |s AS (
          |  SELECT doc_id, lang,
          |    (CASE WHEN strpos(x, ' the ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' and ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' of ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' to ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' in ') > 0 THEN 1 ELSE 0 END) AS s_en,
          |    (CASE WHEN strpos(x, ' der ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' und ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' die ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' das ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' nicht ') > 0 THEN 1 ELSE 0 END) AS s_de,
          |    (CASE WHEN strpos(x, ' le ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' la ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' et ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' les ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' des ') > 0 THEN 1 ELSE 0 END) AS s_fr,
          |    (CASE WHEN strpos(x, ' el ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' que ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' los ') > 0 THEN 1 ELSE 0 END + CASE WHEN strpos(x, ' una ') > 0 THEN 1 ELSE 0 END +
          |     CASE WHEN strpos(x, ' por ') > 0 THEN 1 ELSE 0 END) AS s_es
          |  FROM p)
          |SELECT doc_id, lang,
          |  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
          |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
          |       WHEN s_fr >= s_es THEN 'fr'
          |       ELSE 'es' END AS predicted
          |FROM s ORDER BY doc_id""".stripMargin,

      "q_fingerprint_dups" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT -doc_id - 1000000, text FROM documents WHERE doc_id % 40 = 0)
          |SELECT md5(lower(regexp_replace(trim(COALESCE(text, '')), '\s+', ' ', 'g'))) AS fingerprint,
          |  COUNT(*) AS cnt
          |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""".stripMargin,

      "q_dedup_components" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT -doc_id - 1000000, text FROM documents WHERE doc_id % 40 = 0),
          |fp AS (SELECT doc_id AS id,
          |  md5(lower(regexp_replace(trim(COALESCE(text, '')), '\s+', ' ', 'g'))) AS f
          |  FROM corpus),
          |dup AS (SELECT f FROM fp GROUP BY 1 HAVING COUNT(*) > 1)
          |SELECT id, MIN(id) OVER (PARTITION BY f) AS component
          |FROM fp JOIN dup USING (f)
          |ORDER BY id""".stripMargin,

      "q_dedup_components_star" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT -doc_id - 1000000, text FROM documents WHERE doc_id % 40 = 0),
          |fp AS (SELECT doc_id AS id,
          |  md5(lower(regexp_replace(trim(COALESCE(text, '')), '\s+', ' ', 'g'))) AS f
          |  FROM corpus),
          |dup AS (SELECT f FROM fp GROUP BY 1 HAVING COUNT(*) > 1)
          |SELECT id, MIN(id) OVER (PARTITION BY f) AS component
          |FROM fp JOIN dup USING (f)
          |ORDER BY id""".stripMargin,

      "q_ngram_jaccard" ->
        """WITH corpus AS (
          |  SELECT doc_id AS id, text FROM documents
          |  UNION ALL
          |  SELECT -doc_id - 1 AS id, text || ' extra trailing words appended' FROM documents WHERE doc_id % 50 = 0),
          |words AS (SELECT id, string_split_regex(trim(COALESCE(text, '')), '\s+') AS w FROM corpus),
          |sh AS (SELECT id,
          |  CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
          |       ELSE list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) END AS s
          |  FROM words)
          |SELECT a.id AS id_a, b.id AS id_b,
          |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
          |FROM sh a JOIN sh b ON b.id = -a.id - 1 AND a.id >= 0 AND a.id % 50 = 0
          |ORDER BY id_a""".stripMargin,

      "q_knn_exact" -> exactTop3Sql,

      "q_ivf_topk" -> exactTop3Sql,

      // full LSH mirror: minhash signatures (md5-base + splitmix finalizer,
      // HashSql renders the exact wraparound arithmetic), band keys, bucket
      // skew cap, candidate self-join, exact-Jaccard verify — the entire
      // near-dup pipeline recomputed independently by DuckDB
      // near-dup clustering mirror: the SAME LSH chain as q_minhash_pairs,
      // then an undirected transitive closure (recursive CTE) + min label —
      // an independent SQL recomputation of the engine's iterative
      // label-propagation components
      "q_neardup_clusters" -> {
        val shingleHash = HashSql.hash64SeedVar("t", "j")
        val bandSigs = s"[${HashSql.toUnsigned("g[b * 4 + r + 1]")} for r in range(0, 4)]"
        s"""WITH RECURSIVE $twinsCorpus,
           |words AS (SELECT id, string_split_regex(trim(COALESCE(text, '')), '\\s+') AS w FROM corpus),
           |sh AS (SELECT id,
           |  CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
           |       ELSE list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) END AS s
           |  FROM words),
           |sig AS (SELECT id, [list_min([$shingleHash for t in s]) for j in range(0, 16)] AS g FROM sh),
           |bnd AS (SELECT id, b, ${HashSql.bandKey("b", bandSigs)} AS bucket
           |        FROM sig, range(0, 4) r(b)),
           |ok AS (SELECT b, bucket FROM bnd GROUP BY 1, 2 HAVING COUNT(*) <= 64),
           |pr AS (SELECT bnd.* FROM bnd JOIN ok USING (b, bucket)),
           |cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b
           |         FROM pr a JOIN pr c ON a.b = c.b AND a.bucket = c.bucket AND a.id < c.id),
           |ver AS (SELECT id_a, id_b,
           |  ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
           |        len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
           |  FROM cand JOIN sh sa ON sa.id = id_a JOIN sh sb ON sb.id = id_b),
           |e AS (SELECT id_a AS a, id_b AS b FROM ver WHERE jaccard >= 0.5),
           |ud AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
           |reach AS (SELECT a, b FROM ud
           |          UNION
           |          SELECT r.a, u.b FROM reach r JOIN ud u ON u.a = r.b)
           |SELECT a AS id, LEAST(a, MIN(b)) AS component
           |FROM reach GROUP BY a ORDER BY id""".stripMargin
      },

      "q_minhash_pairs" -> {
        val shingleHash = HashSql.hash64SeedVar("t", "j")
        val bandSigs = s"[${HashSql.toUnsigned("g[b * 4 + r + 1]")} for r in range(0, 4)]"
        s"""WITH $twinsCorpus,
           |words AS (SELECT id, string_split_regex(trim(COALESCE(text, '')), '\\s+') AS w FROM corpus),
           |sh AS (SELECT id,
           |  CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
           |       ELSE list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) END AS s
           |  FROM words),
           |sig AS (SELECT id, [list_min([$shingleHash for t in s]) for j in range(0, 16)] AS g FROM sh),
           |bnd AS (SELECT id, b, ${HashSql.bandKey("b", bandSigs)} AS bucket
           |        FROM sig, range(0, 4) r(b)),
           |ok AS (SELECT b, bucket FROM bnd GROUP BY 1, 2 HAVING COUNT(*) <= 64),
           |pr AS (SELECT bnd.* FROM bnd JOIN ok USING (b, bucket)),
           |cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b
           |         FROM pr a JOIN pr c ON a.b = c.b AND a.bucket = c.bucket AND a.id < c.id),
           |ver AS (SELECT id_a, id_b,
           |  ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
           |        len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
           |  FROM cand JOIN sh sa ON sa.id = id_a JOIN sh sb ON sb.id = id_b)
           |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.5
           |ORDER BY id_a, id_b""".stripMargin
      },

      // full pigeonhole mirror: 64-bit simhash signatures from per-token
      // majority bits, block keys, skew cap, bucket self-join, exact
      // hamming verify
      "q_simhash_pairs" -> {
        val tokenHash = HashSql.mix64(HashSql.md5Base("t")) // unsigned
        val sigExpr =
          s"""list_sum([CASE WHEN 2 * list_sum([CASE WHEN (h // pw[j]) % 2 = 1 THEN 1 ELSE 0 END for h in hs]) > len(hs)
             |  THEN pw[j] ELSE CAST(0 AS HUGEINT) END for j in range(1, 65)])""".stripMargin
        val blockKeys = Dedup.simhashBlocks(2).map { case (st, w) =>
          val div = java.math.BigInteger.ONE.shiftLeft(st)
          val mod = java.math.BigInteger.ONE.shiftLeft(w)
          s"(sig // $div) % $mod"
        }.mkString("[", ", ", "]")
        s"""WITH $twinsCorpus,
           |tk AS (SELECT id, string_split_regex(trim(COALESCE(text, '')), '\\s+') AS tk FROM corpus),
           |p AS (SELECT ${HashSql.pow2List} AS pw),
           |hv AS (SELECT id, [$tokenHash for t in tk] AS hs FROM tk),
           |sigs AS (SELECT id, $sigExpr AS sig FROM hv, p),
           |ks AS (SELECT id, sig, $blockKeys AS keys FROM sigs),
           |eb AS (SELECT id, sig, b, keys[b + 1] AS key FROM ks, range(0, 3) r(b)),
           |ok AS (SELECT b, key FROM eb GROUP BY 1, 2 HAVING COUNT(*) <= 4096),
           |pr AS (SELECT eb.* FROM eb JOIN ok USING (b, key)),
           |pairs AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b,
           |    CAST(bit_count(xor(a.sig, c.sig)) AS INTEGER) AS hamming
           |  FROM pr a JOIN pr c ON a.b = c.b AND a.key = c.key AND a.id < c.id)
           |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 2
           |ORDER BY id_a, id_b""".stripMargin
      },

      // frame sampling mirror: the Spark side DECODES the GFTV header for
      // the frame count; the oracle recomputes it from the construction
      // formula and samples the same stride
      "q_media_frames" ->
        """WITH cat AS (
          |  SELECT i, i * 1024 + 64 AS bytes, 'm-' || CAST(i AS VARCHAR) AS media_ref
          |  FROM range(0, 200) t(i))
          |SELECT media_ref, CAST(1 + i % 30 AS INTEGER) AS frames,
          |  CAST(len([x for x in range(0, 1 + i % 30) if x % 5 = 0]) AS INTEGER) AS n_sampled,
          |  array_to_string([CAST(x AS INTEGER) for x in range(0, 1 + i % 30) if x % 5 = 0], ',') AS sampled_csv
          |FROM cat WHERE bytes % 3 = 2 ORDER BY media_ref""".stripMargin,

      // winnowing inverted-index mirror: same fingerprint CTEs, then the
      // full skew-capped index self-join recomputed in SQL
      "q_winnow_pairs" -> {
        val roll = HashSql.rollHash("codes")
        val rollAt = HashSql.rollHash("codes[i:i+7]")
        s"""WITH $twinsCorpus,
           |cl AS (SELECT id, trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')) AS cl FROM corpus),
           |cd AS (SELECT id, [CAST(unicode(ch) AS HUGEINT) for ch in string_split(cl, '')] AS codes, len(cl) AS n FROM cl),
           |h AS (SELECT id, CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
           |            WHEN n < 8 THEN [$roll]
           |            ELSE [$rollAt for i in range(1, n - 6)] END AS hs FROM cd),
           |f AS (SELECT id, list_distinct([list_min(hs[w:w+15])
           |                 for w in range(1, greatest(1, len(hs) - 15) + 1)]) AS fps FROM h),
           |inv AS (SELECT id, unnest(fps) AS f FROM f),
           |small AS (SELECT f FROM inv GROUP BY 1 HAVING COUNT(*) <= 512),
           |pi AS (SELECT inv.* FROM inv JOIN small USING (f))
           |SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared
           |FROM pi a JOIN pi b ON a.f = b.f AND a.id < b.id
           |GROUP BY 1, 2 HAVING COUNT(*) >= 8
           |ORDER BY 1, 2""".stripMargin
      },

      // winnowing mirror: rolling k-gram hashes (exact wraparound fold),
      // per-window minima, distinct fingerprints, overlap with the twin
      "q_winnow_overlap" -> {
        val roll = HashSql.rollHash("codes")
        val rollAt = HashSql.rollHash("codes[i:i+7]")
        s"""WITH $twinsCorpus,
           |cl AS (SELECT id, trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')) AS cl FROM corpus),
           |cd AS (SELECT id, [CAST(unicode(ch) AS HUGEINT) for ch in string_split(cl, '')] AS codes, len(cl) AS n FROM cl),
           |h AS (SELECT id, CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
           |            WHEN n < 8 THEN [$roll]
           |            ELSE [$rollAt for i in range(1, n - 6)] END AS hs FROM cd),
           |f AS (SELECT id, list_distinct([list_min(hs[w:w+15])
           |                 for w in range(1, greatest(1, len(hs) - 15) + 1)]) AS fps FROM h)
           |SELECT o.id AS id, CAST(len(o.fps) AS INTEGER) AS n_orig,
           |  CAST(len(list_intersect(o.fps, t.fps)) AS INTEGER) AS shared
           |FROM f o JOIN f t ON t.id = -o.id - 1
           |WHERE o.id >= 0 AND o.id % 50 = 0
           |ORDER BY o.id""".stripMargin
      },

      "q_drift_scores" ->
        """WITH bins AS (
          |  SELECT CAST(FLOOR(value / 50.0) AS INTEGER) AS bin,
          |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r,
          |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS c
          |  FROM events GROUP BY 1),
          |tot AS (SELECT CAST(SUM(r) AS DOUBLE) AS rt, CAST(SUM(c) AS DOUBLE) AS ct,
          |               CAST(COUNT(*) AS DOUBLE) AS n FROM bins),
          |psi AS (
          |  SELECT SUM(((c + 0.5) / (ct + 0.5 * n) - (r + 0.5) / (rt + 0.5 * n)) *
          |             LN(((c + 0.5) / (ct + 0.5 * n)) / ((r + 0.5) / (rt + 0.5 * n)))) AS v
          |  FROM bins, tot),
          |cum AS (
          |  SELECT SUM(r / GREATEST(rt, 1.0)) OVER (ORDER BY bin) AS ra,
          |         SUM(c / GREATEST(ct, 1.0)) OVER (ORDER BY bin) AS ca
          |  FROM bins, tot),
          |ks AS (SELECT MAX(ABS(ra - ca)) AS v FROM cum)
          |SELECT 'ks' AS measure, ROUND((SELECT v FROM ks), 6) AS score
          |UNION ALL
          |SELECT 'psi', ROUND((SELECT v FROM psi), 6)
          |ORDER BY measure""".stripMargin,

      // sketch bound-check mirror: DuckDB independently recomputes the
      // exact [q−ε, q+ε] percentile interval (quantile_cont ≡ Spark
      // percentile, p·(n−1) interpolation) and asserts the sketch estimate
      // fell inside it (within_bound TRUE) — the hash match gates both the
      // interval endpoints and the sketch's rank-error contract
      "q_drift_sketch" ->
        """WITH v AS (
          |  SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS population,
          |    CAST(value AS DOUBLE) AS value
          |  FROM events),
          |qv AS (SELECT population,
          |    quantile_cont(value, [0.05, 0.15, 0.45, 0.55, 0.85, 0.95]) AS p
          |  FROM v GROUP BY population)
          |SELECT population, m.measure,
          |  ROUND(p[m.i], 6) AS lo, ROUND(p[m.i + 1], 6) AS hi,
          |  TRUE AS within_bound
          |FROM qv, (VALUES ('p10', 1), ('p50', 3), ('p90', 5)) m(measure, i)
          |ORDER BY population, measure""".stripMargin,

      "q_ann_topk" ->
        s"""WITH s AS (SELECT $srpSigns4 AS m),
           |b AS (SELECT vec_id, embedding, ${srpBucketSql("embedding")} AS bucket
           |      FROM embeddings, s),
           |cos AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) AS sim
           |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id, $cosineLateral
           |  WHERE q.vec_id < 5),
           |ranked AS (
           |  SELECT query_id, neighbor_id, sim,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
           |  FROM cos)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, sim
           |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

      "q_cosine_neardups" ->
        s"""WITH corpus AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000, [x * CAST(1.0005 AS REAL) for x in embedding]
           |  FROM embeddings WHERE vec_id % 100 = 0),
           |s AS (SELECT $srpSigns4 AS m),
           |b AS (SELECT vec_id, embedding, ${srpBucketSql("embedding")} AS bucket
           |      FROM corpus, s),
           |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 512),
           |pairs AS (
           |  SELECT q.vec_id AS id_a, c.vec_id AS id_b,
           |    ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) AS sim
           |  FROM b q JOIN ok USING (bucket)
           |       JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id, $cosineLateral)
           |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.99 ORDER BY id_a, id_b""".stripMargin,

      // SemDeDup mirror: the cosine-neardups pair CTEs verbatim, then the
      // keep verdict = "no smaller-id neighbor at >= threshold"
      "q_semdedup" ->
        s"""WITH corpus AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000, [x * CAST(1.0005 AS REAL) for x in embedding]
           |  FROM embeddings WHERE vec_id % 100 = 0),
           |s AS (SELECT $srpSigns4 AS m),
           |b AS (SELECT vec_id, embedding, ${srpBucketSql("embedding")} AS bucket
           |      FROM corpus, s),
           |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 512),
           |pairs AS (
           |  SELECT q.vec_id AS id_a, c.vec_id AS id_b,
           |    ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) AS sim
           |  FROM b q JOIN ok USING (bucket)
           |       JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id, $cosineLateral),
           |dropped AS (SELECT DISTINCT id_b AS vec_id FROM pairs WHERE sim >= 0.99)
           |SELECT c.vec_id, (d.vec_id IS NULL) AS kept
           |FROM corpus c LEFT JOIN dropped d USING (vec_id) ORDER BY c.vec_id""".stripMargin,

      // embedding-drift mirror: both snapshots' SRP buckets recomputed from
      // the sign-matrix literal, occupancy counted, full-outer joined
      "q_embed_drift" ->
        s"""WITH s AS (SELECT $srpSigns4 AS m),
           |cur AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % 2 = 0 THEN [abs(x) for x in embedding]
           |         ELSE embedding END AS embedding
           |  FROM embeddings),
           |rb AS (SELECT ${srpBucketSql("embedding")} AS bucket FROM embeddings, s),
           |cb AS (SELECT ${srpBucketSql("embedding")} AS bucket FROM cur, s),
           |rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ref_count FROM rb GROUP BY 1),
           |cc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cur_count FROM cb GROUP BY 1)
           |SELECT CAST(COALESCE(rc.bucket, cc.bucket) AS BIGINT) AS bucket,
           |  COALESCE(ref_count, CAST(0 AS BIGINT)) AS ref_count,
           |  COALESCE(cur_count, CAST(0 AS BIGINT)) AS cur_count
           |FROM rc FULL OUTER JOIN cc ON rc.bucket = cc.bucket
           |ORDER BY bucket""".stripMargin,

      // embedding-decontam mirror: SRP buckets on BOTH tables from the
      // same sign-matrix literal, benchmark-side skew cap, bucket probe
      // join + exact cosine, then arg-max benchmark match per vector.
      // q_embed_decontam_idx runs the identical semantics through the
      // on-disk bucketed index, so it shares this mirror verbatim (mapped
      // right after the Map literal).
      "q_embed_decontam" ->
        s"""WITH s AS (SELECT $srpSigns4 AS m),
           |bench AS (
           |  SELECT vec_id, [x * CAST(1.0005 AS REAL) for x in embedding] AS embedding
           |  FROM embeddings WHERE vec_id % 23 = 5),
           |bb AS (SELECT vec_id, embedding, ${srpBucketSql("embedding")} AS bucket
           |       FROM bench, s),
           |ok AS (SELECT bucket FROM bb GROUP BY bucket HAVING COUNT(*) <= 512),
           |pb AS (SELECT bb.* FROM bb JOIN ok USING (bucket)),
           |cb AS (SELECT vec_id, embedding, ${srpBucketSql("embedding")} AS bucket
           |       FROM embeddings, s),
           |hits AS (
           |  SELECT q.vec_id AS id_a, c.vec_id AS id_b,
           |    ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) AS sim
           |  FROM cb q JOIN pb c ON q.bucket = c.bucket, $cosineLateral
           |  WHERE ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) >= 0.99),
           |best AS (SELECT id_a, id_b, sim FROM hits
           |         QUALIFY ROW_NUMBER() OVER (PARTITION BY id_a
           |           ORDER BY sim DESC, id_b ASC) = 1)
           |SELECT b.id_a AS vec_id, b.id_b AS bench_id, b.sim, a.n_bench
           |FROM best b JOIN (SELECT id_a, COUNT(*) AS n_bench
           |                  FROM hits GROUP BY id_a) a USING (id_a)
           |ORDER BY vec_id""".stripMargin,

      "q_registry_verdicts" ->
        """SELECT doc_id,
          |  CASE WHEN doc_id % 2 = 0 THEN 'titleish' ELSE 'numericid' END AS schema_name,
          |  CASE WHEN doc_id % 2 = 0
          |       THEN text IS NOT NULL
          |            AND len(substr(text, 1, CAST(doc_id % 30 + 10 AS INTEGER))) <= 24
          |       ELSE regexp_matches(CAST(doc_id AS VARCHAR), '^[0-9]+$') END AS valid
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_media_meta" ->
        """WITH cat AS (
          |  SELECT 'm-' || CAST(i AS VARCHAR) AS media_ref, i * 1024 + 64 AS bytes
          |  FROM range(0, 200) t(i))
          |SELECT CASE WHEN bytes % 3 = 0 THEN 'image/png'
          |            WHEN bytes % 3 = 1 THEN 'audio/wav'
          |            ELSE 'video/mp4' END AS mime,
          |  COUNT(*) AS n, CAST(SUM(bytes) AS BIGINT) AS total_bytes
          |FROM cat GROUP BY 1 ORDER BY 1""".stripMargin,

      // The oracle recomputes expected metadata AND the decoded-content
      // feature vector from the construction formulas (MediaOps.pngDims /
      // wavFrames / videoDims, pixel/PCM/content-byte formulas) while the
      // Spark side actually DECODES the payload bytes (javax.imageio / RIFF
      // / GFTV) — a genuine independent check of the decode stage down to
      // the content values, not just the headers. REAL casts mirror the
      // engine's float feature components so 6dp rounding agrees.
      "q_media_features" ->
        """WITH cat AS (
          |  SELECT i, i * 1024 + 64 AS bytes, 'm-' || CAST(i AS VARCHAR) AS media_ref
          |  FROM range(0, 200) t(i)),
          |dims AS (
          |  SELECT i, media_ref,
          |    CASE WHEN bytes % 3 = 0 THEN 'image/png'
          |         WHEN bytes % 3 = 1 THEN 'audio/wav'
          |         ELSE 'video/mp4' END AS mime,
          |    8 + i % 24 AS pw, 8 + (i * 7) % 24 AS ph,
          |    32 + i % 64 AS nsamp,
          |    16 + (i * 3) % 48 AS vw, 16 + (i * 5) % 48 AS vh, 1 + i % 30 AS vf
          |  FROM cat),
          |feat AS (
          |  SELECT *,
          |    [CAST((CASE
          |       WHEN mime = 'image/png' THEN ((f % pw) * 31 + ((f * 3) % ph) * 17 + i * 7919) % 256
          |       WHEN mime = 'audio/wav' THEN ((i * 31 + ((f * 5) % nsamp) * 7) % 32768) % 256
          |       ELSE CAST('0x' || substr(md5(media_ref), 2 * ((f * 3) % 16) + 1, 2) AS INTEGER)
          |     END + 1 + f) / 300.0 AS REAL)
          |     for f in range(0, 8)] AS fv
          |  FROM dims)
          |SELECT media_ref, mime,
          |  CAST(CASE WHEN mime = 'image/png' THEN pw WHEN mime = 'audio/wav' THEN 0 ELSE vw END AS INTEGER) AS width,
          |  CAST(CASE WHEN mime = 'image/png' THEN ph WHEN mime = 'audio/wav' THEN 0 ELSE vh END AS INTEGER) AS height,
          |  CAST(CASE WHEN mime = 'image/png' THEN 1 WHEN mime = 'audio/wav' THEN nsamp ELSE vf END AS INTEGER) AS frames,
          |  ROUND(
          |    list_sum([CAST(fv[f + 1] AS DOUBLE) * CAST(CAST(1.0 / (f + 1) AS REAL) AS DOUBLE) for f in range(0, 8)]) /
          |    (sqrt(list_sum([CAST(fv[f + 1] AS DOUBLE) * CAST(fv[f + 1] AS DOUBLE) for f in range(0, 8)])) *
          |     sqrt(list_sum([CAST(CAST(1.0 / (f + 1) AS REAL) AS DOUBLE) * CAST(CAST(1.0 / (f + 1) AS REAL) AS DOUBLE) for f in range(0, 8)]))), 6) AS ref_sim
          |FROM feat ORDER BY media_ref""".stripMargin,

      // resize mirror: scale = min(1, 16/max(w,h)) over the PNG construction
      // dims; floor() matches the engine's toInt truncation; non-images pass
      // through their decoded dims untouched
      "q_media_resize" ->
        """WITH cat AS (
          |  SELECT i, i * 1024 + 64 AS bytes, 'm-' || CAST(i AS VARCHAR) AS media_ref
          |  FROM range(0, 200) t(i)),
          |dims AS (
          |  SELECT media_ref,
          |    CASE WHEN bytes % 3 = 0 THEN 'image/png'
          |         WHEN bytes % 3 = 1 THEN 'audio/wav'
          |         ELSE 'video/mp4' END AS mime,
          |    CASE WHEN bytes % 3 = 0 THEN 8 + i % 24
          |         WHEN bytes % 3 = 1 THEN 0
          |         ELSE 16 + (i * 3) % 48 END AS w,
          |    CASE WHEN bytes % 3 = 0 THEN 8 + (i * 7) % 24
          |         WHEN bytes % 3 = 1 THEN 0
          |         ELSE 16 + (i * 5) % 48 END AS h
          |  FROM cat)
          |SELECT media_ref, mime,
          |  CAST(CASE WHEN mime = 'image/png'
          |    THEN GREATEST(1, FLOOR(w * LEAST(1.0, 16.0 / GREATEST(w, h))))
          |    ELSE w END AS INTEGER) AS width,
          |  CAST(CASE WHEN mime = 'image/png'
          |    THEN GREATEST(1, FLOOR(h * LEAST(1.0, 16.0 / GREATEST(w, h))))
          |    ELSE h END AS INTEGER) AS height
          |FROM dims ORDER BY media_ref""".stripMargin,

      // ---- training-data pipeline assembly mirrors ----
      // split mirror: same md5+splitmix bucket (HashSql) mod 10,000, same
      // cumulative-weight CASE (Pipeline.splitCaseSql)
      "q_split_assign" ->
        s"""WITH b AS (SELECT doc_id,
           |    ${HashSql.bucket("'split:' || CAST(doc_id AS VARCHAR)", 42, 10000)} AS bucket
           |  FROM documents)
           |SELECT doc_id, bucket, ${Pipeline.splitCaseSql("bucket")} AS split
           |FROM b ORDER BY doc_id""".stripMargin,

      // mixture mirror: same 1e6-bucket hash, per-source rate thresholds
      // computed by the SAME Scala double arithmetic the engine casts
      "q_mixture_sample" ->
        s"""WITH b AS (SELECT doc_id, source, lang,
           |    ${HashSql.bucket("'mix:' || CAST(doc_id AS VARCHAR)", 7, 1000000)} AS mb
           |  FROM documents)
           |SELECT doc_id, source, lang FROM b
           |WHERE mb < CASE WHEN source = 'src0' THEN ${(0.25 * 1000000.0).toLong}
           |                WHEN source = 'src1' THEN ${(0.0 * 1000000.0).toLong}
           |                ELSE ${(0.8 * 1000000.0).toLong} END
           |ORDER BY doc_id""".stripMargin,

      // decontamination mirror: normalized word 6-grams (whole-doc gram when
      // shorter), hashed with the engine's seed-7 hash, joined against the
      // distinct benchmark gram set
      "q_decontam_overlap" -> decontamOracle,

      // the Bloom-prefiltered variant is exact by construction (false
      // positives die in the verifying join) → the IDENTICAL oracle
      "q_decontam_bloom" -> decontamOracle,

      // fuzzy-decontamination mirror: the full cross-table LSH chain —
      // minhash signatures and band keys on BOTH sides, the benchmark-side
      // skew cap, the (band, bucket) probe join, exact-Jaccard verify —
      // then per contaminated doc the arg-max benchmark match (ties →
      // smallest bench_id) and the distinct-match count
      "q_decontam_fuzzy" -> {
        val shingleHash = HashSql.hash64SeedVar("t", "j")
        val bandSigs = s"[${HashSql.toUnsigned("g[b * 4 + r + 1]")} for r in range(0, 4)]"
        def lshCtes(src: String, tag: String): String =
          s"""w$tag AS (SELECT id, string_split_regex(trim(COALESCE(text, '')), '\\s+') AS w FROM $src),
             |sh$tag AS (SELECT id,
             |  CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
             |       ELSE list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) END AS s
             |  FROM w$tag),
             |sig$tag AS (SELECT id, [list_min([$shingleHash for t in s]) for j in range(0, 16)] AS g FROM sh$tag),
             |bnd$tag AS (SELECT id, b, ${HashSql.bandKey("b", bandSigs)} AS bucket
             |            FROM sig$tag, range(0, 4) r(b))""".stripMargin
        s"""WITH corpus AS (SELECT doc_id AS id, text FROM documents),
           |bench AS (SELECT doc_id AS id, text || ' extra trailing words appended' AS text
           |          FROM documents WHERE doc_id % 37 = 3),
           |${lshCtes("corpus", "c")},
           |${lshCtes("bench", "x")},
           |okx AS (SELECT b, bucket FROM bndx GROUP BY 1, 2 HAVING COUNT(*) <= 64),
           |prx AS (SELECT bndx.* FROM bndx JOIN okx USING (b, bucket)),
           |cand AS (SELECT DISTINCT c.id AS doc_id, p.id AS bench_id
           |         FROM bndc c JOIN prx p ON c.b = p.b AND c.bucket = p.bucket),
           |ver AS (SELECT doc_id, bench_id,
           |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
           |    len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
           |  FROM cand JOIN shc sa ON sa.id = doc_id JOIN shx sb ON sb.id = bench_id),
           |hits AS (SELECT * FROM ver WHERE jaccard >= 0.5),
           |best AS (SELECT doc_id, bench_id, jaccard FROM hits
           |         QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
           |           ORDER BY jaccard DESC, bench_id ASC) = 1)
           |SELECT b.doc_id, b.bench_id, ROUND(b.jaccard, 6) AS jaccard, a.n_bench
           |FROM best b JOIN (SELECT doc_id, COUNT(DISTINCT bench_id) AS n_bench
           |                  FROM hits GROUP BY doc_id) a USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },

      // packing mirror: the engine's two-phase (bucket offsets + per-bucket
      // window) exclusive prefix-sum equals ONE global window ordered
      // (bucket, hash, id) — the oracle computes that global form directly
      "q_pack_chunks" ->
        s"""WITH t AS (SELECT doc_id,
           |    CAST(len(regexp_extract_all(COALESCE(text, ''),
           |      '${TextOps.bpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS toks
           |  FROM documents),
           |h AS (SELECT doc_id, toks,
           |    ${HashSql.hash64("'pack:' || CAST(doc_id AS VARCHAR)", 0)} AS hv,
           |    ${HashSql.bucket("'pack:' || CAST(doc_id AS VARCHAR)", 0, 32)} AS bucket
           |  FROM t),
           |c AS (SELECT doc_id, toks,
           |    CAST(COALESCE(SUM(toks) OVER (ORDER BY bucket, hv, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
           |  FROM h)
           |SELECT doc_id, toks, start_off,
           |  start_off // 512 AS first_seq,
           |  (start_off + GREATEST(toks, 1) - 1) // 512 AS last_seq,
           |  ((start_off + GREATEST(toks, 1) - 1) // 512) - (start_off // 512) + 1 AS n_seqs
           |FROM c ORDER BY doc_id""".stripMargin,

      // substring-dedup mirror: positional 20-token-window hashes (struct
      // comprehension + unnest), global dup-hash set with the same skew cap,
      // coverage = union cardinality of [p, p+20) ranges per doc
      "q_dup_spans" -> {
        val gramHash = HashSql.hash64("array_to_string(ts[i:i+19], ' ')", 11)
        s"""WITH $twinsCorpus,
           |cl AS (SELECT id, trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')) AS cl FROM corpus),
           |tok AS (SELECT id, CASE WHEN cl = '' THEN CAST([] AS VARCHAR[]) ELSE string_split(cl, ' ') END AS ts FROM cl),
           |w AS (SELECT id, len(ts) AS n,
           |    unnest([{'p': i - 1, 'h': $gramHash} for i in range(1, len(ts) - 18)]) AS u
           |  FROM tok WHERE len(ts) >= 20),
           |occ AS (SELECT id, n, u.p AS pos, u.h AS h FROM w),
           |dh AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) > 1 AND COUNT(*) <= 10000),
           |d AS (SELECT occ.* FROM occ JOIN dh USING (h)),
           |agg AS (SELECT id, n, COUNT(*) AS nw, list(pos) AS ps FROM d GROUP BY 1, 2),
           |cov AS (SELECT id, n, nw,
           |    len(list_distinct(flatten([range(p, least(p + 20, n)) for p in ps]))) AS ct
           |  FROM agg)
           |SELECT id AS doc_id, CAST(n AS INTEGER) AS n_tokens, CAST(nw AS INTEGER) AS n_dup_windows,
           |  CAST(ct AS INTEGER) AS dup_tokens, CAST(ct AS DOUBLE) / n AS dup_frac
           |FROM cov ORDER BY doc_id""".stripMargin
      },

      // scrub mirror: same positional window hashes, canonical occurrence =
      // lexicographic min [id, pos] per duplicated hash (Spark's
      // min(struct(id, pos)) ≡ DuckDB's min over a two-element list), then
      // the kept text is rebuilt by a comprehension skipping covered
      // positions
      "q_scrub_spans" -> {
        val gramHash = HashSql.hash64("array_to_string(ts[i:i+19], ' ')", 11)
        s"""WITH $twinsCorpus,
           |cl AS (SELECT id, trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')) AS cl FROM corpus),
           |tok AS (SELECT id, CASE WHEN cl = '' THEN CAST([] AS VARCHAR[]) ELSE string_split(cl, ' ') END AS ts FROM cl),
           |w AS (SELECT id,
           |    unnest([{'p': i - 1, 'h': $gramHash} for i in range(1, len(ts) - 18)]) AS u
           |  FROM tok WHERE len(ts) >= 20),
           |occ AS (SELECT id, u.p AS pos, u.h AS h FROM w),
           |dh AS (SELECT h, min([id, pos]) AS keep FROM occ
           |       GROUP BY h HAVING COUNT(*) > 1 AND COUNT(*) <= 10000),
           |rem AS (SELECT occ.id, occ.pos FROM occ JOIN dh USING (h)
           |        WHERE NOT (occ.id = dh.keep[1] AND occ.pos = dh.keep[2])),
           |ps AS (SELECT id, list(pos) AS ps FROM rem GROUP BY id),
           |cov AS (SELECT tok.id, len(ts) AS n, ts,
           |    COALESCE([x for x in list_distinct(flatten([range(p, least(p + 20, len(ts))) for p in ps.ps]))], CAST([] AS BIGINT[])) AS cv
           |  FROM tok LEFT JOIN ps ON ps.id = tok.id)
           |SELECT id AS doc_id, CAST(n AS INTEGER) AS n_tokens,
           |  CAST(len(cv) AS INTEGER) AS dup_tokens,
           |  COALESCE(array_to_string([ts[i] for i in range(1, n + 1) if NOT list_contains(cv, i - 1)], ' '), '') AS kept_text
           |FROM cov ORDER BY doc_id""".stripMargin
      },

      // end-to-end curation mirror: the quality rule chain, then the
      // keep-best canonicalization over the kept set, then the split CASE —
      // every stage reuses the fragment already proven by its own query
      "q_curate_assign" -> {
        val splitBucket = HashSql.bucket("'split:' || CAST(doc_id AS VARCHAR)", 0, 10000)
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT -999, repeat('buy now ', 30)
           |  UNION ALL SELECT -doc_id - 1000000, text FROM documents WHERE doc_id % 40 = 0),
           |$qualityRulesCtes,
           |kept AS (SELECT c.doc_id, c.text FROM corpus c
           |         JOIN rules ru ON ru.doc_id = c.doc_id WHERE ru.reasons = ''),
           |${scoreCtes("kept")},
           |w AS (SELECT f, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY f ORDER BY score DESC, doc_id ASC) AS rn
           |  FROM qsc),
           |canon AS (SELECT doc_id FROM w WHERE rn = 1),
           |b AS (SELECT doc_id, $splitBucket AS bucket FROM canon)
           |SELECT doc_id, bucket, ${Pipeline.splitCaseSql("bucket")} AS split
           |FROM b ORDER BY doc_id""".stripMargin
      },

      // curation packing mirror: the global-window form of packChunks over
      // the curated train split
      "q_curate_packed" -> {
        val splitBucket = HashSql.bucket("'split:' || CAST(doc_id AS VARCHAR)", 0, 10000)
        val packH = HashSql.hash64("'pack:' || CAST(doc_id AS VARCHAR)", 0)
        val packB = HashSql.bucket("'pack:' || CAST(doc_id AS VARCHAR)", 0, 32)
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT -999, repeat('buy now ', 30)
           |  UNION ALL SELECT -doc_id - 1000000, text FROM documents WHERE doc_id % 40 = 0),
           |$qualityRulesCtes,
           |kept AS (SELECT c.doc_id, c.text FROM corpus c
           |         JOIN rules ru ON ru.doc_id = c.doc_id WHERE ru.reasons = ''),
           |${scoreCtes("kept")},
           |w AS (SELECT f, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY f ORDER BY score DESC, doc_id ASC) AS rn
           |  FROM qsc),
           |canon AS (SELECT k.doc_id, k.text FROM kept k
           |          JOIN w ON w.doc_id = k.doc_id AND w.rn = 1),
           |train AS (SELECT doc_id, text FROM canon
           |          WHERE ${Pipeline.splitCaseSql(s"($splitBucket)")} = 'train'),
           |tk AS (SELECT doc_id,
           |    CAST(len(regexp_extract_all(COALESCE(text, ''),
           |      '${TextOps.bpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS toks
           |  FROM train),
           |h AS (SELECT doc_id, toks, $packH AS hv, $packB AS bucket FROM tk),
           |c AS (SELECT doc_id, toks,
           |    CAST(COALESCE(SUM(toks) OVER (ORDER BY bucket, hv, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
           |  FROM h)
           |SELECT doc_id, toks, start_off,
           |  start_off // 512 AS first_seq,
           |  (start_off + GREATEST(toks, 1) - 1) // 512 AS last_seq,
           |  ((start_off + GREATEST(toks, 1) - 1) // 512) - (start_off // 512) + 1 AS n_seqs
           |FROM c ORDER BY doc_id""".stripMargin
      },

      // incremental-dedup mirror: same fingerprint, min-id batch dedup,
      // NOT EXISTS anti-join against the existing snapshot's fingerprints
      "q_dedup_incremental" ->
        """WITH d AS (SELECT doc_id, text FROM documents),
          |existing AS (SELECT doc_id, text FROM d WHERE doc_id % 3 = 0),
          |newbatch AS (
          |  SELECT doc_id, text FROM d WHERE doc_id % 3 <> 0
          |  UNION ALL SELECT -doc_id - 5000, text FROM existing WHERE doc_id % 9 = 0
          |  UNION ALL SELECT -doc_id - 7000, text FROM d WHERE doc_id % 3 = 1),
          |nf AS (SELECT md5(lower(regexp_replace(trim(COALESCE(text, '')), '\s+', ' ', 'g'))) AS f,
          |         MIN(doc_id) AS doc_id
          |       FROM newbatch GROUP BY 1),
          |ef AS (SELECT DISTINCT md5(lower(regexp_replace(trim(COALESCE(text, '')), '\s+', ' ', 'g'))) AS f
          |       FROM existing)
          |SELECT doc_id, f FROM nf WHERE f NOT IN (SELECT f FROM ef)
          |ORDER BY doc_id""".stripMargin,

      // keep-best mirror: the window formulation of the engine's
      // max_by(id, (score, -id)) aggregate — identical winners
      "q_dedup_keepbest" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT -doc_id - 1000000, text FROM documents WHERE doc_id % 40 = 0),
           |${scoreCtes("corpus")},
           |w AS (SELECT f, doc_id, score,
           |    ROW_NUMBER() OVER (PARTITION BY f ORDER BY score DESC, doc_id ASC) AS rn,
           |    COUNT(*) OVER (PARTITION BY f) AS n_members,
           |    MAX(score) OVER (PARTITION BY f) AS best
           |  FROM qsc)
           |SELECT f, doc_id AS keep_id, CAST(n_members AS BIGINT) AS n_members,
           |  ROUND(best, 6) AS best_score
           |FROM w WHERE rn = 1 ORDER BY f""".stripMargin,

      // quantization mirror: identical scale / half-up floor rounding /
      // sequential RMSE accumulation in DuckDB list comprehensions
      "q_embed_quantize" ->
        """WITH q AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |    COALESCE(list_max([abs(x) for x in v]), 0.0) / 127.0 AS scale FROM q),
          |c AS (SELECT vec_id, scale, v,
          |    CASE WHEN scale = 0 THEN [CAST(0 AS INTEGER) for x in v]
          |         ELSE [CAST(GREATEST(-127, LEAST(127, CAST(floor(x / scale + 0.5) AS INTEGER))) AS INTEGER) for x in v]
          |    END AS codes
          |  FROM s)
          |SELECT vec_id, ROUND(scale, 6) AS scale,
          |  md5(array_to_string(codes, ',')) AS codes_fp,
          |  ROUND(CASE WHEN len(v) = 0 THEN 0.0
          |       ELSE sqrt(list_sum([(v[i] - codes[i] * scale) * (v[i] - codes[i] * scale)
          |                           for i in range(1, len(v) + 1)]) / len(v)) END, 6) AS rmse
          |FROM c ORDER BY vec_id""".stripMargin,

      // chunking mirror: struct-comprehension windows over the normalized
      // token list, step 24 = size 32 − overlap 8, inclusive-end slices
      "q_text_chunks" ->
        """WITH cl AS (SELECT doc_id, trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g')) AS cl FROM documents),
          |tok AS (SELECT doc_id, string_split(cl, ' ') AS ts FROM cl WHERE cl <> ''),
          |ch AS (SELECT doc_id,
          |    unnest([{'k': k, 's': k * 24,
          |             'nt': LEAST(32, len(ts) - k * 24),
          |             'txt': array_to_string(ts[k * 24 + 1 : k * 24 + 32], ' ')}
          |            for k in range(0, (len(ts) - 1) // 24 + 1)]) AS u
          |  FROM tok)
          |SELECT doc_id, CAST(u.k AS INTEGER) AS chunk, CAST(u.s AS INTEGER) AS start_tok,
          |  CAST(u.nt AS INTEGER) AS n_toks, u.txt AS chunk_text
          |FROM ch ORDER BY doc_id, chunk""".stripMargin,

      // chunk-dup mirror: the chunk windows over the twins corpus, md5 of
      // each chunk text, repeated-fingerprint groups
      "q_chunk_dups" ->
        s"""WITH $twinsCorpus,
           |cl AS (SELECT id, trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')) AS cl FROM corpus),
           |tok AS (SELECT id, string_split(cl, ' ') AS ts FROM cl WHERE cl <> ''),
           |ch AS (SELECT id,
           |    unnest([array_to_string(ts[k * 24 + 1 : k * 24 + 32], ' ')
           |            for k in range(0, (len(ts) - 1) // 24 + 1)]) AS txt
           |  FROM tok)
           |SELECT md5(txt) AS chunk_fp, COUNT(*) AS n_chunks,
           |  COUNT(DISTINCT id) AS n_docs
           |FROM ch GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""".stripMargin,

      // corpus-card mirror: same tokenization + fingerprint expressions,
      // plain SQL aggregation
      "q_corpus_stats" ->
        """WITH t AS (SELECT source, lang,
          |    CAST(CASE WHEN text IS NULL OR len(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS toks,
          |    md5(lower(regexp_replace(trim(COALESCE(text, '')), '\s+', ' ', 'g'))) AS f
          |  FROM documents)
          |SELECT source, lang, COUNT(*) AS n_docs,
          |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
          |  COUNT(DISTINCT f) AS distinct_docs
          |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // percentile mirror: quantile_cont uses the same p*(n-1) linear
      // interpolation as Spark's exact percentile
      "q_token_percentiles" ->
        s"""WITH t AS (SELECT source,
           |    CAST(len(regexp_extract_all(COALESCE(text, ''),
           |      '${TextOps.bpeTokenPattern.replace("'", "''")}')) AS DOUBLE) AS t
           |  FROM documents)
           |SELECT source,
           |  ROUND(quantile_cont(t, 0.5), 6) AS p50,
           |  ROUND(quantile_cont(t, 0.9), 6) AS p90,
           |  ROUND(quantile_cont(t, 0.99), 6) AS p99
           |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

      // PII mirror: identical RE2∩Java-dialect patterns, counts via
      // regexp_extract_all, global-flag replace chain in the same order
      "q_pii_scrub" -> {
        val em = TextOps.emailPattern.replace("'", "''")
        val ph = TextOps.phonePattern
        val ip = TextOps.ipv4Pattern
        s"""WITH corpus AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT -998,
           |    'contact john.doe@example.com or a.b@c.io, call 555-123-4567, host 192.168.1.100'),
           |t AS (SELECT doc_id, COALESCE(text, '') AS x FROM corpus)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(x, '$em')) AS INTEGER) AS n_emails,
           |  CAST(len(regexp_extract_all(x, '$ph')) AS INTEGER) AS n_phones,
           |  CAST(len(regexp_extract_all(x, '$ip')) AS INTEGER) AS n_ips,
           |  regexp_replace(regexp_replace(regexp_replace(x,
           |    '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS redacted
           |FROM t ORDER BY doc_id""".stripMargin
      },

      // repetition mirror: per-doc n-gram frequency tables via unnest+group
      // (the oracle may shuffle n-grams; the engine counts doc-locally)
      "q_text_repetition" ->
        """WITH corpus AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT -999, repeat('buy now ', 30)),
          |cl AS (SELECT doc_id, trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g')) AS cl FROM corpus),
          |tok AS (SELECT doc_id, CASE WHEN cl = '' THEN CAST([] AS VARCHAR[]) ELSE string_split(cl, ' ') END AS ts FROM cl),
          |base AS (SELECT doc_id, len(ts) AS n,
          |    CASE WHEN len(ts) = 0 THEN 0.0 ELSE CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) END AS distinct_ratio
          |  FROM tok),
          |bi AS (SELECT doc_id, unnest([array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))]) AS g
          |  FROM tok WHERE len(ts) >= 2),
          |bic AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
          |btop AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac FROM bic GROUP BY 1),
          |tri AS (SELECT doc_id, unnest([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]) AS g
          |  FROM tok WHERE len(ts) >= 3),
          |tric AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2),
          |tdup AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup_trigram_frac FROM tric GROUP BY 1)
          |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens, b.distinct_ratio,
          |  COALESCE(btop.top_bigram_frac, 0.0) AS top_bigram_frac,
          |  COALESCE(tdup.dup_trigram_frac, 0.0) AS dup_trigram_frac
          |FROM base b LEFT JOIN btop USING (doc_id) LEFT JOIN tdup USING (doc_id)
          |ORDER BY doc_id""".stripMargin,

      // quality-filter mirror: ratio/language/repetition inputs recomputed
      // as in the q_text_quality / q_lang_id / q_text_repetition mirrors,
      // folded through the same rule thresholds and concat_ws reasons
      "q_quality_filter" ->
        s"""WITH corpus AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT -999, repeat('buy now ', 30)),
           |$qualityRulesCtes
           |SELECT doc_id, CAST(tok AS INTEGER) AS tokens, reasons, (reasons = '') AS keep
           |FROM rules ORDER BY doc_id""".stripMargin,

      // perplexity mirror: reference bigram pairs via LAG over zipped
      // token positions, add-one transition probabilities recomputed with
      // context counts summed from the bigram counts, per-doc mean via
      // the same LEFT-JOIN smoothing for unseen bigrams/contexts
      "q_lm_perplexity" -> {
        val bkt = HashSql.bucket("'lm:' || tok", 29, 128)
        s"""WITH raw AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT -doc_id - 9000, 'win big casino jackpot now free spins bonus'
           |  FROM documents WHERE doc_id % 11 = 0),
           |rt AS (SELECT doc_id, string_split(trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ') AS ts
           |  FROM documents WHERE lang = 'en'),
           |rtok AS (SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts) + 1)) AS pos FROM rt),
           |rb AS (SELECT doc_id, pos, $bkt AS b FROM rtok WHERE tok <> ''),
           |rpair AS (SELECT prev, b AS cur FROM
           |    (SELECT doc_id, pos, b, LAG(b) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM rb)
           |  WHERE prev IS NOT NULL),
           |c2 AS (SELECT prev, cur, COUNT(*) AS c FROM rpair GROUP BY 1, 2),
           |c1 AS (SELECT prev, SUM(c) AS c FROM c2 GROUP BY 1),
           |dt AS (SELECT doc_id, string_split(trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ') AS ts
           |  FROM raw),
           |dtok AS (SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts) + 1)) AS pos FROM dt),
           |db AS (SELECT doc_id, pos, $bkt AS b FROM dtok WHERE tok <> ''),
           |dpair AS (SELECT doc_id, prev, b AS cur FROM
           |    (SELECT doc_id, pos, b, LAG(b) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM db)
           |  WHERE prev IS NOT NULL),
           |terms AS (SELECT d.doc_id,
           |    ln((COALESCE(c2.c, 0) + 1.0) / (COALESCE(c1.c, 0) + 128)) AS t
           |  FROM dpair d LEFT JOIN c2 ON c2.prev = d.prev AND c2.cur = d.cur
           |               LEFT JOIN c1 ON c1.prev = d.prev),
           |w AS (SELECT doc_id, COUNT(*) AS np, SUM(t) AS s FROM terms GROUP BY 1),
           |n AS (SELECT doc_id, COUNT(*) AS n_toks FROM db GROUP BY 1)
           |SELECT w.doc_id, CAST(n.n_toks AS BIGINT) AS n_toks,
           |  ROUND(exp(-w.s / w.np), 6) AS ppl, (exp(-w.s / w.np) <= 150.0) AS keep
           |FROM w JOIN n USING (doc_id) ORDER BY doc_id""".stripMargin
      },

      // heavy-hitters exact-regime mirror: with every distinct token
      // retained, the sketch equals the plain count table with a zero bound
      "q_heavy_hitters" ->
        s"""WITH tok0 AS (SELECT unnest(string_split(trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ')) AS key
           |  FROM documents)
           |SELECT key, CAST(COUNT(*) AS BIGINT) AS est_count,
           |  CAST(0 AS BIGINT) AS max_underestimate
           |FROM tok0 WHERE key <> '' GROUP BY key
           |ORDER BY est_count DESC, key""".stripMargin,

      // heavy-hitters guarantee-regime mirror: the oracle recomputes the
      // skewed stream and the exact counts; the MG contract says both
      // booleans are TRUE for every key above the n/(capacity+1) threshold
      "q_heavy_hitters_bound" ->
        s"""WITH keys AS (
           |  SELECT 'hot' || CAST(doc_id % 20 AS VARCHAR) AS key
           |    FROM documents, range(20) WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT 'cold' || CAST(doc_id AS VARCHAR) FROM documents WHERE doc_id % 10 <> 0),
           |c AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS exact_count FROM keys GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n FROM keys)
           |SELECT key, exact_count, TRUE AS present, TRUE AS within_bound
           |FROM c, n WHERE exact_count > n // 9 ORDER BY key""".stripMargin,

      // per-source-cap mirror: the two-phase salted selection is exactly
      // the plain per-source top-k, so the oracle is the single window
      "q_source_caps" ->
        s"""SELECT doc_id, source, n_chars, src_rank FROM (
           |  SELECT doc_id, source, n_chars,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS src_rank
           |  FROM documents) t
           |WHERE src_rank <= 7 ORDER BY doc_id""".stripMargin,

      // line-scrub mirror: the same boilerplate injection, lines split on
      // chr(10) with zipped positions, the frequent set counted over
      // DISTINCT (normalized-line md5, doc) pairs, and the kept text
      // re-joined in line order (string_agg skips the NULLs of removed
      // lines exactly as concat-after-transform skips them engine-side)
      "q_line_scrub" ->
        s"""WITH corpus AS (SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter!' || chr(10) || text || chr(10) || 'Copyright Example  Corp ALL rights reserved'
           |         WHEN doc_id % 3 = 1 THEN text || chr(10) || 'copyright example corp all rights reserved'
           |         ELSE text END AS text
           |  FROM documents),
           |l0 AS (SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls FROM corpus),
           |lines AS (SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos FROM l0),
           |n AS (SELECT doc_id, pos, line,
           |    md5(lower(regexp_replace(trim(line), '\\s+', ' ', 'g'))) AS fp
           |  FROM lines),
           |f AS (SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM n WHERE trim(line) <> '')
           |      GROUP BY fp HAVING COUNT(*) >= 50),
           |fl AS (SELECT n.doc_id, n.pos, n.line, (f.fp IS NOT NULL) AS freq
           |       FROM n LEFT JOIN f ON f.fp = n.fp)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
           |  CAST(SUM(CASE WHEN freq THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           |  COALESCE(string_agg(CASE WHEN NOT freq THEN line END, chr(10) ORDER BY pos), '') AS kept_text
           |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // importance-resampling mirror: every stage recomputed — token
      // bucketing via the HashSql hash64 mirror, add-one-smoothed bin
      // marginals for the target (lang = 'en') and raw corpora, the
      // per-doc Σ c·ln-ratio weight, and the logistic acceptance against
      // the salted id-hash draw (compared on the UNROUNDED weight, as the
      // engine does)
      "q_importance_weights" ->
        s"""WITH raw AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT -doc_id - 9000, 'win big casino jackpot now free spins bonus'
           |  FROM documents WHERE doc_id % 11 = 0),
           |ttok0 AS (SELECT doc_id,
           |    unnest(string_split(trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ')) AS tok
           |  FROM documents WHERE lang = 'en'),
           |tok0 AS (SELECT doc_id,
           |    unnest(string_split(trim(regexp_replace(lower(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ')) AS tok
           |  FROM raw),
           |tok AS (SELECT doc_id, ${HashSql.bucket("'dsir:' || tok", 13, 256)} AS b
           |  FROM tok0 WHERE tok <> ''),
           |tc AS (SELECT ${HashSql.bucket("'dsir:' || tok", 13, 256)} AS b, COUNT(*) AS c
           |  FROM ttok0 WHERE tok <> '' GROUP BY 1),
           |rc AS (SELECT b, COUNT(*) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM tc) AS tt,
           |               (SELECT COALESCE(SUM(c), 0) FROM rc) AS rt),
           |lr AS (SELECT rc.b,
           |    ln((COALESCE(tc.c, 0) + 1.0) / (tot.tt + 256)) - ln((rc.c + 1.0) / (tot.rt + 256)) AS lr
           |  FROM rc LEFT JOIN tc USING (b), tot),
           |dc AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
           |w AS (SELECT doc_id, SUM(c) AS n_toks, SUM(c * lr.lr) AS logw
           |  FROM dc JOIN lr USING (b) GROUP BY 1)
           |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks, ROUND(logw, 6) AS logw,
           |  (${HashSql.bucket("'dsir-sel:' || CAST(doc_id AS VARCHAR)", 5, 1000000)} / 1000000.0)
           |    < (1.0 / (1.0 + exp(-logw))) AS selected
           |FROM w ORDER BY doc_id""".stripMargin
    )
    // the on-disk-index path has IDENTICAL semantics and output — it shares
    // the in-memory path's mirror verbatim
    base + ("q_embed_decontam_idx" -> base("q_embed_decontam"))
  }
}
