package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines, all
  * expressed as codegen-friendly Column trees over the `documents` table:
  * token counting, quality scoring, language ID (stopword heuristic), and
  * document fingerprinting. Every expression has an exact SQL mirror so the
  * DuckDB oracle can check it.
  */
object TextOps {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** Character-class ratios + a composite quality score in [0,1].
    * All ratios are computed over the raw character length. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val len = length(text).cast(DoubleType)
    // regexp_replace strips NON-matching chars: ratio of kept = 1 - stripped
    def classRatio(cls: String): Column =
      when(len === 0, 0.0)
        .otherwise((len - length(regexp_replace(text, cls, "")).cast(DoubleType)) / len)
    val alpha = classRatio("[A-Za-z]")
    val digit = classRatio("[0-9]")
    val punct = classRatio("[.,;:!?'\"()\\[\\]-]")
    val space = classRatio("[ ]")
    val tokens = tokenCount(text).cast(DoubleType)
    val meanWordLen = when(tokens === 0, 0.0)
      .otherwise((len - (tokens - 1).cast(DoubleType)) / tokens)
    // composite: alphabetic, reasonably punctuated, mid-length words
    val score =
      greatest(lit(0.0), least(lit(1.0),
        alpha * 0.6 + space * 0.8 + (lit(1.0) - digit) * 0.2 - punct * 0.3))
    Seq(
      "alpha_ratio" -> alpha, "digit_ratio" -> digit, "punct_ratio" -> punct,
      "space_ratio" -> space, "mean_word_len" -> meanWordLen,
      "quality_score" -> score)
  }

  /** Stopword markers per candidate language, scored by hit count in
    * [[langIdFromPadded]]. Deterministic, SQL-mirrorable n-gram (word)
    * heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " to ", " in "),
    "de" -> Seq(" der ", " und ", " die ", " das ", " nicht "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des "),
    "es" -> Seq(" el ", " que ", " los ", " una ", " por "))

  /** Language ID over an ALREADY lowercased, space-padded text column.
    * Callers that batch several text signals into one projection should
    * materialize the padded column once and pass it here — the 20 marker
    * `contains` otherwise each re-lower and re-concat the text, and
    * whole-stage codegen's subexpression elimination does NOT reliably
    * rescue that (measured 10× on a cached typed-projection input). */
  def langIdFromPadded(padded: Column): Column = {
    // argmax by hit count, ties broken by candidate order (en>de>fr>es)
    val scored = langMarkers.map { case (lang, ms) =>
      (lang, ms.map(m => when(padded.contains(m), 1).otherwise(0)).reduce(_ + _))
    }
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    when(best._2 === 0, lit("unknown")).otherwise(best._1)
  }

  def langId(text: Column): Column =
    langIdFromPadded(concat(lit(" "), lower(text), lit(" ")))

  /** BPE-style pre-tokenizer pattern (GPT-2 shape, simplified): contraction
    * suffixes, space-prefixed letter runs, digit runs, symbol runs, and
    * whitespace runs. Deliberately lookahead-free so Java regex (Spark) and
    * RE2 (the DuckDB oracle) agree; ordered alternation puts contractions
    * before the symbol run so `don't` counts as [don]['t]. */
  val bpeTokenPattern: String =
    "'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** Token count under the BPE-style pre-tokenizer — the "how many LLM-ish
    * tokens is this corpus" estimator (whitespace tokenCount undercounts
    * punctuation-heavy text). Pure codegen `regexp_count`. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpeTokenPattern))

  /** PII patterns, deliberately in the RE2 ∩ java.util.regex dialect (no
    * lookaround, no possessives) so the engine and the DuckDB oracle match
    * byte-for-byte: conservative email, NNN-NNN-NNNN phone, dotted-quad IP. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII detection + redaction columns for a scrub pass: per-class match
    * counts plus the text with every match replaced by a class placeholder.
    * Pure codegen `regexp_count`/`regexp_replace` trees — a narrow map at
    * any scale. Emails are redacted first; the placeholders contain no
    * digits, so later classes can't partially match inside them. */
  def piiColumns(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailPattern)),
    "n_phones" -> regexp_count(text, lit(phonePattern)),
    "n_ips" -> regexp_count(text, lit(ipv4Pattern)),
    "redacted" ->
      regexp_replace(
        regexp_replace(
          regexp_replace(text, emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>"),
        ipv4Pattern, "<IP>"))

  /** Canonical document fingerprint: md5 of whitespace-normalized lowercase
    * text — the exact-dedup key (md5 exists in both Spark and DuckDB). */
  def fingerprint(text: Column): Column =
    md5(to_binary(lower(regexp_replace(trim(text), "\\s+", " ")), lit("utf-8")))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): rolling
    * polynomial hash over character k-grams, keep the minimum hash of each
    * sliding window (rightmost-min tie-break). Robust to insertions — two
    * documents sharing long runs share fingerprints — the classic
    * plagiarism/near-dup signature. Returns (id, fingerprints: array<long>)
    * from one kernel column; at corpus scale the fingerprints explode into
    * an inverted index (fingerprint → ids) exactly like the minhash band
    * join. */
  def winnowingFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 16): DataFrame = {
    val fingerprints = Dedup.kernel("winnow",
      udf((t: String) => winnow(normalize(t), k, window)))
    // a null id raises, and the id stays non-nullable, so the candidate
    // self-join downstream carries no `isnotnull` filters on it
    docs.select(nonNull(col(idCol).cast(LongType), s"- winnowing id $idCol").as("id"),
      fingerprints(coalesce(col(textCol), lit(""))).as("fingerprints"))
  }

  /** `c`, non-nullable: a null raises (NOT_NULL_ASSERT_VIOLATION naming
    * `what`), as a typed stage's primitive field does. */
  private def nonNull(c: Column, what: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
      GraftColumnBridge.expression(c), Seq(what)))
  }

  /** Lowercased, whitespace-collapsed, trimmed text — the one normal form
    * of the doc-local token kernels. */
  private[engine] def normalize(text: String): String =
    text.toLowerCase.replaceAll("\\s+", " ").trim

  /** Tokens of already [[normalize]]d text; empty text has none. */
  private[engine] def splitNormalized(text: String): Array[String] =
    if (text.isEmpty) Array.empty else text.split(" ")

  /** Whitespace tokens of [[normalize]]d text. */
  private[engine] def normTokens(text: String): Array[String] =
    splitNormalized(normalize(text))

  private[engine] def winnow(text: String, k: Int, window: Int): Seq[Long] = {
    if (text.length < k) {
      if (text.isEmpty) Seq.empty else Seq(rollHash(text, 0, text.length))
    } else {
      val n = text.length - k + 1
      val hashes = new Array[Long](n)
      var i = 0
      while (i < n) { hashes(i) = rollHash(text, i, k); i += 1 }
      // minimum per window, rightmost on ties; dedup consecutive picks
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      var w = 0
      val wins = math.max(1, n - window + 1)
      while (w < wins) {
        var best = w
        var j = w
        val end = math.min(w + window, n)
        while (j < end) { if (hashes(j) <= hashes(best)) best = j; j += 1 }
        out += hashes(best)
        w += 1
      }
      out.toSeq
    }
  }

  private def rollHash(s: String, from: Int, len: Int): Long = {
    var h = 0L
    var i = from
    val end = from + len
    while (i < end) { h = h * 1000003L + s.charAt(i); i += 1 }
    h ^ (h >>> 33)
  }

  /** Gopher-style repetition signals, per doc: type-token ratio, the
    * fraction of bigram occurrences taken by the most frequent bigram, and
    * the fraction of trigram occurrences whose trigram repeats — the
    * standard "is this doc degenerate boilerplate" filters. One narrow
    * kernel column (per-doc local counting, no explode/shuffle — at 10^12
    * docs an explode-and-groupBy formulation would shuffle every n-gram
    * occurrence in the corpus). Output: (doc_id, n_tokens, distinct_ratio,
    * top_bigram_frac, dup_trigram_frac). */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val signals = Dedup.kernel("repetition", udf { (t: String) =>
      val tokens = normTokens(t)
      val n = tokens.length
      val distinctRatio = if (n == 0) 0.0 else tokens.distinct.length.toDouble / n
      (n.toLong, distinctRatio, gramStats(tokens, 2)._1, gramStats(tokens, 3)._2)
    })
    docs.select(col(idCol).cast(LongType).as("doc_id"),
        signals(coalesce(col(textCol), lit(""))).as("r"))
      .select(col("doc_id"), col("r._1").as("n_tokens"), col("r._2").as("distinct_ratio"),
        col("r._3").as("top_bigram_frac"), col("r._4").as("dup_trigram_frac"))
  }

  /** (top-n-gram fraction, duplicate-n-gram fraction) over a token array —
    * the doc-local counting core of [[repetitionSignals]], shared with
    * [[Pipeline.qualityFilter]]'s single-pass variant. */
  private[engine] def gramStats(tokens: Array[String], g: Int): (Double, Double) = {
    val total = tokens.length - g + 1
    if (total <= 0) (0.0, 0.0)
    else {
      val counts = new java.util.HashMap[String, Int]()
      var i = 0
      while (i <= tokens.length - g) {
        val gram = tokens.slice(i, i + g).mkString(" ")
        counts.merge(gram, 1, Integer.sum)
        i += 1
      }
      var top = 0; var dup = 0
      counts.values.forEach { c =>
        if (c > top) top = c
        if (c > 1) dup += c
      }
      (top.toDouble / total, dup.toDouble / total)
    }
  }

  /** Normalized-token top-bigram fraction of one document (doc-local). */
  private[graft] def topBigramFrac(text: String): Double =
    gramStats(normTokens(text), 2)._1

  /** Sliding-window document chunking — the training/RAG prep step that
    * splits long docs into `size`-token windows overlapping by `overlap`
    * tokens. Windows start every `size - overlap` tokens over the
    * whitespace-normalized token stream; the final window may be shorter;
    * empty docs emit no chunks. One narrow kernel column exploded per chunk
    * — each chunk row carries its token offset so downstream spans are
    * reconstructible.
    * Output: (doc_id, chunk, start_tok, n_toks, chunk_text). */
  def chunkDocs(
      docs: DataFrame, idCol: String, textCol: String,
      size: Int = 128, overlap: Int = 16): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need 0 <= overlap < size")
    val step = size - overlap
    val chunks = Dedup.kernel("chunks", udf { (t: String) =>
      val tokens = normTokens(t)
      (0 until (tokens.length + step - 1) / step).map { k =>
        val slice = tokens.slice(k * step, k * step + size)
        (k * step, slice.length, slice.mkString(" "))
      }
    })
    docs.select(col(idCol).cast(LongType).as("doc_id"),
        chunks(coalesce(col(textCol), lit(""))).as("cs"))
      .select(col("doc_id"), posexplode(col("cs")).as(Seq("chunk", "c")))
      .select(col("doc_id"), col("chunk"), col("c._1").as("start_tok"),
        col("c._2").as("n_toks"), col("c._3").as("chunk_text"))
  }

  /** Exact near-dup corpus for tests/benches: every doc whose id hits the
    * dup rate gets a mutated twin, so near-dup detection has known answers. */
  def withMutatedTwins(docs: DataFrame, idCol: String, textCol: String, rate: Int = 50): DataFrame = {
    val twins = docs
      .where(col(idCol) % rate === 0)
      .withColumn(idCol, -col(idCol) - 1) // twin ids are negative
      .withColumn(textCol, concat(col(textCol), lit(" extra trailing words appended")))
    docs.unionByName(twins)
  }
}
