package perfbench

import graft.engine.{DocTable, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table is a pure function of (seed, size),
  * written under the caller's directory; the engine reads only these files.
  *
  * The seed shifts the `doc_id` base handed to [[DocTable.fromBase]].
  * DocTable injects its violations from `doc_id` residues (mod 97, 101,
  * 103, ...), so over a contiguous id range the fail rates stay fixed while
  * the failing documents change with the seed. */
object Inputs {

  /** The 30-word vocabulary of the synthetic `documents` table the engine's
    * queries are written against, whose texts have 10–100 words. */
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def idBase(seed: Long): Long = Math.floorMod(seed, 1L << 20) * 10000000L

  /** Texts of the validation tables: DocTable's spans read only the first 44
    * characters of a text, so longer texts would cost generation time alone. */
  val SpanWords = 12

  /** (doc_id: long, text: string) for `n` consecutive ids from the seed's
    * base, with 10 to `maxWords` words per text. The text is a hash of
    * doc_id, so it moves with the seed too. */
  def base(spark: SparkSession, seed: Long, n: Long, partitions: Int,
      maxWords: Int = SpanWords): DataFrame = {
    val words = array(vocab.map(lit): _*)
    val id = col("doc_id")
    val nWords = (pmod(xxhash64(id, lit(-1)), lit(maxWords - 9)) + 10).cast("int")
    // one hashed pick per word slot, unrolled: a lambda would run interpreted
    val picks = (0 until maxWords).map(j =>
      element_at(words, (pmod(xxhash64(id, lit(j)), lit(vocab.size)) + 1).cast("int")))
    spark.range(0, n, 1, partitions)
      .select((col("id") + idBase(seed)).as("doc_id"))
      .select(id, array_join(slice(array(picks: _*), lit(1), nWords), " ").as("text"))
  }

  /** Write the base table; returns its path. */
  def writeBase(spark: SparkSession, seed: Long, n: Long, partitions: Int, dir: String): String = {
    val path = s"$dir/base.parquet"
    base(spark, seed, n, partitions).write.parquet(path)
    path
  }

  /** The interleaved doc table (doc_num, doc_id, spans) stored as parquet. */
  def writeDocTable(spark: SparkSession, seed: Long, n: Long, partitions: Int, dir: String): String = {
    val path = s"$dir/docs.parquet"
    DocTable.fromBase(base(spark, seed, n, partitions)).write.parquet(path)
    path
  }

  /** Lines whose doc_id hits this residue get a second copy without its
    * closing brace: a fixed share (1 in 500) of malformed JSON lines. */
  private def malformed(id: Long): Boolean = Math.floorMod(id, 500L) == 13

  def malformedLines(seed: Long, n: Long): Long = {
    val b = idBase(seed)
    (0L until n).count(i => malformed(b + i)).toLong
  }

  /** The doc table serialized as JSON lines, plus the malformed copies. */
  def writeJsonl(spark: SparkSession, seed: Long, n: Long, partitions: Int, dir: String): String = {
    val path = s"$dir/docs.jsonl"
    // the broken copy follows its document in the same file, so the files
    // stay even in size
    val json = to_json(struct(col("doc_id"), col("spans")))
    val broken = expr("substring(value, 1, length(value) - 1)")
    DocTable.fromBase(base(spark, seed, n, partitions))
      .select(col("doc_num"), json.as("value"))
      .select(explode(when(pmod(col("doc_num"), lit(500L)) === 13, array(col("value"), broken))
        .otherwise(array(col("value")))).as("value"))
      .write.text(path)
    path
  }

  /** Near-dup corpus: the base texts plus a mutated twin of every 50th doc
    * ([[TextOps.withMutatedTwins]]), with a per-doc numeric column for the
    * drift sketch. */
  def writeTwins(spark: SparkSession, seed: Long, n: Long, partitions: Int, dir: String): String = {
    val path = s"$dir/twins.parquet"
    TextOps.withMutatedTwins(base(spark, seed, n, partitions, 100), "doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .write.parquet(path)
    path
  }
}
