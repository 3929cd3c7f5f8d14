package graft.engine

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** A KLL quantile sketch (Karnin, Lang & Liberty), read from the compact
  * bytes Spark's native `kll_sketch_agg_double` / `kll_merge_agg_double`
  * produce. The bytes are the whole state: they merge across partitions
  * and snapshots (`kll_merge_agg_double`) and checkpoint as a plain binary
  * column. KLL's rank-error bound holds whatever the input or merge
  * order: at k = [[QuantileSketch.K]] the normalized rank error is ≤ 1.33%
  * with 99% confidence.
  *
  * Nulls and NaNs are not counted (KLL skips NaN on update), so `count` is
  * the number of non-null, non-NaN values. An empty sketch has `count` 0
  * and `quantile` NaN. */
final class QuantileSketch(val bytes: Array[Byte]) {
  private val kll: KllDoublesSketch = KllDoublesSketch.heapify(Memory.wrap(bytes))

  def count: Long = kll.getN

  /** The retained item at normalized rank `q` ∈ [0, 1]; NaN when empty. */
  def quantile(q: Double): Double = if (kll.isEmpty) Double.NaN else kll.getQuantile(q)
}

object QuantileSketch {
  /** KLL accuracy parameter: Spark's default. */
  val K = 200

  /** Two-sample KS statistic over two sketches: the largest rank gap at
    * both sketches' retained items (driver-side, tiny). 0 when either is
    * empty. */
  def ks(a: QuantileSketch, b: QuantileSketch): Double = {
    if (a.kll.isEmpty || b.kll.isEmpty) return 0.0
    val points = (a.kll.getSortedView.getQuantiles ++ b.kll.getSortedView.getQuantiles).distinct.sorted
    val ra = a.kll.getCDF(points); val rb = b.kll.getCDF(points)
    points.indices.map(i => math.abs(ra(i) - rb(i))).max
  }

  /** PSI over two sketches using `bins` equal-width bins spanning both. 0
    * when either is empty. */
  def psi(a: QuantileSketch, b: QuantileSketch, bins: Int = 10, alpha: Double = 0.5): Double = {
    if (a.kll.isEmpty || b.kll.isEmpty) return 0.0
    val lo = math.min(a.kll.getMinItem, b.kll.getMinItem)
    val hi = math.max(a.kll.getMaxItem, b.kll.getMaxItem)
    if (hi <= lo) return 0.0
    // inner edges, strictly increasing as getCDF requires (they collapse
    // when hi − lo is a few ulps); its last entry is 1.0, so the bins cover
    // every value
    val edges = (1 until bins).map(i => lo + (hi - lo) * i / bins).distinct.toArray
    def counts(s: QuantileSketch): Seq[Long] = {
      val cdf = s.kll.getCDF(edges)
      cdf.indices.map(i => ((cdf(i) - (if (i == 0) 0.0 else cdf(i - 1))) * s.count).round)
    }
    Drift.psi(counts(a), counts(b), alpha)
  }
}

/** Misra-Gries heavy-hitters sketch: at most `capacity` (key, count)
  * entries, one pass, mergeable — the scale answer to "top domains / top
  * tokens over 10^12 rows" when a full groupBy-count shuffle of the key
  * space is unaffordable. Estimates never overestimate, and the total
  * decrement `maxUnderestimate` (≤ processed/(capacity+1)) bounds the
  * underestimate exactly, so any key with true count above that bound is
  * GUARANTEED present — both properties hold under arbitrary partition
  * merge order (Agarwal et al.'s pointwise-sum-then-trim merge) and are
  * what the bound-check oracle asserts. When the global distinct-key count
  * is ≤ capacity no decrement ever fires and the sketch is EXACT — that
  * regime gets a plain value-equality oracle. */
final class MGSketch(
    val capacity: Int,
    val counts: scala.collection.mutable.HashMap[String, Long],
    var processed: Long,
    var decremented: Long) extends Serializable {

  def this(capacity: Int) =
    this(capacity, scala.collection.mutable.HashMap.empty, 0L, 0L)

  def insert(x: String): MGSketch = {
    processed += 1
    counts.get(x) match {
      case Some(c) => counts.update(x, c + 1)
      case None if counts.size < capacity => counts.update(x, 1L)
      case None =>
        // classic MG decrement round: the arriving key and `capacity`
        // stored keys each shed one count — ≤ processed/(capacity+1) rounds
        // can ever happen, which is exactly the underestimate bound
        decremented += 1
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        counts.foreach { case (k, c) =>
          if (c == 1L) dead += k else counts.update(k, c - 1) }
        dead.foreach(counts.remove)
    }
    this
  }

  /** Pointwise-sum merge, trimmed back to `capacity` entries by subtracting
    * the (capacity+1)-largest combined count from everything (the merge
    * that preserves the MG error bound under any merge tree). */
  def merge(other: MGSketch): MGSketch = {
    other.counts.foreach { case (k, c) =>
      counts.update(k, counts.getOrElse(k, 0L) + c) }
    processed += other.processed
    decremented += other.decremented
    if (counts.size > capacity) {
      val cut = counts.values.toArray.sorted(Ordering[Long].reverse)(capacity)
      decremented += cut
      val dead = scala.collection.mutable.ArrayBuffer.empty[String]
      counts.foreach { case (k, c) =>
        if (c <= cut) dead += k else counts.update(k, c - cut) }
      dead.foreach(counts.remove)
    }
    this
  }

  /** Exact worst-case underestimate of any key's count (0 ⇒ sketch exact). */
  def maxUnderestimate: Long = decremented
}

/** Typed Aggregators (north rule: "streaming stats via typed Aggregators"):
  * per-column stats and the heavy-hitters sketch, both usable as
  * `Dataset.select(agg.toColumn)` or registered column functions, plus the
  * native quantile sketch of a column. */
object TypedAggregators {

  final case class Stats(
      count: Long, nulls: Long, min: Double, max: Double, sum: Double) {
    def mean: Double = if (count - nulls == 0) Double.NaN else sum / (count - nulls)
    def nullRate: Double = if (count == 0) 0.0 else nulls.toDouble / count
  }

  /** Single-pass count/null/min/max/sum over a nullable numeric column. */
  val statsAgg: Aggregator[java.lang.Double, Stats, Stats] =
    new Aggregator[java.lang.Double, Stats, Stats] {
      def zero: Stats = Stats(0, 0, Double.PositiveInfinity, Double.NegativeInfinity, 0.0)
      def reduce(b: Stats, x: java.lang.Double): Stats =
        if (x == null) b.copy(count = b.count + 1, nulls = b.nulls + 1)
        else Stats(b.count + 1, b.nulls,
          math.min(b.min, x), math.max(b.max, x), b.sum + x)
      def merge(a: Stats, b: Stats): Stats =
        Stats(a.count + b.count, a.nulls + b.nulls,
          math.min(a.min, b.min), math.max(a.max, b.max), a.sum + b.sum)
      def finish(r: Stats): Stats = r
      def bufferEncoder: Encoder[Stats] = Encoders.product[Stats]
      def outputEncoder: Encoder[Stats] = Encoders.product[Stats]
    }

  /** Sketch a column of `df`: one `kll_sketch_agg_double` pass, partial
    * sketches merged across partitions. */
  def sketchColumn(df: DataFrame, valueCol: String): QuantileSketch =
    new QuantileSketch(df.agg(kll_sketch_agg_double(col(valueCol).cast("double"), QuantileSketch.K))
      .collect()(0).getAs[Array[Byte]](0))

  /** Misra-Gries heavy-hitters aggregator (buffer via Kryo, mergeable across
    * partitions and snapshots). */
  def heavyHittersAgg(capacity: Int): Aggregator[String, MGSketch, MGSketch] =
    new Aggregator[String, MGSketch, MGSketch] {
      def zero: MGSketch = new MGSketch(capacity)
      def reduce(b: MGSketch, x: String): MGSketch =
        if (x == null) b else b.insert(x)
      def merge(a: MGSketch, b: MGSketch): MGSketch = a.merge(b)
      def finish(r: MGSketch): MGSketch = r
      def bufferEncoder: Encoder[MGSketch] = Encoders.kryo[MGSketch]
      def outputEncoder: Encoder[MGSketch] = Encoders.kryo[MGSketch]
    }

  /** Heavy-hitter keys of a column in ONE partial-aggregable pass — no
    * groupBy shuffle of the key space, ≤ `capacity` result rows (driver-
    * bounded by construction, the IVF-centroid discipline). Output per key:
    * (key, est_count, max_underestimate) with est ≤ true ≤ est +
    * max_underestimate; max_underestimate = 0 means the sketch is exact
    * (no decrement ever fired — guaranteed when global distinct ≤
    * capacity). */
  def heavyHitters(df: DataFrame, keyCol: String, capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(capacity > 0, "capacity must be positive")
    val sk = df.select(col(keyCol).cast("string")).na.drop().as[String]
      .select(heavyHittersAgg(capacity).toColumn)
      .collect()(0)
    sk.counts.toSeq.sortBy { case (k, c) => (-c, k) }
      .map { case (k, c) => (k, c, sk.maxUnderestimate) }
      .toDF("key", "est_count", "max_underestimate")
  }
}
