package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, rng}

/** Native KLL quantile sketch accuracy, mergeability (across partitions,
  * of sketch bytes, through a parquet checkpoint) and the typed
  * aggregators, against exact computations. */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def exactQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, (q * s.length).toInt)))
  }

  /** Fraction of the sorted values ≤ x. */
  private def rankOf(sorted: Array[Double], x: Double): Double = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (sorted(m) <= x) lo = m + 1 else hi = m }
    lo.toDouble / sorted.length
  }

  /** `xs` in order as column `v` (with its index `i`), cut into `parts`
    * contiguous partitions. */
  private def frame(xs: Seq[Double], parts: Int = 4): DataFrame = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(xs.zipWithIndex, parts).toDF("v", "i")
  }

  private def sketchOf(xs: Seq[Double], parts: Int = 4): QuantileSketch =
    TypedAggregators.sketchColumn(frame(xs, parts), "v")

  /** One sketch (bytes column `sk`) per group `g` of `df`. */
  private def sketchesBy(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("g")).agg(kll_sketch_agg_double(col("v"), QuantileSketch.K).as("sk"))

  /** Merge a column `sk` of sketch bytes into one sketch. */
  private def merged(sketches: DataFrame): QuantileSketch =
    new QuantileSketch(sketches.agg(kll_merge_agg_double(col("sk"))).collect()(0).getAs[Array[Byte]](0))

  test("sketch quantiles track exact quantiles on uniform data") {
    val xs = (0 until 20000).map(i => (i * 37 % 20000).toDouble)
    val sk = sketchOf(xs)
    Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99).foreach { q =>
      val approx = sk.quantile(q)
      val exact = exactQuantile(xs, q)
      assert(math.abs(approx - exact) / 20000 < 0.01,
        s"q=$q approx=$approx exact=$exact")
    }
  }

  test("merging partial sketches equals one big sketch (partition merge)") {
    val xs = (0 until 10000).map(i => math.sin(i).abs * 1000)
    val whole = sketchOf(xs, parts = 1)
    val parts = merged(sketchesBy(frame(xs), floor(col("i") / 1000)))
    Seq(0.1, 0.5, 0.9).foreach { q =>
      assert(math.abs(whole.quantile(q) - parts.quantile(q)) / 1000 < 0.02)
    }
    assert(parts.count === xs.length)
  }

  test("sketch is checkpointable (bytes round trip through parquet)") {
    val s = spark
    import s.implicits._
    val sk = sketchOf((0 until 5000).map(_.toDouble))
    val dir = java.nio.file.Files.createTempDirectory("sketch-ckpt").resolve("sk").toString
    Seq(sk.bytes).toDF("sk").write.parquet(dir)
    val back = new QuantileSketch(spark.read.parquet(dir).as[Array[Byte]].collect()(0))
    assert(back.bytes.sameElements(sk.bytes))
    assert(math.abs(back.quantile(0.5) - sk.quantile(0.5)) < 1e-9)
    assert(back.count === sk.count)
  }

  test("merging 1000 partition sketches matches the global sketch within rank error") {
    // the north-rule drift story at 10^12 rows rests on merge associativity:
    // one sketch per input split, merged up a tree. 1000 partitions is the
    // cluster shape; rank error must stay bounded through the merge fan-in.
    val n = 200000
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(n)(
      if (rnd.nextInt(20) == 0) 500 + rnd.nextGaussian() * 200 // heavy tail
      else rnd.nextDouble() * 100).toSeq
    val global = sketchOf(xs, parts = 1)
    val flat = sketchOf(xs, parts = 1000)
    assert(flat.count === n.toLong)
    val sorted = xs.toArray.sorted
    for (q <- Seq(0.01, 0.1, 0.5, 0.9, 0.99)) {
      val rf = rankOf(sorted, flat.quantile(q))
      val rg = rankOf(sorted, global.quantile(q))
      assert(math.abs(rf - q) <= 0.05, s"q=$q flat-merged rank $rf")
      assert(math.abs(rg - q) <= 0.05, s"q=$q global rank $rg")
    }
    // tree-shaped merge of the partition sketches' bytes (the real cluster
    // reduction) holds the same bound
    val perPartition = sketchesBy(frame(xs), col("i") % 1000)
    val tree = merged(perPartition.groupBy(col("g") % 32)
      .agg(kll_merge_agg_double(col("sk")).as("sk")))
    assert(tree.count === n.toLong)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val rt = rankOf(sorted, tree.quantile(q))
      assert(math.abs(rt - q) <= 0.05, s"q=$q tree-merged rank $rt")
    }
  }

  test("checkpoint/restore mid-stream, then continue: matches the uninterrupted sketch") {
    // simulated snapshot boundary: sketch half the stream, write its bytes
    // (what the checkpoint sink persists), read them back, merge with the
    // rest of the stream's sketch — quantiles must match a never-interrupted
    // sketch within rank error.
    def f(i: Int): Double = ((i.toLong * 2654435761L) % 100000L).toDouble / 100.0
    val xs = (0 until 100000).map(f)
    val uninterrupted = sketchOf(xs)
    val dir = java.nio.file.Files.createTempDirectory("sketch-ckpt").resolve("first").toString
    sketchesBy(frame(xs.take(50000)), lit(0)).select("sk").write.parquet(dir)
    val rest = sketchesBy(frame(xs.drop(50000)), lit(0)).select("sk")
    val restored = merged(spark.read.parquet(dir).unionByName(rest))
    assert(restored.count === 100000L)
    val sorted = xs.toArray.sorted
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val r = rankOf(sorted, restored.quantile(q))
      assert(math.abs(r - q) <= 0.03, s"q=$q restored rank $r")
      assert(math.abs(restored.quantile(q) - uninterrupted.quantile(q)) <=
        (sorted.last - sorted.head) * 0.02, s"q=$q restored vs uninterrupted")
    }
  }

  test("sketch KS/PSI: same distribution ~0, shifted >> 0") {
    val a = sketchOf((0 until 5000).map(i => (i % 100).toDouble))
    val b = sketchOf((0 until 5000).map(i => ((i * 7) % 100).toDouble))
    val c = sketchOf((0 until 5000).map(i => (i % 100).toDouble + 50))
    assert(QuantileSketch.ks(a, b) < 0.05)
    assert(QuantileSketch.ks(a, c) > 0.2)
    assert(QuantileSketch.psi(a, b) < 0.05)
    assert(QuantileSketch.psi(a, c) > 0.3)
  }

  test("rank error stays bounded on adversarial orders at any partitioning") {
    // the input orders that break order-sensitive sketches (sorted, reversed,
    // zoom-in, clustered bursts, heavy-tailed), each cut into contiguous
    // partitions so every partition sees the adversarial order
    val n = 50000
    val rnd = new scala.util.Random(11)
    val clusters = rnd.shuffle((0 until 50).toVector)
    val streams = Seq(
      "sorted" -> (0 until n).map(_.toDouble),
      "reversed" -> (0 until n).reverse.map(_.toDouble),
      "zoom-in" -> (0 until n).map(i => (if (i % 2 == 0) i / 2 else n - 1 - i / 2).toDouble),
      "clustered" -> clusters.flatMap(c => Seq.fill(n / 50)(c * 1000 + rnd.nextDouble())),
      "heavy-tailed" -> Seq.fill(n)(math.pow(1 - rnd.nextDouble(), -1 / 1.1)))
    for ((name, xs) <- streams; parts <- Seq(1, 7, 64)) {
      val sk = sketchOf(xs, parts)
      assert(sk.count === n.toLong, s"$name/$parts")
      val sorted = xs.toArray.sorted
      for (q <- Seq(0.01, 0.1, 0.5, 0.9, 0.99)) {
        val r = rankOf(sorted, sk.quantile(q))
        assert(math.abs(r - q) <= 0.05, s"$name over $parts partitions: q=$q rank $r")
      }
    }
  }

  test("empty, all-null and NaN values: nothing counted, NaN quantile, zero drift") {
    val s = spark
    import s.implicits._
    val some = sketchOf((0 until 100).map(_.toDouble))
    val empties = Seq(
      "empty frame" -> TypedAggregators.sketchColumn(Seq.empty[Double].toDF("v"), "v"),
      "all null" -> TypedAggregators.sketchColumn(
        Seq[Option[Double]](None, None).toDF("v"), "v"),
      "all NaN" -> sketchOf(Seq(Double.NaN, Double.NaN)))
    for ((name, e) <- empties) {
      assert(e.count === 0L, name)
      assert(e.quantile(0.5).isNaN, name)
      for ((x, y) <- Seq((e, e), (e, some), (some, e))) {
        assert(QuantileSketch.ks(x, y) === 0.0, name)
        assert(QuantileSketch.psi(x, y) === 0.0, name)
      }
    }
    // two values an ulp apart: the equal-width edges collapse
    val ulp = QuantileSketch.psi(sketchOf(Seq(1.0)), sketchOf(Seq(math.nextUp(1.0))))
    assert(ulp > 0 && !ulp.isInfinite)
    // KLL skips NaN: only the three numbers are counted
    val mixed = sketchOf(Seq(Double.NaN, 1.0, 2.0, Double.NaN, 3.0))
    assert(mixed.count === 3L)
    assert(mixed.quantile(1.0) === 3.0)
  }

  test("q_drift_sketch: a population with no non-null value gets NULL bounds and passes") {
    // 100 events; the even event_ids (population 'ref') have a null value
    val dir = java.nio.file.Files.createTempDirectory("graft-drift-empty").toString
    spark.range(100).select(col("id").as("event_id"),
        when(col("id") % 2 === 1, col("id").cast("double")).as("value"))
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.SparkEntry.queries("q_drift_sketch")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.get(2)), Option(r.get(3)), r.getBoolean(4)))
    assert(rows.toSeq.filter(_._1 == "ref") ===
      Seq("p10", "p50", "p90").map(m => ("ref", m, None, None, true)))
    // 'cur' holds 1, 3, …, 99: exact percentiles at q ± 0.05
    assert(rows.toSeq.filter(_._1 == "cur") === Seq(
      ("cur", "p10", Some(5.9), Some(15.7), true),
      ("cur", "p50", Some(45.1), Some(54.9), true),
      ("cur", "p90", Some(84.3), Some(94.1), true)))
  }

  test("typed stats aggregator matches exact column stats over Spark") {
    import spark.implicits._
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val stats = events.select(col("value").cast("double")).as[java.lang.Double]
      .select(TypedAggregators.statsAgg.toColumn).collect()(0)
    val vals = events.select("value").collect().map(_.getDouble(0))
    assert(stats.count === vals.length)
    assert(stats.min === vals.min)
    assert(stats.max === vals.max)
    assert(math.abs(stats.mean - vals.sum / vals.length) < 1e-9)
  }

  test("distributed sketch agg matches local sketch quantiles") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val distributed = TypedAggregators.sketchColumn(events, "value")
    val vals = events.select("value").collect().map(_.getDouble(0))
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val exact = exactQuantile(vals.toSeq, q)
      assert(math.abs(distributed.quantile(q) - exact) <= (vals.max - vals.min) * 0.03,
        s"q=$q got ${distributed.quantile(q)} exact $exact")
    }
  }

  test("property: sketch median within 10% rank error (scalacheck gens)") {
    val gen = Gen.listOfN(500, Gen.choose(-1e6, 1e6))
    val seed0 = rng.Seed(42L)
    (0 until 20).foldLeft(seed0) { (seed, _) =>
      val xs = gen.pureApply(Gen.Parameters.default, seed)
      val med = sketchOf(xs).quantile(0.5)
      val rank = xs.count(_ <= med).toDouble / xs.length
      assert(rank >= 0.40 && rank <= 0.60, s"median rank $rank")
      seed.next
    }
  }

  test("MG heavy hitters are EXACT when global distinct keys fit the capacity") {
    import spark.implicits._
    val keys = (0 until 5000).map(i => s"k${i % 40}")
    val df = keys.toDF("key").repartition(17)
    val hh = TypedAggregators.heavyHitters(df, "key", capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(hh.map(t => t._1 -> t._2).toMap === exact)
    assert(hh.forall(_._3 === 0L)) // no decrement ever fired
    // physical layout cannot change an exact sketch's output
    val again = TypedAggregators.heavyHitters(keys.toDF("key").repartition(3),
      "key", capacity = 64).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === hh.toSeq)
  }

  test("MG guarantees hold on skewed data at any partitioning: no overestimate, bounded underestimate, heavy keys present") {
    import spark.implicits._
    // zipf-ish: key j appears ~N/j times — few heavy keys, long singleton tail
    val keys = (1 to 400).flatMap(j => Seq.fill(2000 / j)(s"z$j"))
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = keys.size.toLong
    for (parts <- Seq(1, 13, 200)) {
      val hh = TypedAggregators.heavyHitters(
        keys.toDF("key").repartition(parts), "key", capacity = 8)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(hh.nonEmpty && hh.length <= 8, s"parts=$parts size=${hh.length}")
      val bound = hh.head._3
      assert(bound <= n / 9, s"parts=$parts bound=$bound > n/(cap+1)")
      hh.foreach { case (k, est, _) =>
        assert(est <= exact(k), s"parts=$parts overestimated $k")
        assert(exact(k) - est <= bound, s"parts=$parts $k outside bound")
      }
      // any key with true count above the reported bound MUST be present
      val present = hh.map(_._1).toSet
      exact.foreach { case (k, c) =>
        if (c > bound) assert(present(k), s"parts=$parts heavy $k missing (c=$c, bound=$bound)")
      }
    }
  }
}
