package graft.engine

import org.apache.spark.sql.SparkSession

/** Engine-wide SparkSession tuning. `graft.Main`, `graft.CurateMain` and the
  * shared test session build through [[tune]], so a future knob lands in ONE
  * place. The frozen `graft.Bench` / `graft.Verify` and the `perfbench`
  * harness set the same key by hand from [[hugeMethodLimit]].
  *
  * Current tuning: `spark.sql.codegen.hugeMethodLimit` capped at HotSpot's
  * `DontCompileHugeMethods` threshold (8000 bytecodes). A fused whole-stage-
  * codegen method past it NEVER JIT-compiles and runs interpreted for the
  * JVM's lifetime — measured as a 10× cliff on a filter that inlined the
  * ~200-node quality rule tree into its predicate, with an audit of every
  * shipped query plan (BASELINE.md round 5). Past the cap Spark falls back
  * to the un-fused path, which stays JIT-hot — strictly better, since >8000
  * never JITs anyway. */
object GraftSession {
  /** HotSpot's DontCompileHugeMethods threshold, in bytecodes. */
  val hugeMethodLimit = 8000

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.hugeMethodLimit", hugeMethodLimit)
}
