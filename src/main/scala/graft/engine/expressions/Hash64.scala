package graft.engine.expressions

import graft.engine.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static, generated-code-callable bridge to the engine's 64-bit string
  * hash ([[Dedup.hash64]]: first 8 MD5 bytes big-endian + seed·golden,
  * splitmix64 finalizer — the family every LSH/split/sample op uses and
  * [[graft.engine.HashSql]] mirrors in DuckDB). Hashes the UTF8String's
  * bytes directly (UTF8String holds UTF-8, the same bytes
  * `String.getBytes("UTF-8")` yields) through the engine's one thread-local
  * MessageDigest, so the codegen'd hot loop allocates no digest per row. */
object Hash64Bridge {
  def hash(s: UTF8String, seed: Int): Long =
    Dedup.mix64(Dedup.md5Base(s.getBytes) + seed * Dedup.golden)

  def bucket(s: UTF8String, seed: Int, mod: Long): Long =
    java.lang.Long.remainderUnsigned(hash(s, seed), mod)
}

/** Native Catalyst expression for the engine's seeded 64-bit string hash.
  * `mod == 0` emits the raw signed hash; `mod > 0` emits the unsigned
  * remainder bucket (`remainderUnsigned(h, mod)`). Codegen emits a static
  * call, so the split/sample/packing pipeline stages stay inside
  * whole-stage codegen with full column pruning. It stays a native
  * expression, where the per-row text kernels are `udf` columns
  * ([[Dedup.kernel]]), because it backs the SQL function `graft_hash64`
  * (as [[SimHash64]] and [[CosineSim6]] back theirs), and a
  * deterministic expression keeps filter pushdown and constant folding
  * that a kernel column gives up. */
case class Hash64(child: Expression, seed: Int, mod: Long = 0L)
    extends UnaryExpression {
  require(mod >= 0L, "mod must be 0 (raw hash) or positive (bucket)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash64"

  override protected def nullSafeEval(s: Any): Any =
    if (mod == 0L) Hash64Bridge.hash(s.asInstanceOf[UTF8String], seed)
    else Hash64Bridge.bucket(s.asInstanceOf[UTF8String], seed, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (mod == 0L) s"graft.engine.expressions.Hash64Bridge.hash($c, $seed)"
      else s"graft.engine.expressions.Hash64Bridge.bucket($c, $seed, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Hash64 =
    copy(child = newChild)
}

object Hash64Functions {
  private def wrap(e: Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  /** Raw signed [[Dedup.hash64]] of a string column. */
  def hash64Col(col: Column, seed: Int): Column = wrap(Hash64(expr(col), seed))

  /** `remainderUnsigned(hash64(col, seed), mod)` — deterministic bucket. */
  def hashBucketCol(col: Column, seed: Int, mod: Long): Column =
    wrap(Hash64(expr(col), seed, mod))

  /** `might_contain(bloom, value)` over a LONG column, via Spark's own
    * codegen'd [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * (the expression behind AQE's injected runtime filters) with the
    * serialized `org.apache.spark.util.sketch.BloomFilter` embedded as a
    * binary literal — it ships once in the task binary and deserializes
    * lazily per executor. Used as a scan-stage semi-join reducer (see
    * `Pipeline.decontaminate`). */
  def bloomMightContainCol(bloomBytes: Array[Byte], value: Column): Column =
    wrap(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        bloomBytes, org.apache.spark.sql.types.BinaryType),
      expr(value)))
}
