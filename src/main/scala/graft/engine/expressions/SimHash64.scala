package graft.engine.expressions

import graft.engine.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static, generated-code-callable 64-bit SimHash over whitespace tokens —
  * the exact semantics of [[Dedup.simhashFrame]]'s signature loop (per-token
  * `hash64(token, 0)` = splitmix64 over the md5 base, 64 up/down bit
  * counters, sign → bit). The engine's one thread-local MessageDigest
  * ([[Dedup.md5Base]]) serves the whole hot loop, so codegen'd evaluation
  * allocates only the token array. */
object SimHash64Bridge {
  def simhash(s: UTF8String): Long = simhashString(s.toString)

  def simhashString(text: String): Long = {
    val tokens = text.trim.split("\\s+")
    val counters = new Array[Int](64)
    var ti = 0
    while (ti < tokens.length) {
      val hv = Dedup.hash64(tokens(ti), 0)
      var j = 0
      while (j < 64) {
        if (((hv >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
        j += 1
      }
      ti += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (counters(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }
}

/** Native Catalyst expression for the 64-bit SimHash signature. The naive
  * Column formulation (64 `aggregate` higher-order calls per row) is
  * CodegenFallback — ~100× slower interpreted lambdas; this expression
  * emits one static call inside whole-stage codegen instead, so the public
  * `Dedup.simhash64` API and the SQL surface (`graft_simhash64`) run at the
  * same speed as the production signature stage. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(s: Any): Any =
    SimHash64Bridge.simhash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.engine.expressions.SimHash64Bridge.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
