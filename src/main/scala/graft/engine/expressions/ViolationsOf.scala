package graft.engine.expressions

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.{DataType, StructType}

/** A compiled schema's violation array, evaluated interpreted inside
  * whole-stage codegen. `lowering` is the error lowering of
  * [[graft.engine.ColumnCompiler]], already analyzed, optimized and bound
  * to the fields of the `payload` struct, so it runs on the payload row
  * itself. It is not a child: its higher-order functions (`transform`,
  * `flatten` over lambdas) are `CodegenFallback`, and as children they would
  * take the whole projection out of codegen for every row. As a field
  * they cost an interpreted walk only where this expression is evaluated,
  * which under `when(valid, [])` is the failing rows. */
case class ViolationsOf(payload: Expression, lowering: Expression) extends UnaryExpression {

  override def child: Expression = payload
  override def dataType: DataType = lowering.dataType
  override def nullable: Boolean = payload.nullable || lowering.nullable
  override def prettyName: String = "graft_violations"
  // Marked nondeterministic so no filter is pushed below the projection
  // that defines it: `size(errors) > 0`, and the `isnotnull(errors)` that
  // InferFiltersFromGenerate adds under an explode, would otherwise inline
  // this expression (and the verdict it is gated on) into a Filter and
  // evaluate both again for every row.
  override lazy val deterministic: Boolean = false
  // the plan string shows the payload only, not the lowering's lambdas
  override protected def stringArgs: Iterator[Any] = Iterator(payload)

  override protected def nullSafeEval(row: Any): Any = lowering.eval(row.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val body = ctx.addReferenceObj("violations", lowering, classOf[Expression].getName)
    val row = payload.genCode(ctx)
    val out = ctx.freshName("out")
    ev.copy(code = code"""
      ${row.code}
      Object $out = ${row.isNull} ? null : $body.eval(${row.value});
      boolean ${ev.isNull} = $out == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${ev.isNull} ? null : (${CodeGenerator.boxedType(dataType)}) $out;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ViolationsOf =
    copy(payload = newChild)
}

object ViolationsOf {

  /** `errors`, a Column over the fields of `payloadType`, as a
    * [[ViolationsOf]] over `payload` (a struct of those fields). */
  def over(spark: SparkSession, payload: Column, payloadType: StructType, errors: Column): Column = {
    // an RDD-backed frame: the optimizer cannot see it is empty, so it
    // keeps the projection
    val frame = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], payloadType)
    val lowering = frame.select(errors.as("errors")).queryExecution.optimizedPlan match {
      case Project(Seq(a: Alias), in) => BindReferences.bindReference(a.child, in.output)
      case other => throw new IllegalStateException(s"unexpected error-lowering plan:\n$other")
    }
    GraftColumnBridge.column(ViolationsOf(GraftColumnBridge.expression(payload), lowering))
  }
}
