package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** A per-write constant (a micro-batch's offset base, a write instant,
  * a TTL cutoff) that generated code reads BY REFERENCE instead of
  * inlining as a Java literal.
  *
  * A `lit(v)` that changes every micro-batch changes the generated
  * source too, so whole-stage codegen misses its compile cache and
  * Janino recompiles the same plan on every trigger — once on the
  * planning thread and once in the task. This node's `doGenCode` goes
  * through `ctx.addReferenceObj` (the idiom of the kernels in
  * `HashExpressions`), so the source is identical for every value and
  * the compiled class is reused; only the `references` array differs.
  *
  * Non-foldable on purpose: constant folding would turn it back into a
  * literal. The price is that a comparison against it is not pushed
  * into a parquet scan as a row-group filter. `dataType` is a
  * long-backed type: `LongType`, or `TimestampType` (micros). */
final case class BoundLong(value: Long, dataType: DataType) extends LeafExpression {
  require(dataType == LongType || dataType == TimestampType,
    s"BoundLong holds a long-backed value, not ${dataType.simpleString}")

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "bound_long"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bound", this, classOf[BoundLong].getName)
    ev.copy(code = code"final long ${ev.value} = $self.value();", isNull = FalseLiteral)
  }
}

object BoundLong {
  /** Column API: a bigint bound by reference. */
  def long(v: Long): Column = GraftSqlBridge.column(BoundLong(v, LongType))

  /** Column API: a timestamp bound by reference, from epoch micros. */
  def timestampMicros(micros: Long): Column =
    GraftSqlBridge.column(BoundLong(micros, TimestampType))
}
