package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A `Long` constant that the generated code reads from the plan's
  * reference array instead of inlining it. Spark writes a literal's value
  * into the Java source, so a value that changes every epoch (the probe's
  * `epoch < batchId`, the append's `epoch` stamp) makes every epoch compile
  * new classes; with this expression the source is the same for every
  * value and one compiled class serves them all.
  *
  * Not foldable, so the optimizer keeps it as is. The price: a comparison
  * against it is not pushed into the parquet reader as a filter. */
case class LongParam(value: Long) extends LeafExpression {
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
  override def prettyName: String = "param"
}

object LongParam {
  def column(value: Long): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(LongParam(value))
}
