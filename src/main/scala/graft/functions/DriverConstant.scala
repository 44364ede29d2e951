package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A driver-side constant of any catalyst type (an index's centroid table,
  * a PQ codebook) entering a plan through a broadcast variable: the
  * [[DriverScalar]] idea for values too large to inline. A task carries
  * the broadcast's reference, not the value, and each executor fetches
  * the value once per broadcast; generated code reads it from the plan's
  * reference array, so a new value of the same type compiles no new
  * class. `value` holds the catalyst (internal) form of `dataType`.
  *
  * Not foldable (constant folding would inline it as a literal);
  * deterministic.
  */
case class DriverConstant(value: Broadcast[Any], dataType: DataType)
    extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "driver_constant"
  override def sql: String = s"driver_constant(broadcast ${value.id})"
  override def toString: String = sql

  override def eval(input: InternalRow): Any = value.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("driverConstant", value,
      classOf[Broadcast[_]].getName)
    val boxed = CodeGenerator.boxedType(dataType)
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      code"($boxed) $ref.value();", isNull = FalseLiteral)
  }
}
