package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A double computed on the driver, entering a plan as a constant that
  * generated code reads from the plan's reference array instead of
  * inlining it. A driver loop that feeds a fresh scalar into every round
  * (a dangling mass, an L1 normaliser) therefore generates the same code
  * in every round and compiles its classes once; a `Literal` would be
  * inlined and compile new classes each round.
  *
  * Not foldable, so the optimizer keeps it out of constant folding (which
  * would turn it back into an inlined literal); deterministic.
  */
case class DriverScalar(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "driver_scalar"
  override def sql: String = s"driver_scalar($value)"
  override def toString: String = s"driver_scalar($value)"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("driverScalar", java.lang.Double.valueOf(value),
      "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();",
      isNull = FalseLiteral)
  }
}
