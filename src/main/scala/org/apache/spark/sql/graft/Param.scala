package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graft.GraftKernel.column
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A per-query double constant kept out of the generated code. Spark
  * writes a double `Literal` into the Java source of the projection that
  * uses it, so two queries that differ only in a filter value compile two
  * classes; this leaf is read from the projection's reference array
  * instead, and such queries share one compiled class. It is not
  * foldable, so constant folding cannot turn it back into an inlined
  * literal. Equality is by value bits ([[ValueEquality]]): −0.0 and 0.0
  * stay distinct under subexpression elimination. */
case class Param(value: Double) extends LeafExpression with ValueEquality {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_param"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val box = ctx.addReferenceObj("param", java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$box.doubleValue()", DoubleType))
  }
}

object Param {
  def param(v: Double): Column = column(Param(v))
}
