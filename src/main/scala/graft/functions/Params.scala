package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Per-call numbers for generated code, without a new class per value.
  *
  * Whole-stage codegen writes a `lit(double)` into the Java source it
  * compiles, so a value that changes from call to call (an annealing
  * round's candidates, a fit's coefficients) compiles a new class every
  * time, and those classes crowd the working set out of Spark's
  * compiled-class cache. `Params.of(v0, v1, …)(j)` reads element j of an
  * array handed to the compiled class by reference instead: one class
  * serves every call with the same plan shape. */
object Params {
  def of(values: Double*): Column = GraftColumnBridge.column(ParamArray(values.toArray))
}

/** An array<double> parameter, passed to generated code by reference.
  * Unlike an array literal it is not constant-folded, which would turn
  * `p(j)` back into an inlined double, and its hash does not depend on
  * the values: subexpression elimination orders its candidates by hash,
  * so a value-dependent hash renames generated variables and so changes
  * the source. Two parameters are equal only when they are the same
  * array. */
case class ParamArray(values: Array[Double]) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def eval(input: InternalRow): Any = new GenericArrayData(values)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("params", eval(null), classOf[ArrayData].getName)
    ExprCode.forNonNullValue(JavaCode.global(ref, dataType))
  }
  override def equals(other: Any): Boolean = other match {
    case p: ParamArray => p.values eq values
    case _ => false
  }
  override def hashCode(): Int = values.length
  override def toString: String = values.mkString("params(", ", ", ")")
}
