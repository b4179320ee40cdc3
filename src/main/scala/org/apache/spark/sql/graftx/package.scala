/** Bridge package: lives under org.apache.spark.sql so it can use the
  * `private[sql]` pieces of the classic Catalyst surface (Column ↔
  * Expression conversion, AbstractDataType, StructType.asNullable).
  * Everything engine-specific stays in the `graft` packages; only the raw
  * Catalyst expression and the three converters live here.
  */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType,
  StructType}

package object graftx {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `s` with every field nullable, recursively: the schema Spark reads a
    * Parquet file back with.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}

package graftx {

  /** float32-vector dot product, whole-stage-codegen friendly.
    *
    * The one hot scalar in the engine (KNN similarity joins, fact scoring,
    * DPR — reference src/hipporag/utils/embed_utils.py:53,
    * HippoRAG.py:1459,1496 all reduce to `np.dot` over unit vectors).
    * A Scala UDF would box both arrays per row; this expression reads the
    * ArrayData buffers directly and accumulates in double precision.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType, containsNull = false), ArrayType(FloatType, containsNull = false))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }
}
