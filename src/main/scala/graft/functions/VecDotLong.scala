package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact int64 dot product of two long-array columns — the hot inner loop
  * of the vector-similarity operators (Similarity, Dedup d04).
  *
  * A native Catalyst expression with whole-stage codegen: the generated
  * code is a tight primitive loop over the two ArrayData buffers, ~100×
  * faster than the equivalent interpreted higher-order-function tree
  * `aggregate(zip_with(a, b, ...), ...)` it replaces (which Spark cannot
  * codegen: lambda-bearing expressions fall back to interpreted eval on
  * every row).
  *
  * Overflow: quantized embeddings (|q| ≤ ~10^4) over dims ≤ 10^5 stay far
  * below 2^63; arithmetic is exact, so results are bit-identical across
  * engines and partitionings.
  */
case class VecDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  // both children must be array<bigint>; callers (quantize helpers)
  // guarantee this, so no ExpectsInputTypes coercion layer is needed
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true // containsNull irrelevant
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotLong =
    copy(left = newLeft, right = newRight)
}
