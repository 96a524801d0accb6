package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression: pico-quantized squared L2 distance of two
  * FLOAT arrays — Σᵢ floor((aᵢ−bᵢ)²·1e12 + 0.5) as BIGINT — with
  * whole-stage codegen (SURVEY §4.3 preference order (b): a custom
  * `Expression` beats a UDF beats lambda folds).
  *
  * Replaces `aggregate(zip_with(a, b, (p,q) -> CAST(floor(...))))` in
  * the anchor-NN hot path: the higher-order fold evaluates its lambda
  * per element outside codegen; this compiles to a tight primitive
  * loop. Arithmetic is identical — each per-dimension term is floored
  * to a BIGINT BEFORE the sum, so the result is exact, order-free, and
  * bit-identical to DuckDB's list_transform/list_sum mirror.
  *
  * Degenerate inputs follow the fold's semantics exactly: a length
  * mismatch or a NULL array element yields NULL (the zip_with fold
  * null-pads the shorter side and `acc + NULL` poisons the sum), so
  * the expression never silently truncates or reads a null slot as a
  * raw float. Embeddings in the driver data are fixed-width and
  * non-null, so the hot path never takes the null branch.
  */
case class FloatL2Q(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_l2q expects two ARRAY<FLOAT> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  // result can be NULL even for non-null arrays (length mismatch /
  // null element), independent of child nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += math.floor(d * d * 1e12 + 0.5).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $d = (double) $x.getFloat($i) - (double) $y.getFloat($i);
         |    $acc += (long) java.lang.Math.floor($d * $d * 1e12 + 0.5);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatL2Q =
    copy(left = newLeft, right = newRight)
}
