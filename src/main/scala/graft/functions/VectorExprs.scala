package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression for the vector hot path (SURVEY §4.3).
  *
  * Why a custom Expression (the §4.3 trigger, met in round 2): the two
  * built-in ways to compute a 64-dim dot product both lose —
  *  - `aggregate(zip_with(...))` higher-order functions are interpreted
  *    (a lambda call + boxing per element, ~6x slower per row), and
  *  - an unrolled `e[0]*c[0] + ... + e[63]*c[63]` tree is whole-stage
  *    codegen'd but costs ~10 CPU-s of driver-side Janino COMPILE per
  *    distinct plan, which dominates a run-once query and serializes on
  *    the driver.
  * `graft_dot` generates a constant-size tight loop over the two
  * ArrayData buffers: small generated code (compiles in milliseconds),
  * full whole-stage-codegen fusion, no per-element lambda dispatch.
  *
  * Precondition (documented, matches the fixtures): array elements are
  * non-null doubles; lengths may differ — the shorter length wins.
  * Fold order is ascending index, so results are bit-identical to both
  * the HOF form and DuckDB's list functions.
  */
case class ArrayDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Prefix dot product: `graft_dot_pre(a, b, n)` = the ArrayDot fold
  * over the first `n` elements (min with both lengths — so it equals
  * `graft_dot(slice(a,1,n), slice(b,1,n))` bit-for-bit, without the
  * two per-row array copies a slice pays). Added r16 for the
  * Matryoshka prefix-truncation kernel (§4.3 class). `n` must be a
  * non-null int/long expression (typically a literal). */
case class ArrayDotPrefix(left: Expression, right: Expression,
    len: Expression) extends TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = len

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val lenOk = len.dataType == IntegerType || len.dataType == LongType
    if (ok(left.dataType) && ok(right.dataType) && lenOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot_pre expects (array<double>, array<double>, int), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql}, " +
        s"${len.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_pre"

  override protected def nullSafeEval(a: Any, b: Any, l: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val k = l match {
      case i: java.lang.Integer => i.intValue
      case j: java.lang.Long => j.intValue
    }
    val n = math.min(math.min(x.numElements(), y.numElements()), k)
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, l) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min(
         |  java.lang.Math.min($x.numElements(), $y.numElements()),
         |  (int) $l);
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, len = newThird)
}

/** Floor-quantized int8 score sum (r17, guide §4): `graft_q127_sum(a)`
  * = Σ_i floor(a[i]·127.0) as bigint — the Pipeline12.scored kernel
  * that eight eval/calibration queries share. Replaces the interpreted
  * `aggregate(transform(a, x -> cast(floor(x*127.0) as bigint)), 0L,
  * (acc, x) -> acc + x)` HOF pair (two lambda dispatches + boxing per
  * element). Fold order is ascending index and every term is
  * `(long) Math.floor(x * 127.0)` — bit-identical to the HOF form
  * (floor has no half-way tie; VectorExprsSpec-class pin lives in
  * TextExprsSpec's sibling suite). Null/NaN-free input per fixture
  * contract (same as graft_dot). */
case class ArrayQ127Sum(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_q127_sum expects array<double>, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_q127_sum"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(x.getDouble(i) * 127.0).toLong; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $x.numElements();
         |long ${ev.value}Acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += (long) java.lang.Math.floor($x.getDouble($i) * 127.0D);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
