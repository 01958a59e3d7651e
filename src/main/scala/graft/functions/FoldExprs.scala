package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

/** Deterministic ordered double sum (r17, VERDICT r16 task 5 — the
  * shared native ordered-fold): `graft_sorted_sum(arr)` over an
  * `array<struct<..., x: double>>` sorts the structs ascending by the
  * struct's natural (field-by-field) ordering — exactly
  * `array_sort`'s default comparator for null-free input — and sums
  * the LAST field in that order. Bit-identical to the repo's
  * `aggregate(array_sort(collect_list(struct(k..., x))), 0D,
  * (a, e) -> a + e.x)` determinism pattern, without the two
  * interpreted higher-order functions (a comparator-lambda dispatch
  * per comparison plus a fold-lambda dispatch + boxing per element).
  * The hot sites (q_text_perplexity's per-doc transition fold,
  * q_ml_ad_ksamp's per-type 49k-value term fold) fold token-/grid-
  * scale totals; FoldExprsSpec pins equality on both shapes.
  *
  * Precondition (same as the form it replaces): array elements are
  * non-null structs — `collect_list` never emits null elements.
  * Empty array sums to 0.0; null array yields null. Evaluated via
  * CodegenFallback: one call per GROUP (an agg-result projection),
  * so per-call dispatch is amortized over the whole group. */
case class SortedSumLast(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.nonEmpty && st.fields.last.dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_sum expects array<struct<..., double>>, got ${t.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sorted_sum"

  @transient private lazy val structType =
    child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
  @transient private lazy val nFields = structType.size
  @transient private lazy val ordering =
    TypeUtils.getInterpretedOrdering(structType)

  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val rows = new Array[InternalRow](n)
    var i = 0
    while (i < n) { rows(i) = arr.getStruct(i, nFields); i += 1 }
    java.util.Arrays.sort(rows, ordering)
    var s = 0.0
    i = 0
    while (i < n) { s += rows(i).getDouble(nFields - 1); i += 1 }
    s
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
