package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketches, Union}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Theta sketches (DataSketches) as native Catalyst aggregates — the
  * capability Spark's built-in HLL functions lack: SET INTERSECTION
  * cardinality. HLL sketches union cheaply but cannot intersect; theta
  * sketches support union/intersection/difference, so "users who did A
  * AND B" is computable from per-group sketches without a self-join of
  * the fact table.
  *
  * 100 TB: `graft_theta_agg` is a TypedImperativeAggregate — partial
  * sketches build where the rows live, merge as compact binaries
  * (ObjectHashAggregate, map-side combine); the intersection runs on
  * the tiny final sketches, never on raw rows. Below ~4k distinct keys
  * per group (lgK=12) the sketch is in exact mode, so small-SF results
  * are exactly the true cardinality — SketchSpec pins that.
  */
case class ThetaSketchAgg(
    child: Expression,
    lgK: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_theta_agg expects BIGINT, got ${t.sql}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_theta_agg"

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any = buffer.getResult.toByteArray

  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult.toByteArray

  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Sketches.wrapSketch(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}

/** Intersection-cardinality estimate of two theta sketch binaries.
  * Runs once per output group on tiny compact sketches — interpreted
  * eval (CodegenFallback) is deliberate; this is not a hot path. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_theta_intersect_est expects (binary, binary), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_theta_intersect_est"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val it = SetOperation.builder().buildIntersection()
    it.intersect(Sketches.wrapSketch(Memory.wrap(a.asInstanceOf[Array[Byte]])))
    it.intersect(Sketches.wrapSketch(Memory.wrap(b.asInstanceOf[Array[Byte]])))
    it.getResult.getEstimate
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Difference-cardinality estimate (A and not B) of two theta sketch
  * binaries — "did A but never B" (e.g. clicked, never purchased).
  * Same per-group, non-hot-path reasoning as the intersection. */
case class ThetaDiffEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_theta_diff_est expects (binary, binary), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_theta_diff_est"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val op = SetOperation.builder().buildANotB()
    op.aNotB(
      Sketches.wrapSketch(Memory.wrap(a.asInstanceOf[Array[Byte]])),
      Sketches.wrapSketch(Memory.wrap(b.asInstanceOf[Array[Byte]]))
    ).getEstimate
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
