package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point (SURVEY §4.3): injects every
  * native `graft_*` expression at session build time —
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * Sessions built without the extension get the same functions from
  * [[GraftExtensions.register]]. Both read the one table below.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.natives.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** One row per native function: (name, info, builder). The sketch
    * aggregates take an optional literal second argument, their
    * size/accuracy dial; the defaults below are the only ones. */
  val natives: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    row[ArrayDot]("graft_dot")(a => ArrayDot(a(0), a(1))),
    row[ArrayDotPrefix]("graft_dot_pre")(a => ArrayDotPrefix(a(0), a(1), a(2))),
    row[ArrayQ127Sum]("graft_q127_sum")(a => ArrayQ127Sum(a(0))),
    row[SortedSumLast]("graft_sorted_sum")(a => SortedSumLast(a(0))),
    row[PolyHash]("graft_polyhash")(a => PolyHash(a(0))),
    row[RakeTop]("graft_rake_top")(a => RakeTop(a(0), a(1))),
    row[Fingerprint]("graft_fingerprint")(a => Fingerprint(a(0))),
    row[JaroWinkler]("graft_jaro_winkler")(a => JaroWinkler(a(0), a(1))),
    // theta: lgK, exact below 2^lgK distincts
    row[ThetaSketchAgg]("graft_theta_agg")(a =>
      ThetaSketchAgg(a.head, dial(a, 12)).toAggregateExpression()),
    row[ThetaIntersectEstimate]("graft_theta_intersect_est")(a =>
      ThetaIntersectEstimate(a(0), a(1))),
    row[ThetaDiffEstimate]("graft_theta_diff_est")(a =>
      ThetaDiffEstimate(a(0), a(1))),
    // KLL: k, ~1.65% normalized rank error at 200
    row[KllSketchAgg]("graft_kll_agg")(a =>
      KllSketchAgg(a.head, dial(a, 200)).toAggregateExpression()),
    row[KllMergeAgg]("graft_kll_merge_agg")(a =>
      KllMergeAgg(a.head, dial(a, 200)).toAggregateExpression()),
    row[KllQuantileEst]("graft_kll_quantile")(a => KllQuantileEst(a(0), a(1))),
    // frequent items: maxMapSize (power of 2), error <= ~3.5/maxMapSize
    // of the stream length, exact while distinct items <= ~0.75*maxMapSize
    row[FreqSketchAgg]("graft_freq_agg")(a =>
      FreqSketchAgg(a.head, dial(a, 128)).toAggregateExpression()),
    row[FreqMergeAgg]("graft_freq_merge_agg")(a =>
      FreqMergeAgg(a.head, dial(a, 128)).toAggregateExpression()),
    row[FreqTopK]("graft_freq_topk")(a => FreqTopK(a(0), a(1))))

  /** Registers the rows this session's registry lacks — for sessions
    * handed in without the extension. Idempotent: on an
    * extension-built session it writes nothing. */
  def register(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    natives.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }

  private def row[T <: Expression: ClassTag](name: String)(b: Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getName, name), b)

  private def dial(args: Seq[Expression], default: Int): Int =
    if (args.size > 1) args(1).eval().toString.toInt else default
}
