package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.16 store-once sketch rollup — the STORE leg of the mergeable-
  * sketch story, exercised end to end: every sketch operator in this
  * repo advertises store-once/roll-up-anywhere, and this module is
  * where the sketch binaries actually cross a parquet boundary
  * (BinaryType column through write + read) before being merged.
  *
  * 100 TB shape: the fine-grained sketch table is the thing a real
  * pipeline materializes nightly (tiny — one row per fine group, a few
  * KB each); every later dashboard query is a merge over the STORED
  * frame at any coarser grouping, never a re-scan of the fact table.
  * The graded query times exactly that consumer path (the one-time
  * store is warmed untimed by Bench, like the roundtrip layouts).
  */
object StoreOps extends graft.QueryModule {

  /** Fine-grained HLL sketch table: distinct customers per
    * (o_orderpriority, order month), sketched with Spark's
    * hll_sketch_agg. HLL (not KLL) for the graded key because its
    * build and union are fully deterministic — stored-and-merged
    * equals computed-in-one-pass EXACTLY (StoreSpec pins byte-level
    * estimate equality); the KLL twin of this round-trip is bounded
    * in StoreSpec instead (compaction is randomized). */
  private[operators] def fineSketches(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .groupBy("o_orderpriority", "o_month")
      .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))

  /** The fine sketch table, materialized once per (session, sfDir). */
  private val stored = Store.files("hll_fine_sketches") { (s, dir, out) =>
    fineSketches(s, dir).write.mode("overwrite").parquet(out)
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(stored)

  /** Graded consumer: READ the stored fine sketches, union-merge to
    * per-priority, estimate distinct customers. The fact table is not
    * in this plan at all — the scan is one parquet row per (priority,
    * month). NO oracle (HLL estimate); StoreSpec asserts the stored
    * path equals the in-one-pass rollup exactly and lands within 5%
    * of the exact distinct count. */
  def aggSketchStoreRollup(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, stored(s, dir))
      .groupBy("o_orderpriority")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_customers"),
        count(lit(1)).as("n_months"))
      .orderBy("o_orderpriority")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_sketch_store_rollup" -> aggSketchStoreRollup)

  def oracleSql: Map[String, String] = Map.empty
}
