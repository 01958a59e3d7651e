package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.64h round-14 batch 26 — lakehouse/ops closers: the CDC snapshot
  * diff (classify every key across two table versions), the file
  * metadata scan (_metadata.file_path as a first-class column), and
  * the TOST equivalence test (prove two means are the SAME, the
  * direction q_ml_ab_ttest's difference test can't).
  */
object Pipeline58 extends graft.QueryModule {

  /** SNAPSHOT DIFF (CDC classify): per-order revenue as of two
    * shipment cutoffs (1998-01-01 vs 2000-01-01) — every order key is
    * classified added / modified / unchanged (removed kept for
    * completeness) by a FULL OUTER join of the two snapshot aggregates
    * on the shared key, with row counts and the exact integer-cents
    * delta per class. The "what changed between yesterday's and
    * today's table version" operator every incremental pipeline needs.
    *
    * 100 TB: the early snapshot's rows are a SUBSET of the late one's
    * (both filter the same shipdate column, A < B), so both snapshot
    * aggregates fold in ONE conditional pass over the scan — one
    * shuffle on l_orderkey total (r16; was two scans + two shuffles +
    * a full outer join). A key absent from snapshot A is exactly a
    * key with zero pre-A rows ('added'); 'removed' (in A, not B) is
    * impossible by A ⊆ B but the classifier keeps the branch for
    * completeness. */
  def mergeSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val a = lit("1998-01-01").cast("timestamp")
    Tables.lineitem(s, dir)
      .where(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .select(col("l_orderkey"), (col("l_shipdate") < a).as("early"),
        (expr("cast(round(l_extendedprice * 100) as bigint)")
          * (lit(100L) -
            expr("cast(round(l_discount * 100) as bigint)"))).as("r"))
      .groupBy("l_orderkey")
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("early"), col("r")).otherwise(0L)).as("va"),
        sum("r").as("vb"))
      .selectExpr(
        "case when ca = 0 then 'added'" +
          " when va = vb then 'unchanged'" +
          " else 'modified' end as change_type",
        "vb - va as delta")
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_orders"), sum("delta").as("delta_cents"))
      .orderBy("change_type")
  }

  private val fileMeta = Store.files("filemeta") { (s, dir, out) =>
    Tables.orders(s, dir)
      .repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(out)
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(fileMeta)

  /** FILE METADATA SCAN: write orders partitioned by o_orderstatus
    * (one file per partition directory via repartition on the
    * partition key), re-read with the hidden `_metadata.file_path`
    * column, recover the partition value FROM THE PATH
    * (regexp_extract), and verify per-partition row counts / revenue
    * against the logical content plus the pinned 1-file-per-dir
    * layout — the "which files feed this partition" introspection a
    * compaction or retention job starts from.
    *
    * 100 TB: the write shuffles once on the partition key; the
    * metadata read is a plain scan (file_path is constant per split,
    * no extra IO). */
  def scanFileMetadata(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, fileMeta(s, dir))
      .select(col("o_orderkey"), col("o_totalprice"),
        expr("regexp_extract(_metadata.file_path," +
          " 'o_orderstatus=([^/]+)', 1)").as("status_from_path"),
        col("_metadata.file_path").as("fp"))
      .groupBy("status_from_path")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("fp")).as("n_files"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("sum_cents"))
      .orderBy("status_from_path")
  }

  /** TOST EQUIVALENCE TEST (two one-sided t-tests): are the mean
    * event values of 'click' and 'view' equivalent within ±5.00? The
    * REVERSED burden of proof vs q_ml_ab_ttest — rejecting both
    * one-sided nulls PROVES similarity instead of failing to prove
    * difference. Welch SE from exact integer moments, the two t
    * statistics and the alpha=.05 verdict (both beyond ±1.645, the
    * large-sample one-sided critical value) as one fixed IEEE dag.
    *
    * 100 TB: one map-side-partial two-group moment agg; arithmetic
    * after. */
  def mlTost(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .where(col("event_type").isin("click", "view"))
      .select(col("event_type").as("g"),
        expr("cast(round(value * 100) as bigint)").as("x"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .agg(
        max(when(col("g") === "click", col("n"))).as("n1"),
        max(when(col("g") === "click", col("sx"))).as("s1"),
        max(when(col("g") === "click", col("sxx"))).as("q1"),
        max(when(col("g") === "view", col("n"))).as("n2"),
        max(when(col("g") === "view", col("sx"))).as("s2"),
        max(when(col("g") === "view", col("sxx"))).as("q2"))
      .selectExpr("n1", "n2",
        "cast(s1 as double) / n1 - cast(s2 as double) / n2 as diff",
        "cast(n1 * q1 - s1 * s1 as double)" +
          " / (cast(n1 as double) * n1 * (n1 - 1)) as sem1",
        "cast(n2 * q2 - s2 * s2 as double)" +
          " / (cast(n2 as double) * n2 * (n2 - 1)) as sem2")
      .selectExpr("n1", "n2", "round(diff, 6) as diff_cents",
        "round((diff + 500D) / sqrt(sem1 + sem2), 6) as t_lower",
        "round((diff - 500D) / sqrt(sem1 + sem2), 6) as t_upper",
        "(diff + 500D) / sqrt(sem1 + sem2) > 1.6448536269514722D" +
          " and (diff - 500D) / sqrt(sem1 + sem2)" +
          " < -1.6448536269514722D as equivalent")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_merge_snapshot_diff" -> mergeSnapshotDiff,
    "q_scan_file_metadata" -> scanFileMetadata,
    "q_ml_tost" -> mlTost)

  def oracleSql: Map[String, String] = Map(
    "q_merge_snapshot_diff" ->
      """WITH snap_a AS (SELECT l_orderkey AS k,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS va
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1),
        |snap_b AS (SELECT l_orderkey AS k2,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS vb
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |  GROUP BY 1)
        |SELECT CASE WHEN k IS NULL THEN 'added'
        |    WHEN k2 IS NULL THEN 'removed'
        |    WHEN va = vb THEN 'unchanged'
        |    ELSE 'modified' END AS change_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(COALESCE(vb, 0) - COALESCE(va, 0)) AS BIGINT)
        |    AS delta_cents
        |FROM snap_a FULL OUTER JOIN snap_b ON k = k2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scan_file_metadata" ->
      """SELECT o_orderstatus AS status_from_path,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(1 AS BIGINT) AS n_files,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ml_tost" ->
      """WITH g AS (SELECT event_type AS g,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS sx,
        |    SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(ROUND(value * 100) AS BIGINT)) AS sxx
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1),
        |w AS (SELECT
        |    MAX(CASE WHEN g = 'click' THEN n END) AS n1,
        |    MAX(CASE WHEN g = 'click' THEN sx END) AS s1,
        |    MAX(CASE WHEN g = 'click' THEN sxx END) AS q1,
        |    MAX(CASE WHEN g = 'view' THEN n END) AS n2,
        |    MAX(CASE WHEN g = 'view' THEN sx END) AS s2,
        |    MAX(CASE WHEN g = 'view' THEN sxx END) AS q2
        |  FROM g),
        |f AS (SELECT n1, n2,
        |    CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS diff,
        |    CAST(n1 * q1 - s1 * s1 AS DOUBLE)
        |      / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS sem1,
        |    CAST(n2 * q2 - s2 * s2 AS DOUBLE)
        |      / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS sem2
        |  FROM w)
        |SELECT n1, n2, ROUND(diff, 6) AS diff_cents,
        |  ROUND((diff + 500) / sqrt(sem1 + sem2), 6) AS t_lower,
        |  ROUND((diff - 500) / sqrt(sem1 + sem2), 6) AS t_upper,
        |  (diff + 500) / sqrt(sem1 + sem2) > 1.6448536269514722
        |    AND (diff - 500) / sqrt(sem1 + sem2)
        |    < -1.6448536269514722 AS equivalent
        |FROM f""".stripMargin)
}
