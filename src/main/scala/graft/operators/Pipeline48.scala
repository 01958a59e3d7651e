package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.61 round-14 batch 16 — monitoring + lake-ingest closers: the
  * Shewhart I-MR control chart (the process-monitoring limits beside
  * q_events_anomaly's z-scores and q_events_changepoint's CUSUM),
  * MAPE/sMAPE forecast accuracy on the q_ml_linfit predictor (the
  * percentage-error metrics q_ml_regression_metrics' absolute ones
  * lack), and parquet schema evolution (mergeSchema over batches
  * written with drifting schemas — the data-lake ingest reality).
  */
object Pipeline48 extends graft.QueryModule {

  /** I-MR CONTROL CHART per event type — individuals chart over the
    * daily-revenue series: center ȳ, average moving range m̄R, the
    * standard ±2.66·m̄R limits, and the out-of-control day count.
    * All moments are exact integer sums (y cents, |Δy| integer);
    * the limits render once in one fixed dag. The "is today weird"
    * gate every ops dashboard runs before the fancier detectors.
    *
    * 100 TB: daily agg full pass; lag window + 1-row-per-type
    * arithmetic on the days-sized support frame. */
  def timeControlChart(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("d")
    Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
      .withColumn("mr", abs(col("y") - lag(col("y"), 1).over(w)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("y").as("sy"),
        sum("mr").as("smr"),
        expr("array_sort(collect_list(struct(d, y)))").as("l"))
      .selectExpr("event_type", "n_days",
        "cast(sy as double) / n_days as ybar",
        "cast(smr as double) / (n_days - 1) as mrbar", "l")
      .selectExpr("event_type", "n_days",
        "round(ybar, 4) as ybar_cents", "round(mrbar, 4) as mrbar_cents",
        "round(ybar + 2.66D * mrbar, 4) as ucl",
        "round(ybar - 2.66D * mrbar, 4) as lcl",
        "aggregate(l, 0L, (a, x) -> a + if(x.y > ybar + 2.66D * mrbar" +
          " or x.y < ybar - 2.66D * mrbar, 1L, 0L)) as n_ooc")
      .orderBy("event_type")
  }

  /** MAPE + sMAPE of the q_ml_linfit OLS forecast — per-day absolute
    * percentage errors against the exact-moment trend (the identical
    * a/b dag, so ŷ is bitwise on both engines), each error quantized
    * to exact ppm per day (order-free integer sums), both the plain
    * and the symmetric form. The relative-error readout
    * q_ml_regression_metrics' absolute RMSE/MAE can't give.
    *
    * 100 TB: daily agg full pass; residual arithmetic on the
    * days×types support frame (broadcast ≤|types| coefficient rows). */
  def mlMape(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
      .select(col("event_type"),
        expr("cast(datediff(d, date '1970-01-01') as bigint)").as("x"),
        col("y"))
      .localCheckpoint(true)
    val ab = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"),
        sum(expr("cast(x as decimal(19,0)) * y")).as("sxy"))
      .selectExpr("event_type", "n", "sx", "sy",
        "cast(cast(n as decimal(38,0)) * sxy" +
          " - cast(sx as decimal(38,0)) * sy as double)" +
          " / cast(n * sxx - sx * sx as double) as b")
      .selectExpr("event_type",
        "(cast(sy as double) - b * sx) / n as a", "b")
    daily.join(broadcast(ab), "event_type")
      .select(col("event_type"), col("y"),
        expr("a + b * x").as("yh"))
      .where(col("y") > 0L)
      .select(col("event_type"),
        expr("cast(round(1000000 * abs(y - yh) / y) as bigint)")
          .as("ape_ppm"),
        expr("cast(round(1000000 * 2 * abs(y - yh)" +
          " / (abs(cast(y as double)) + abs(yh))) as bigint)")
          .as("sape_ppm"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("ape_ppm").as("sape"),
        sum("sape_ppm").as("ssape"))
      .selectExpr("event_type", "n_days",
        "sape div n_days as mape_ppm", "ssape div n_days as smape_ppm")
      .orderBy("event_type")
  }

  private val evolvingPq = Store.files("evolving_pq") { (s, dir, root) =>
    val base = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"),
        expr("cast(round(l_quantity) as bigint)").as("q"),
        col("l_returnflag").as("rf"))
    base.where(col("ok") % 2 === 0).select("ok", "q")
      .write.mode("overwrite").parquet(root + "/b1")
    base.where(col("ok") % 2 === 1).select("ok", "q", "rf")
      .write.mode("overwrite").parquet(root + "/b2")
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(evolvingPq)

  /** PARQUET SCHEMA EVOLUTION — two batches written once per
    * (session, sf) with DRIFTING schemas (batch 1: (ok, q); batch 2
    * adds rf), read back under mergeSchema: the union schema must
    * surface, batch-1 rows carry NULL rf, and per-batch masses must
    * survive exactly. The data-lake reality every long-lived ingest
    * pipeline hits (grading the loss-less path; a non-merged read
    * silently drops the new column).
    *
    * 100 TB: two narrow writes; the merged read is a plain
    * multi-footer scan + one 1-row agg. */
  def sourceSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = evolvingPq(s, dir)
    // Not Tables.read: the schema merge at read time is what this key
    // grades, so it must infer on every read.
    s.read.option("mergeSchema", "true")
      .parquet(root + "/b1", root + "/b2")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("rf").isNull, 1L).otherwise(0L)).as("n_old_schema"),
        sum(when(col("rf").isNotNull, col("q")).otherwise(0L))
          .as("q_new"),
        sum(when(col("rf").isNull, col("q")).otherwise(0L)).as("q_old"),
        countDistinct("rf").as("n_rf"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_time_control_chart" -> timeControlChart,
    "q_ml_mape" -> mlMape,
    "q_source_schema_evolution" -> sourceSchemaEvolution)

  def oracleSql: Map[String, String] = Map(
    "q_time_control_chart" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY event_type, d),
        |mr AS (SELECT event_type, d, y,
        |    abs(y - lag(y) OVER
        |      (PARTITION BY event_type ORDER BY d)) AS mr
        |  FROM daily),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(mr) AS BIGINT) AS smr
        |  FROM mr GROUP BY event_type),
        |c AS (SELECT event_type, n_days,
        |    CAST(sy AS DOUBLE) / n_days AS ybar,
        |    CAST(smr AS DOUBLE) / (n_days - 1) AS mrbar
        |  FROM g),
        |o AS (SELECT daily.event_type,
        |    CAST(SUM(CASE WHEN y > ybar + 2.66 * mrbar
        |      OR y < ybar - 2.66 * mrbar THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ooc
        |  FROM daily JOIN c USING (event_type)
        |  GROUP BY daily.event_type)
        |SELECT c.event_type, n_days, ROUND(ybar, 4) AS ybar_cents,
        |  ROUND(mrbar, 4) AS mrbar_cents,
        |  ROUND(ybar + 2.66 * mrbar, 4) AS ucl,
        |  ROUND(ybar - 2.66 * mrbar, 4) AS lcl, n_ooc
        |FROM c JOIN o USING (event_type) ORDER BY event_type""".stripMargin,
    "q_ml_mape" ->
      """WITH daily AS (SELECT event_type,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') AS x,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM daily GROUP BY event_type),
        |ab AS (SELECT event_type, n, sx, sy,
        |    CAST(CAST(n AS HUGEINT) * sxy
        |        - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS b
        |  FROM m),
        |ab2 AS (SELECT event_type,
        |    (CAST(sy AS DOUBLE) - b * sx) / n AS a, b FROM ab),
        |e AS (SELECT daily.event_type,
        |    CAST(ROUND(1000000 * abs(y - (a + b * x)) / y) AS BIGINT)
        |      AS ape_ppm,
        |    CAST(ROUND(1000000 * 2 * abs(y - (a + b * x))
        |      / (abs(CAST(y AS DOUBLE)) + abs(a + b * x))) AS BIGINT)
        |      AS sape_ppm
        |  FROM daily JOIN ab2 USING (event_type) WHERE y > 0),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(ape_ppm) AS BIGINT) AS sape,
        |    CAST(SUM(sape_ppm) AS BIGINT) AS ssape
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n_days,
        |  CAST(sape // n_days AS BIGINT) AS mape_ppm,
        |  CAST(ssape // n_days AS BIGINT) AS smape_ppm
        |FROM g ORDER BY event_type""".stripMargin,
    "q_source_schema_evolution" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_old_schema,
        |  CAST(SUM(CASE WHEN l_orderkey % 2 = 1
        |    THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS q_new,
        |  CAST(SUM(CASE WHEN l_orderkey % 2 = 0
        |    THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS q_old,
        |  CAST(COUNT(DISTINCT CASE WHEN l_orderkey % 2 = 1
        |    THEN l_returnflag END) AS BIGINT) AS n_rf
        |FROM lineitem""".stripMargin)
}
