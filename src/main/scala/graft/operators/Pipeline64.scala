package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.64n round-14 batch 32 — the rolling exact median (an
  * order-statistic under a moving window, where every other rolling
  * key is a moment), stratified effect estimation (the causal
  * ADJUSTMENT cell q_ml_ab_ttest's raw difference can't give), and
  * the CSV dialect roundtrip (delimiter/quote handling beyond
  * q_source_csv_roundtrip's defaults).
  */
object Pipeline64 extends graft.QueryModule {

  /** ROLLING EXACT MEDIAN of daily revenue per event type — a
    * 14-OBSERVATION trailing ORDER STATISTIC (ROWS frame over the
    * (type, day) grid; with gaps it spans more than 14 calendar days,
    * identically on both engines) (q_time_sma/ewma/rolling_corr are all
    * moment-based; the median needs the window's value multiset).
    * Exact integer cents in, one interpolated median out, windows
    * partitioned by type.
    *
    * 100 TB: the daily agg is the only full pass; the median windows
    * run on the calendar-bounded (type x day) frame — the window
    * multiset is <= 14 values, so the per-row cost is constant. */
  def winRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      .groupBy("event_type", "d")
      .agg(sum("v").as("rev"))
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-13, Window.currentRow)
    daily
      .select(col("event_type"), col("d"),
        count(lit(1)).over(w).as("wn"),
        round(expr("percentile(rev, 0.5D)").over(w), 4)
          .as("rolling_median"))
      .orderBy("event_type", "d")
  }

  /** STRATIFIED EFFECT (direct standardization): does clicking on a
    * day raise the same-day purchase rate once the WEEKDAY mix is
    * held fixed? Per (user, day) block: treated = clicked that day,
    * outcome = purchased that day; per weekday stratum the risk
    * difference pT − pC, standardized by stratum share — the
    * confounder-adjusted contrast the crude difference mixes with
    * "weekends are just busier". The two order-sensitive double sums
    * (crude from exact ints; adjusted = Σ w_s·(pT_s − pC_s)) run as
    * ordered HOF folds over the weekday-sorted 7-row frame (the
    * q_ml_levene determinism idiom). Weekday = Spark `weekday` ==
    * DuckDB `isodow − 1` (the one identical day-numbering pair).
    *
    * 100 TB: one distinct (user, day, type) pass folded to (user,
    * day) flags; one 7-stratum hash agg; fixed-dag arithmetic. */
  def mlStratifiedEffect(s: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"))
      .groupBy("user_id", "d")
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("t"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      .select(expr("weekday(d)").as("s"), col("t"), col("y"))
    blocks.groupBy("s")
      .agg(sum(expr("t")).as("nt"),
        sum(expr("t * y")).as("ot"),
        sum(expr("1 - t")).as("nc"),
        sum(expr("(1 - t) * y")).as("oc"))
      .agg(count(lit(1)).as("n_strata"),
        sum(expr("nt + nc")).as("n"),
        sum("nt").as("n_treated"),
        sum("ot").as("o_treated"),
        sum("nc").as("n_control"),
        sum("oc").as("o_control"),
        expr("array_sort(collect_list(struct(s, nt, ot, nc, oc)))")
          .as("l"))
      .selectExpr("n_strata", "n", "n_treated", "n_control",
        "o_treated", "o_control",
        // fold WITHOUT the /n so the dag matches the oracle exactly
        "aggregate(l, 0D, (a, x) -> a +" +
          " cast(x.nt + x.nc as double) *" +
          " (cast(x.ot as double) / x.nt" +
          " - cast(x.oc as double) / x.nc)) as adj_num")
      .selectExpr("n_strata", "n_treated", "n_control",
        "round(cast(o_treated as double) / n_treated" +
          " - cast(o_control as double) / n_control, 6)" +
          " as crude_diff",
        "round(adj_num / n, 6) as adjusted_diff")
  }

  private val dialectCsv = Store.files("csv_dialect") { (s, dir, out) =>
    Tables.documents(s, dir)
      .selectExpr("doc_id", "concat(lang, '|', source) as tag",
        "n_chars")
      .write.mode("overwrite")
      .option("delimiter", "|").option("quoteAll", "true")
      .option("header", "true")
      .csv(out)
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(dialectCsv)

  /** CSV DIALECT ROUNDTRIP: pipe-delimited, fully-quoted CSV with a
    * VALUE CONTAINING THE DELIMITER (lang|source concatenated with a
    * literal pipe) — the quoting/escaping path
    * q_source_csv_roundtrip's comma defaults never exercise. Write
    * with Spark, re-read with an explicit schema and the same
    * dialect options; the graded output is content (so a quoting bug
    * on either leg breaks the hash against the source-of-truth SQL).
    *
    * 100 TB: per-row serialization both legs, no shuffle before the
    * output sort. */
  def sourceCsvDialect(s: SparkSession, dir: String): DataFrame = {
    s.read
      .schema("doc_id LONG, tag STRING, n_chars LONG")
      .option("delimiter", "|").option("header", "true")
      .csv(dialectCsv(s, dir))
      .groupBy(expr("substring(tag, 1, 2)").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        countDistinct("tag").as("n_tags"))
      .orderBy("lang")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_rolling_median" -> winRollingMedian,
    "q_ml_stratified_effect" -> mlStratifiedEffect,
    "q_source_csv_dialect" -> sourceCsvDialect)

  def oracleSql: Map[String, String] = Map(
    "q_win_rolling_median" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, d,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS wn,
        |  ROUND(quantile_cont(rev, 0.5) OVER w, 4) AS rolling_median
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY d
        |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, d""".stripMargin,
    "q_ml_stratified_effect" ->
      """WITH blocks AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0
        |      END) AS BIGINT) AS t,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT isodow(d) - 1 AS s,
        |    CAST(SUM(t) AS BIGINT) AS nt,
        |    CAST(SUM(t * y) AS BIGINT) AS ot,
        |    CAST(SUM(1 - t) AS BIGINT) AS nc,
        |    CAST(SUM((1 - t) * y) AS BIGINT) AS oc
        |  FROM blocks GROUP BY 1),
        |top AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(nt + nc) AS BIGINT) AS n,
        |    CAST(SUM(nt) AS BIGINT) AS n_treated,
        |    CAST(SUM(ot) AS BIGINT) AS o_treated,
        |    CAST(SUM(nc) AS BIGINT) AS n_control,
        |    CAST(SUM(oc) AS BIGINT) AS o_control,
        |    list_reduce(list(CAST(nt + nc AS DOUBLE)
        |      * (CAST(ot AS DOUBLE) / nt - CAST(oc AS DOUBLE) / nc)
        |      ORDER BY s), (a, b) -> a + b) AS adj_num
        |  FROM st)
        |SELECT n_strata, n_treated, n_control,
        |  ROUND(CAST(o_treated AS DOUBLE) / n_treated
        |    - CAST(o_control AS DOUBLE) / n_control, 6) AS crude_diff,
        |  ROUND(adj_num / n, 6) AS adjusted_diff
        |FROM top""".stripMargin,
    "q_source_csv_dialect" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(DISTINCT lang || '|' || source) AS BIGINT)
        |    AS n_tags
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
}
