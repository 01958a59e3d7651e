package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.64o round-14 batch 33 — SPRT sequential testing (decide AS THE
  * DATA ARRIVES, where q_ml_ab_ttest waits for the full sample),
  * tf-idf cosine over the stored near-dup candidates (the
  * lexically-WEIGHTED similarity beside MinHash's set overlap and the
  * embedding cosine), and weighted Pearson correlation (the
  * quantity-weighted member of the q_agg_corr family).
  */
object Pipeline65 extends graft.QueryModule {

  /** SPRT (sequential probability ratio test) per event type: does
    * the daily share of high-value events (value > 250.00) run at
    * p1 = 0.55 rather than p0 = 0.45? The log-likelihood ratio walks
    * day by day (window cumsum partitioned by type); the decision is
    * the FIRST day the walk leaves (−ln 19, +ln 19) (alpha = beta =
    * .05) — the "stop the experiment early" machinery q_ml_ab_ttest's
    * fixed-horizon test cannot give. Counts exact; the walk is one
    * fixed IEEE dag per row (literal-log increments).
    *
    * 100 TB: one (type, day) hash agg; walk + first-crossing rank
    * windows partition by type on the calendar-bounded frame. */
  def mlSprt(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type").as("t"), to_date(col("ts")).as("d"),
        (col("value") > 250.0).as("hi"))
      .groupBy("t", "d")
      .agg(count(lit(1)).as("n"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("x"))
    val wCum = Window.partitionBy("t").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = daily
      .select(col("t"), col("d"),
        sum(expr("x * ln(0.55D / 0.45D)" +
          " + (n - x) * ln(0.45D / 0.55D)")).over(wCum).as("llr"))
    val wLast = Window.partitionBy("t").orderBy(col("d").desc)
    val wCross = Window.partitionBy("t").orderBy(col("d").asc)
    // ln(19) pinned as an explicit double literal so the crossing flag,
    // the decision column, and the DuckDB oracle all compare llr against
    // the SAME bits — per-engine 2.9444389791664403 could differ by 1 ulp and flip
    // a boundary row's classification (ADVICE r14)
    val b = 2.9444389791664403
    walk
      .withColumn("crossed",
        col("llr") >= lit(b) || col("llr") <= lit(-b))
      .withColumn("cross_rk",
        sum(when(col("crossed"), 1L).otherwise(0L)).over(
          wCross.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      .withColumn("last_rk", row_number().over(wLast))
      .where((col("crossed") && col("cross_rk") === 1L) ||
        (col("last_rk") === 1 && col("cross_rk") === 0L))
      .selectExpr("t as event_type", "d as decision_day",
        "round(llr, 6) as llr",
        "case when llr >= 2.9444389791664403D then 'accept_h1'" +
          " when llr <= -2.9444389791664403D then 'accept_h0'" +
          " else 'continue' end as decision")
      .orderBy("event_type")
  }

  /** TF-IDF COSINE over the stored >=8-band MinHash candidates: the
    * lexically-WEIGHTED similarity that separates true near-dups from
    * stopword-heavy shingle coincidences — MinHash grades set overlap,
    * q_dedup_embed_cosine grades the embedding space; this is the
    * sparse-vector middle ground. Weights quantize to integer
    * micro-idf units (tf · round(ln(N/df)·1e6)) so every dot product
    * and norm is decimal(38,0)-EXACT — no row-ordered double sums;
    * the clip joins are (doc, token) EQUI joins bounded by the stored
    * candidate list, never all-pairs.
    *
    * 100 TB: one tokenize pass for tf/df; candidate-pair joins on the
    * stored list; one double division per pair at the end. */
  def dedupTfidfCosine(s: SparkSession, dir: String): DataFrame = {
    val tf = graft.api.Text
      .tokens(Tables.documents(s, dir), "doc_id", "text")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val n = Tables.documents(s, dir).count()
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .select(col("token"),
        expr(s"cast(round(ln(cast($n as double) / df) * 1000000)" +
          " as bigint)").as("idfq"))
    val w = tf.join(broadcast(idf), "token")
      .select(col("doc_id"), col("token"),
        (col("tf") * col("idfq")).as("w"))
      .localCheckpoint(true)
    val norms = w.groupBy("doc_id")
      .agg(sum(expr("cast(w as decimal(38,0)) * w")).as("nrm"))
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
    val dots = pairs
      .join(w.select(col("doc_id").as("d1"), col("token"),
        col("w").as("w1")), "d1")
      .join(w.select(col("doc_id").as("d2"), col("token"),
        col("w").as("w2")), Seq("d2", "token"))
      .groupBy("d1", "d2")
      .agg(sum(expr("cast(w1 as decimal(38,0)) * w2")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("d1"),
        col("nrm").as("n1")), "d1")
      .join(norms.select(col("doc_id").as("d2"),
        col("nrm").as("n2")), "d2")
      .selectExpr("d1", "d2",
        "round(cast(dot as double)" +
          " / sqrt(cast(n1 as double) * cast(n2 as double)), 6)" +
          " as tfidf_cosine")
      .orderBy("d1", "d2")
  }

  /** WEIGHTED PEARSON CORRELATION of price vs discount per return
    * flag, weighted by quantity — the "big lines count more" member
    * of the q_agg_corr exact-moment family: all six weighted moments
    * (W, Σwx, Σwy, Σwxx, Σwyy, Σwxy) are exact integers in
    * decimal(38,0), corr_w one fixed IEEE dag with variance factors
    * cast to double before the multiply.
    *
    * 100 TB: one map-side-partial 6-moment agg per group. */
  def aggWeightedCorr(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"),
        expr("cast(round(l_quantity) as bigint)").as("w"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("x"),
        expr("cast(round(l_discount * 100) as bigint)").as("y"))
      .groupBy("g")
      .agg(sum("w").as("sw"),
        sum(expr("cast(w as decimal(38,0)) * x")).as("swx"),
        sum(expr("cast(w as decimal(38,0)) * y")).as("swy"),
        sum(expr("cast(w as decimal(38,0)) * x * x")).as("swxx"),
        sum(expr("cast(w as decimal(38,0)) * y * y")).as("swyy"),
        sum(expr("cast(w as decimal(38,0)) * x * y")).as("swxy"))
      .selectExpr("g",
        "cast(sw * swxy - swx * swy as double) as covn",
        "cast(sw * swxx - swx * swx as double) as vxn",
        "cast(sw * swyy - swy * swy as double) as vyn")
      .selectExpr("g as returnflag",
        "round(covn / sqrt(vxn * vyn), 6) as weighted_corr")
      .orderBy("returnflag")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_sprt" -> mlSprt,
    "q_dedup_tfidf_cosine" -> dedupTfidfCosine,
    "q_agg_weighted_corr" -> aggWeightedCorr)

  def oracleSql: Map[String, String] = Map(
    "q_ml_sprt" ->
      """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 250.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |walk AS (SELECT t, d,
        |    SUM(x * ln(0.55 / 0.45) + (n - x) * ln(0.45 / 0.55))
        |      OVER (PARTITION BY t ORDER BY d ROWS BETWEEN UNBOUNDED
        |        PRECEDING AND CURRENT ROW) AS llr
        |  FROM daily),
        |flags AS (SELECT t, d, llr,
        |    (llr >= 2.9444389791664403 OR llr <= -2.9444389791664403) AS crossed,
        |    SUM(CASE WHEN llr >= 2.9444389791664403 OR llr <= -2.9444389791664403
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY t ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cross_rk,
        |    ROW_NUMBER() OVER (PARTITION BY t ORDER BY d DESC)
        |      AS last_rk
        |  FROM walk)
        |SELECT t AS event_type, d AS decision_day,
        |  ROUND(llr, 6) AS llr,
        |  CASE WHEN llr >= 2.9444389791664403 THEN 'accept_h1'
        |    WHEN llr <= -2.9444389791664403 THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        |FROM flags
        |WHERE (crossed AND cross_rk = 1)
        |   OR (last_rk = 1 AND cross_rk = 0)
        |ORDER BY event_type""".stripMargin,
    "q_dedup_tfidf_cosine" -> (Pipeline23.pairsHead + ",\n" +
      s"""tok AS (${graft.operators.ExtraText.tokensSql}),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |idf AS (SELECT token,
        |    CAST(ROUND(ln(CAST(n AS DOUBLE) / COUNT(*)) * 1000000)
        |      AS BIGINT) AS idfq
        |  FROM tf CROSS JOIN nn GROUP BY token, n),
        |w AS (SELECT doc_id, tf.token, tf * idfq AS w
        |  FROM tf JOIN idf ON tf.token = idf.token),
        |norms AS (SELECT doc_id,
        |    CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS nrm
        |  FROM w GROUP BY doc_id),
        |dots AS (SELECT d1, d2,
        |    CAST(SUM(CAST(a.w AS HUGEINT) * b.w) AS HUGEINT) AS dot
        |  FROM pairs JOIN w a ON a.doc_id = d1
        |  JOIN w b ON b.doc_id = d2 AND b.token = a.token
        |  GROUP BY d1, d2)
        |SELECT d1, d2,
        |  ROUND(CAST(dot AS DOUBLE)
        |    / sqrt(CAST(x.nrm AS DOUBLE) * CAST(y.nrm AS DOUBLE)), 6)
        |    AS tfidf_cosine
        |FROM dots JOIN norms x ON x.doc_id = d1
        |JOIN norms y ON y.doc_id = d2
        |ORDER BY d1, d2""".stripMargin),
    "q_agg_weighted_corr" ->
      """WITH m AS (SELECT l_returnflag AS g,
        |    CAST(SUM(w) AS BIGINT) AS sw,
        |    SUM(CAST(w AS HUGEINT) * x) AS swx,
        |    SUM(CAST(w AS HUGEINT) * y) AS swy,
        |    SUM(CAST(w AS HUGEINT) * x * x) AS swxx,
        |    SUM(CAST(w AS HUGEINT) * y * y) AS swyy,
        |    SUM(CAST(w AS HUGEINT) * x * y) AS swxy
        |  FROM (SELECT l_returnflag,
        |      CAST(ROUND(l_quantity) AS BIGINT) AS w,
        |      CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x,
        |      CAST(ROUND(l_discount * 100) AS BIGINT) AS y
        |    FROM lineitem)
        |  GROUP BY g),
        |f AS (SELECT g,
        |    CAST(sw * swxy - swx * swy AS DOUBLE) AS covn,
        |    CAST(sw * swxx - swx * swx AS DOUBLE) AS vxn,
        |    CAST(sw * swyy - swy * swy AS DOUBLE) AS vyn
        |  FROM m)
        |SELECT g AS returnflag,
        |  ROUND(covn / sqrt(vxn * vyn), 6) AS weighted_corr
        |FROM f ORDER BY returnflag""".stripMargin)
}
