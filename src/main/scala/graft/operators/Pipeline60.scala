package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.64j round-14 batch 28 — CUSUM drift detection (the
  * accumulate-small-shifts cell beside Shewhart's q_time_control_chart
  * and the retrospective q_events_changepoint), Somers' D / gamma (the
  * ASYMMETRIC ordinal-association members of q_ml_kendall_tau's
  * family), and the average-neighbor-degree curve (degree correlation
  * as a function, where q_graph_assortativity gives one number).
  */
object Pipeline60 extends graft.QueryModule {

  /** CUSUM drift statistic per event type: one-sided cumulative-sum
    * excursion of the daily mean above the series mean, via the
    * prefix-min identity S+_t = cum_t − min(0, min_{s<=t} cum_s) —
    * NO recursion, two windows partitioned by type. All values stay
    * EXACT n-scaled micro-cent integers (y_t = n·v_t − Sv); the peak
    * row per type is rank-1 by (S desc, day asc). Shewhart
    * (q_time_control_chart) flags single large shifts; CUSUM
    * accumulates many small ones.
    *
    * 100 TB: daily agg only full pass; cum/min windows and the peak
    * rank run partitioned by event_type on the calendar-bounded
    * frame. */
  def timeCusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type").as("t"), to_date(col("ts")).as("d"),
        expr("cast(round(value * 100) as bigint)").as("x"))
      .groupBy("t", "d")
      .agg(count(lit(1)).as("c"), sum("x").as("sv"))
      .select(col("t"), col("d"), expr("(sv * 1000000) div c").as("v"))
    val stats = daily.groupBy("t")
      .agg(count(lit(1)).as("n"), sum("v").as("svv"))
    val wCum = Window.partitionBy("t").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy("t")
      .orderBy(col("s").desc, col("d").asc)
    daily.join(stats, "t")
      .select(col("t"), col("d"), col("n"),
        expr("n * v - svv").as("y"))
      .select(col("t"), col("d"), col("n"),
        sum("y").over(wCum).as("cum"))
      .select(col("t"), col("d"), col("n"),
        (col("cum") - least(lit(0L), min("cum").over(wCum))).as("s"))
      .withColumn("rk", row_number().over(wRank))
      .where(col("rk") === 1)
      .selectExpr("t as event_type", "d as peak_day", "s as peak_raw",
        "round(cast(s as double) / (n * 1000000.0D), 6)" +
          " as peak_cusum_cents")
      .orderBy("event_type")
  }

  /** SOMERS' D (both directions) and GOODMAN-KRUSKAL GAMMA over the
    * q_ml_kendall_tau joint-frequency frame (quantity x discount):
    * gamma = (C−D)/(C+D) ignores all ties, d_Y|X = (C−D)/(n0−n1)
    * penalizes Y-ties only, d_X|Y = (C−D)/(n0−n2) — the asymmetric
    * "how well does X predict Y's order" readouts tau-b symmetrizes
    * away (tau-b is their geometric mean). Same domain-frame pair
    * machinery: C/D from the <=550-cell dominance theta join, tie
    * terms from the marginals, one double division each.
    *
    * 100 TB: identical to q_ml_kendall_tau — one groupBy(x, y) full
    * pass, O(d^2) cell pairs. */
  def mlSomersD(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select(expr("cast(round(l_quantity * 100) as bigint)").as("x"),
        expr("cast(round(l_discount * 100) as bigint)").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val a = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("n").as("na"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"),
      col("n").as("nb"))
    val pairs = a.join(broadcast(b), col("xb") > col("xa"))
      .agg(
        sum(when(col("yb") > col("ya"),
          col("na") * col("nb")).otherwise(0L)).as("c"),
        sum(when(col("yb") < col("ya"),
          col("na") * col("nb")).otherwise(0L)).as("d"))
    val ties = cells.agg(sum("n").as("nn"))
      .select(col("nn"), expr("nn * (nn - 1) div 2").as("n0"))
    val tx = cells.groupBy("x").agg(sum("n").as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("n1"))
    val ty = cells.groupBy("y").agg(sum("n").as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("n2"))
    pairs.crossJoin(broadcast(ties)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .selectExpr("nn as n", "c as concordant", "d as discordant",
        "round(cast(c - d as double) / (c + d), 6) as gamma",
        "round(cast(c - d as double) / cast(n0 - n1 as double), 6)" +
          " as somers_d_yx",
        "round(cast(c - d as double) / cast(n0 - n2 as double), 6)" +
          " as somers_d_xy")
  }

  /** AVERAGE NEIGHBOR DEGREE curve knn(k) on the stored >=8-band
    * near-dup graph: for each degree value k, the mean over degree-k
    * nodes of their neighbors' mean degree — degree correlation AS A
    * FUNCTION (rising = assortative core), where
    * q_graph_assortativity collapses it to one r. Within a degree
    * class every node divides by the same k, so knn(k) =
    * sum_v SND_v / (n_k · k) is EXACT integers until one final
    * division — no row-ordered double sums. Pure equi-joins
    * (graph-family rule).
    *
    * 100 TB: degree hash agg; per-node neighbor-degree sum = one
    * equi-join of the directed edge list against the degree frame +
    * one hash agg; the curve is a groupBy on the degree-domain
    * frame. */
  def graphAvgNeighborDegree(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
    val und = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint(true)
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val snd = und
      .join(deg.select(col("src").as("dst"), col("deg").as("nd")),
        "dst")
      .groupBy("src").agg(sum("nd").as("snd"))
    deg.join(snd, "src")
      .groupBy("deg")
      .agg(count(lit(1)).as("n_nodes"), sum("snd").as("ssnd"))
      .selectExpr("deg", "n_nodes",
        "round(cast(ssnd as double) / (cast(n_nodes as double) * deg)," +
          " 6) as avg_neighbor_deg")
      .orderBy("deg")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_time_cusum" -> timeCusum,
    "q_ml_somers_d" -> mlSomersD,
    "q_graph_avg_neighbor_degree" -> graphAvgNeighborDegree)

  def oracleSql: Map[String, String] = Map(
    "q_time_cusum" ->
      """WITH rows_ AS (SELECT event_type AS t, CAST(ts AS DATE) AS d,
        |    CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
        |daily AS (SELECT t, d,
        |    (CAST(SUM(x) AS BIGINT) * 1000000)
        |      // CAST(COUNT(*) AS BIGINT) AS v
        |  FROM rows_ GROUP BY t, d),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(v) AS BIGINT) AS svv FROM daily GROUP BY t),
        |cums AS (SELECT daily.t, d, n,
        |    CAST(SUM(n * v - svv) OVER (PARTITION BY daily.t
        |      ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM daily JOIN st ON daily.t = st.t),
        |sv AS (SELECT t, d, n,
        |    cum - least(CAST(0 AS BIGINT), MIN(cum) OVER (
        |      PARTITION BY t ORDER BY d ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)) AS s
        |  FROM cums),
        |rk AS (SELECT t, d, n, s, ROW_NUMBER() OVER (PARTITION BY t
        |    ORDER BY s DESC, d ASC) AS rk FROM sv)
        |SELECT t AS event_type, d AS peak_day,
        |  CAST(s AS BIGINT) AS peak_raw,
        |  ROUND(CAST(s AS DOUBLE) / (n * 1000000.0), 6)
        |    AS peak_cusum_cents
        |FROM rk WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "q_ml_somers_d" ->
      """WITH cells AS (SELECT
        |    CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |pairs AS (SELECT
        |    CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n
        |      ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n
        |      ELSE 0 END) AS BIGINT) AS d
        |  FROM cells a JOIN cells b ON b.x > a.x),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(n) AS BIGINT) * (CAST(SUM(n) AS BIGINT) - 1) // 2
        |      AS n0 FROM cells),
        |txa AS (SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS t
        |        FROM cells GROUP BY x)),
        |tya AS (SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS t
        |        FROM cells GROUP BY y))
        |SELECT nn AS n, c AS concordant, d AS discordant,
        |  ROUND(CAST(c - d AS DOUBLE) / (c + d), 6) AS gamma,
        |  ROUND(CAST(c - d AS DOUBLE) / CAST(n0 - n1 AS DOUBLE), 6)
        |    AS somers_d_yx,
        |  ROUND(CAST(c - d AS DOUBLE) / CAST(n0 - n2 AS DOUBLE), 6)
        |    AS somers_d_xy
        |FROM pairs, tot, txa, tya""".stripMargin,
    "q_graph_avg_neighbor_degree" -> (Pipeline23.pairsHead + ",\n" +
      """deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM e0 GROUP BY src),
        |snd AS (SELECT e0.src, CAST(SUM(nd.deg) AS BIGINT) AS snd
        |  FROM e0 JOIN deg nd ON nd.src = e0.dst GROUP BY e0.src)
        |SELECT deg.deg, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  ROUND(CAST(SUM(snd) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * deg.deg), 6)
        |    AS avg_neighbor_deg
        |FROM deg JOIN snd ON deg.src = snd.src
        |GROUP BY deg.deg ORDER BY deg.deg""".stripMargin))
}
