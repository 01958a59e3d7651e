package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.39 round-13 batch 2 — graph-profile and calendar-profile
  * closers: exact integer modularity of the LPA community map (the
  * quality score FOR q_graph_lpa), the candidate-graph degree
  * histogram, and the weekday seasonality profile of the event
  * stream — every key oracle-exact.
  */
object Pipeline26 extends graft.QueryModule {

  /** GRAPH MODULARITY of the LPA community map (Pipeline25.lpaParts —
    * the SAME 4-round labels q_graph_lpa reports): per community,
    * size, intra-edge count, degree sum, and the exact-integer
    * community term of Newman modularity
    * Q_c = e_c/m − (d_c/2m)² rendered as ppm of the common
    * denominator 4m²: q_ppm = (1e6·(4·m·e_c − d_c²)) div (4m²),
    * sign-split truncation (the q_time_holt rule — a hub-heavy
    * community's term is legitimately negative). Σ q_ppm ≈ 1e6·Q,
    * the standard community-quality readout.
    *
    * The edge total m is a bounded driver-side count of the
    * support-sized STORED pair frame (the word2vec-probe precedent)
    * attached as a literal — deliberately NOT a crossJoin(broadcast)
    * scalar attach, so the q_graph_* family keeps its suite-level
    * zero-funnel pin (PlanShapeSpec).
    *
    * 100 TB: everything runs on the support-sized band graph — two
    * hash equi-joins (labels onto pairs), one hash agg per statistic;
    * arithmetic in decimal(38,0). */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val (pairs, und, labels) = Pipeline25.lpaParts(s, dir)
    val m = pairs.count() // bounded: stored support-sized pair frame
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val dsum = labels
      .join(deg, labels("node") === deg("src"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_docs"), sum("deg").as("deg_sum"))
    val intra = pairs
      .join(labels.select(col("node").as("d1"), col("label").as("l1")),
        "d1")
      .join(labels.select(col("node").as("d2"), col("label").as("l2")),
        "d2")
      .where(col("l1") === col("l2"))
      .groupBy(col("l1").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    dsum.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .withColumn("num", expr(
        s"4 * cast($m as decimal(38,0)) * intra_edges" +
          " - cast(deg_sum as decimal(38,0)) * deg_sum"))
      .select(col("community"), col("n_docs"), col("intra_edges"),
        col("deg_sum"),
        expr(s"cast(case when num >= 0 then (1000000 * num)" +
          s" div (4 * cast($m as decimal(38,0)) * $m)" +
          s" else -((-1000000 * num)" +
          s" div (4 * cast($m as decimal(38,0)) * $m)) end as bigint)")
          .as("q_ppm"))
      .orderBy("community")
  }

  /** DEGREE DISTRIBUTION of the stored ≥8-band candidate graph — the
    * first graph-profile readout (hub detection, the dial behind the
    * q_graph_common_neighbors hub cap): per degree value, node count
    * and exact ppm share of all nodes. The node total is a bounded
    * driver-side count of the support-sized degree frame (see
    * [[graphModularity]]); no window, no funnel — the q_graph_*
    * suite pin holds.
    *
    * 100 TB: one hash agg over the support-sized edge list, one over
    * the degree frame. */
  def graphDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val deg = TextOps.nearDupEdges(s, dir)
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // histogram + the bounded total count below
    val nTotal = deg.count()
    deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .select(col("deg"), col("n_nodes"),
        expr(s"(1000000 * n_nodes) div $nTotal").as("share_ppm"))
      .orderBy("deg")
  }

  /** WEEKDAY SEASONALITY profile per event type — the calendar
    * complement of q_events_autocorr's lag-7 detector: per
    * (type, weekday 0 = Monday), event count, exact revenue cents,
    * ppm share of the type's events, and the busyness rank
    * ((n desc, weekday asc) tie-break). Weekday is Spark `weekday`
    * (0 = Monday) == DuckDB `isodow − 1` — the one day-numbering
    * pair the two engines define identically (dayofweek disagrees:
    * Spark Sunday=1, DuckDB Sunday=0).
    *
    * 100 TB: one full-data (type × 7) hash agg; share join and rank
    * window run on the ≤ 7·|types| support frame, partitioned by
    * type. */
  def eventsSeasonality(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .groupBy(col("event_type"), weekday(to_date(col("ts"))).as("wd"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
    val tot = base.groupBy("event_type").agg(sum("n").as("n_type"))
    base.join(broadcast(tot), "event_type")
      .withColumn("rnk", row_number().over(Window
        .partitionBy("event_type")
        .orderBy(col("n").desc, col("wd").asc)).cast("long"))
      .select(col("event_type"), col("wd").cast("long").as("wd"),
        col("n"), col("cents"),
        expr("(1000000 * n) div n_type").as("share_ppm"), col("rnk"))
      .orderBy("event_type", "wd")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_modularity" -> graphModularity,
    "q_graph_degree_dist" -> graphDegreeDist,
    "q_events_seasonality" -> eventsSeasonality)

  def oracleSql: Map[String, String] = Map(
    "q_graph_modularity" -> (Pipeline25.lpaCtePrefix + ",\n" +
      """deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM e0 GROUP BY src),
        |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM pairs),
        |dsum AS (SELECT l.label AS community,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(d.deg) AS BIGINT) AS deg_sum
        |  FROM l4 l JOIN deg d ON d.src = l.node GROUP BY l.label),
        |intra AS (SELECT a.label AS community,
        |    CAST(COUNT(*) AS BIGINT) AS n_edges
        |  FROM pairs p JOIN l4 a ON a.node = p.d1
        |  JOIN l4 b ON b.node = p.d2
        |  WHERE a.label = b.label GROUP BY a.label),
        |t AS (SELECT s.community, s.n_docs,
        |    CAST(COALESCE(i.n_edges, 0) AS BIGINT) AS intra_edges,
        |    s.deg_sum,
        |    4 * (SELECT m FROM mm) * COALESCE(i.n_edges, 0)
        |      - CAST(s.deg_sum AS HUGEINT) * s.deg_sum AS num
        |  FROM dsum s LEFT JOIN intra i USING (community))
        |SELECT community, n_docs, intra_edges, deg_sum,
        |  CAST(CASE WHEN num >= 0 THEN (1000000 * num)
        |      // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))
        |    ELSE -((-1000000 * num)
        |      // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))) END
        |    AS BIGINT) AS q_ppm
        |FROM t ORDER BY community""".stripMargin),
    "q_graph_degree_dist" -> (Pipeline23.pairsHead + ",\n" +
      """deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM e0 GROUP BY src),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)
        |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST((1000000 * COUNT(*)) // (SELECT n FROM nt) AS BIGINT)
        |    AS share_ppm
        |FROM deg GROUP BY deg ORDER BY deg""".stripMargin),
    "q_events_seasonality" ->
      """WITH base AS (SELECT event_type,
        |    CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS wd,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY event_type, isodow(CAST(ts AS DATE))),
        |tot AS (SELECT event_type, SUM(n) AS n_type
        |        FROM base GROUP BY event_type)
        |SELECT b.event_type, b.wd, b.n, CAST(b.cents AS BIGINT) AS cents,
        |  CAST((1000000 * b.n) // t.n_type AS BIGINT) AS share_ppm,
        |  CAST(row_number() OVER (PARTITION BY b.event_type
        |    ORDER BY b.n DESC, b.wd ASC) AS BIGINT) AS rnk
        |FROM base b JOIN tot t ON t.event_type = b.event_type
        |ORDER BY b.event_type, b.wd""".stripMargin)
}
