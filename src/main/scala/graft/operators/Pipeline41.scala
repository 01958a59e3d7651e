package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.54 round-14 batch 9 — graph + temporal-dispersion closers:
  * Adamic-Adar link prediction (the degree-weighted second scorer
  * beside q_graph_common_neighbors' raw counts), directed-graph
  * reciprocity over the nation-level trade network (the one directed
  * readout the §2 graph family lacked — every other key runs on the
  * symmetric band graph), and gap burstiness (the moment-level
  * dispersion readout beside q_events_interarrival's percentiles).
  */
object Pipeline41 extends graft.QueryModule {

  /** ADAMIC-ADAR link prediction over the stored ≥8-band candidate
    * graph — q_graph_common_neighbors' wedge machinery with the
    * standard 1/ln(deg) middle weighting: rare shared neighbors
    * count more than promiscuous ones. Weights quantize to EXACT
    * micro units per middle (round(1e6/ln(deg)) — one ln per
    * distinct degree, integer sums after), so the pair scores are
    * order-free integers. Same hub cap ([[Pipeline23.cnHubCap]]) and
    * non-edge/cn≥2 gate as the unweighted key.
    *
    * 100 TB: wedges enumerate only through low-degree middles
    * (deg ≤ cap) against the stored pair list — never all-pairs;
    * the scale shape is q_graph_common_neighbors', audited clean. */
  def graphAdamicAdar(s: SparkSession, dir: String): DataFrame =
    adamicAdarFrom(TextOps.nearDupEdges(s, dir).localCheckpoint(true))

  /** AA core over any symmetric (src, dst) edge frame — split out so
    * Pipeline41Spec can pin weights on a synthetic wedge graph (the
    * graded fixture's band graph is a union of cliques, so its
    * non-edge frame is empty at every test SF — the
    * Pipeline23.commonNeighborsFrom precedent). */
  private[graft] def adamicAdarFrom(und: DataFrame): DataFrame = {
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val mid = deg
      .where(col("deg") <= Pipeline23.cnHubCap && col("deg") >= 2L)
      .select(col("src").as("w"),
        expr("cast(round(1000000.0D / ln(cast(deg as double)))" +
          " as bigint)").as("wt"))
    val wedge = und.select(col("dst").as("a"), col("src").as("w"))
      .join(mid, "w")
      .join(und.select(col("src").as("w"), col("dst").as("c")), "w")
      .where(col("a") < col("c"))
    val adj = und.where(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("c"))
    wedge.groupBy("a", "c")
      .agg(count(lit(1)).as("cn"), sum("wt").as("aa_micro"))
      .where(col("cn") >= 2)
      .join(adj, Seq("a", "c"), "left_anti")
      .select(col("a").as("d1"), col("c").as("d2"), col("cn"),
        col("aa_micro"))
      .orderBy("d1", "d2")
  }

  /** DIRECTED-GRAPH RECIPROCITY of the nation-level trade network —
    * edges customer-nation → supplier-nation weighted by lineitem
    * count; per source nation: out-degree, how many out-edges have a
    * reverse edge, and the weighted reciprocity Σmin(w, w_rev)/Σw —
    * the "is this relationship mutual" readout every directed-graph
    * pipeline (follows, trades, citations) runs. All integer counts;
    * one double division at the end.
    *
    * 100 TB: the fact-table pass is two partitioned joins (orders on
    * orderkey) + two broadcast dims; the reciprocity self-join runs
    * on the ≤|nations|² edge frame. */
  def graphReciprocity(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      col("w").as("w_rev"))
    edges.join(rev, Seq("src", "dst"), "left")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("out_edges"),
        sum(expr("if(w_rev is not null, 1L, 0L)")).as("reciprocated"),
        sum("w").as("w_out"),
        sum(expr("least(w, coalesce(w_rev, 0L))")).as("w_recip"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("src") === col("n_nationkey"))
      .selectExpr("n_name AS nation", "out_edges", "reciprocated",
        "w_out", "round(cast(w_recip as double) / w_out, 6)" +
          " as w_reciprocity")
      .orderBy("nation")
  }

  /** GAP BURSTINESS per event type — the moment-level dispersion
    * readout beside q_events_interarrival's percentile distribution:
    * coefficient of variation, the Goh-Barabási burstiness index
    * B = (σ−μ)/(σ+μ) (−1 periodic, 0 Poisson, →1 bursty), and the
    * Fano factor σ²/μ of the per-user inter-event gaps. Population
    * moments from EXACT integer micro-gap sums (Σg, Σg² in
    * decimal(38,0)/HUGEINT), one fixed double dag (+,−,×,/,sqrt —
    * IEEE-exact, DuckDB twin bitwise), rounded once.
    *
    * 100 TB: one window-lag pass partitioned by (type, user) —
    * bounded per-key state — then a map-side-partial moment agg. */
  def eventsBurstiness(s: SparkSession, dir: String): DataFrame = {
    val wu = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "user_id")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), col("ts"),
        col("event_id"))
      .withColumn("g",
        expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(wu))
      .where(col("g").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("g").as("s"),
        sum(expr("cast(g as decimal(38,0)) * g")).as("ss"))
      .selectExpr("event_type", "n",
        "cast(s as double) / n as m",
        "cast(ss as double) / n" +
          " - (cast(s as double) / n) * (cast(s as double) / n) as v")
      .selectExpr("event_type", "n",
        // seconds units: keeps the 4-6dp renders well inside the
        // double mantissa (µs-unit fano is ~1e11 — rounding 4dp
        // there is past the 15th significant digit and the two
        // engines' shortest-repr vs true-value rounding diverge)
        "round(m / 1000000, 6) as mean_s",
        "round(sqrt(v) / m, 6) as cv",
        "round((sqrt(v) - m) / (sqrt(v) + m), 6) as burstiness",
        "round(v / m / 1000000, 4) as fano_s")
      .orderBy("event_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_adamic_adar" -> graphAdamicAdar,
    "q_graph_reciprocity" -> graphReciprocity,
    "q_events_burstiness" -> eventsBurstiness)

  def oracleSql: Map[String, String] = Map(
    "q_graph_adamic_adar" -> (Pipeline23.pairsHead + ",\n" +
      s"""deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM e0 GROUP BY src),
        |mid AS (SELECT src AS w,
        |          CAST(ROUND(1000000.0 / ln(CAST(deg AS DOUBLE)))
        |            AS BIGINT) AS wt
        |        FROM deg WHERE deg <= ${Pipeline23.cnHubCap} AND deg >= 2),
        |wedge AS (SELECT w1.dst AS a, mid.wt, w2.dst AS c
        |          FROM e0 w1 JOIN mid ON mid.w = w1.src
        |          JOIN e0 w2 ON w2.src = w1.src
        |          WHERE w1.dst < w2.dst),
        |aa AS (SELECT a, c, CAST(COUNT(*) AS BIGINT) AS cn,
        |         CAST(SUM(wt) AS BIGINT) AS aa_micro
        |       FROM wedge GROUP BY a, c HAVING COUNT(*) >= 2)
        |SELECT aa.a AS d1, aa.c AS d2, aa.cn, aa.aa_micro
        |FROM aa LEFT JOIN pairs p ON p.d1 = aa.a AND p.d2 = aa.c
        |WHERE p.d1 IS NULL
        |ORDER BY d1, d2""".stripMargin),
    "q_graph_reciprocity" ->
      """WITH edges AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY src, dst),
        |j AS (SELECT e.src, e.w, r.w AS w_rev
        |      FROM edges e LEFT JOIN edges r
        |        ON r.src = e.dst AND r.dst = e.src),
        |g AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_edges,
        |    CAST(SUM(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS reciprocated,
        |    CAST(SUM(w) AS BIGINT) AS w_out,
        |    CAST(SUM(least(w, coalesce(w_rev, 0))) AS BIGINT) AS w_recip
        |  FROM j GROUP BY src)
        |SELECT n.n_name AS nation, g.out_edges, g.reciprocated, g.w_out,
        |  ROUND(CAST(w_recip AS DOUBLE) / w_out, 6) AS w_reciprocity
        |FROM g JOIN nation n ON g.src = n.n_nationkey
        |ORDER BY nation""".stripMargin,
    "q_events_burstiness" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY event_type, user_id
        |       ORDER BY ts, event_id) AS g
        |  FROM events),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(g) AS BIGINT) AS s,
        |    SUM(CAST(g AS HUGEINT) * g) AS ss
        |  FROM g WHERE g IS NOT NULL GROUP BY event_type),
        |v AS (SELECT event_type, n, CAST(s AS DOUBLE) / n AS m,
        |    CAST(ss AS DOUBLE) / n
        |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) AS v
        |  FROM m)
        |SELECT event_type, n, ROUND(m / 1000000, 6) AS mean_s,
        |  ROUND(sqrt(v) / m, 6) AS cv,
        |  ROUND((sqrt(v) - m) / (sqrt(v) + m), 6) AS burstiness,
        |  ROUND(v / m / 1000000, 4) AS fano_s
        |FROM v ORDER BY event_type""".stripMargin)
}
