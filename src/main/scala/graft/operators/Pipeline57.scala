package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.64g round-14 batch 25 — coverage closers across three families:
  * systematic sampling (the fixed-stride member the sampling family
  * lacks), Yule's K / Simpson's D lexical concentration (the
  * frequency-SPECTRUM readout beside heaps/zipf/hapax's growth
  * curves), and the rich-club coefficient (do high-degree nodes
  * preferentially connect to each other?).
  */
object Pipeline57 extends graft.QueryModule {

  /** SYSTEMATIC SAMPLE of orders: every 97th order by o_orderkey rank
    * (offset 13) — the fixed-stride design q_sample_hash (pseudo-
    * random) and q_sample_stratified (per-group) don't cover; stride
    * sampling preserves any periodicity-free ordering structure and
    * is the classic audit sample. Rank comes from the banded
    * prefix-sum machinery (the q_win_ntile shape), NOT a global sort.
    *
    * 100 TB: one band hash agg + a broadcast band-offset join; the
    * per-band row_number windows are band-local. */
  def sampleSystematic(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)")
          .as("price_cents"))
    graft.api.Dist.bandedRank(base, Seq(), "o_orderkey", "o_orderkey",
        bandWidth = 16384L)
      .where(expr("rank % 97 = 13"))
      .select(col("o_orderkey"), col("rank"), col("price_cents"))
      .orderBy("o_orderkey")
  }

  /** YULE'S K and SIMPSON'S D over the document corpus — vocabulary
    * CONCENTRATION from the frequency spectrum V(m) (#types occurring
    * m times): K = 10^4 (sum m^2 V(m) − N)/N^2, D = sum f(f−1) /
    * (N(N−1)) — repeat-richness beside q_text_heaps_law's growth
    * exponent and q_text_hapax's tail count. Pure integer sums, two
    * double divisions at the end.
    *
    * 100 TB: one token hash agg to the type-frequency frame; the
    * spectrum fold is a second agg on that (vocab-sized) frame. */
  def textYulesK(s: SparkSession, dir: String): DataFrame = {
    graft.api.Text.tokens(Tables.documents(s, dir), "doc_id", "text")
      .groupBy("token").agg(count(lit(1)).as("f"))
      .agg(sum("f").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(expr("cast(f as decimal(38,0)) * f")).as("sff"),
        sum(expr("cast(f as decimal(38,0)) * (f - 1)")).as("sf1"))
      .selectExpr("n_tokens", "vocab",
        "round(10000.0D * cast(sff - n_tokens as double)" +
          " / (cast(n_tokens as double) * n_tokens), 6) as yules_k",
        "round(cast(sf1 as double) / (cast(n_tokens as double)" +
          " * (n_tokens - 1)), 6) as simpson_d")
  }

  /** RICH-CLUB COEFFICIENT of the stored >=8/16-band near-dup graph:
    * for k in {1, 2, 4, 8}, phi(k) = 2·E_k / (N_k(N_k−1)) where N_k =
    * nodes with degree > k and E_k = undirected edges with BOTH
    * endpoints above k — do the hub documents form a clique-ish core?
    * The density-of-the-core readout q_graph_kcore's peeling and
    * q_graph_assortativity's global r don't give.
    *
    * 100 TB: degree = one hash agg on the stored pair list; per-edge
    * min-degree = two equi-joins against the degree frame; the node
    * and edge threshold counts fold in ONE conditional agg over the
    * tagged union of the two frames (graph-family rule: pure
    * equi-joins, no scalar-attach BNLJ), unpivoted with stack(). */
  def graphRichClub(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .localCheckpoint(true)
    val deg = pairs.select(col("d1").as("v"))
      .union(pairs.select(col("d2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val edgeMin = pairs
      .join(deg.select(col("v").as("d1"), col("deg").as("g1")), "d1")
      .join(deg.select(col("v").as("d2"), col("deg").as("g2")), "d2")
      .select(least(col("g1"), col("g2")).as("x"))
    deg.select(lit("n").as("kind"), col("deg").as("x"))
      .union(edgeMin.select(lit("e").as("kind"), col("x")))
      .agg(
        sum(expr("if(kind = 'n' and x > 1, 1L, 0L)")).as("n1"),
        sum(expr("if(kind = 'n' and x > 2, 1L, 0L)")).as("n2"),
        sum(expr("if(kind = 'n' and x > 4, 1L, 0L)")).as("n4"),
        sum(expr("if(kind = 'n' and x > 8, 1L, 0L)")).as("n8"),
        sum(expr("if(kind = 'e' and x > 1, 1L, 0L)")).as("e1"),
        sum(expr("if(kind = 'e' and x > 2, 1L, 0L)")).as("e2"),
        sum(expr("if(kind = 'e' and x > 4, 1L, 0L)")).as("e4"),
        sum(expr("if(kind = 'e' and x > 8, 1L, 0L)")).as("e8"))
      .selectExpr(
        "stack(4, 1L, n1, e1," +
          " round(2.0D * e1 / nullif(cast(n1 as double) * (n1 - 1), 0D), 6)," +
          " 2L, n2, e2," +
          " round(2.0D * e2 / nullif(cast(n2 as double) * (n2 - 1), 0D), 6)," +
          " 4L, n4, e4," +
          " round(2.0D * e4 / nullif(cast(n4 as double) * (n4 - 1), 0D), 6)," +
          " 8L, n8, e8," +
          " round(2.0D * e8 / nullif(cast(n8 as double) * (n8 - 1), 0D), 6))" +
          " as (k, n_rich, e_rich, phi)")
      .orderBy("k")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sample_systematic" -> sampleSystematic,
    "q_text_yules_k" -> textYulesK,
    "q_graph_rich_club" -> graphRichClub)

  def oracleSql: Map[String, String] = Map(
    "q_sample_systematic" ->
      """WITH ranked AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT)
        |      AS rank
        |  FROM orders)
        |SELECT o_orderkey, rank, price_cents FROM ranked
        |WHERE rank % 97 = 13 ORDER BY o_orderkey""".stripMargin,
    "q_text_yules_k" ->
      s"""WITH tok AS (${graft.operators.ExtraText.tokensSql}),
        |freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM tok GROUP BY token),
        |m AS (SELECT CAST(SUM(f) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sff,
        |    CAST(SUM(CAST(f AS HUGEINT) * (f - 1)) AS HUGEINT) AS sf1
        |  FROM freq)
        |SELECT n_tokens, vocab,
        |  ROUND(10000.0 * CAST(sff - n_tokens AS DOUBLE)
        |    / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yules_k,
        |  ROUND(CAST(sf1 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
        |    * (n_tokens - 1)), 6) AS simpson_d
        |FROM m""".stripMargin,
    "q_graph_rich_club" -> (Pipeline23.pairsHead + ",\n" +
      """deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM e0 GROUP BY src),
        |na AS (SELECT
        |    CAST(SUM(CASE WHEN deg > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN deg > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN deg > 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(SUM(CASE WHEN deg > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n8
        |  FROM deg),
        |ea AS (SELECT
        |    CAST(SUM(CASE WHEN mg > 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
        |    CAST(SUM(CASE WHEN mg > 2 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
        |    CAST(SUM(CASE WHEN mg > 4 THEN 1 ELSE 0 END) AS BIGINT) AS e4,
        |    CAST(SUM(CASE WHEN mg > 8 THEN 1 ELSE 0 END) AS BIGINT) AS e8
        |  FROM (SELECT least(a.deg, b.deg) AS mg FROM pairs
        |        JOIN deg a ON a.v = d1 JOIN deg b ON b.v = d2))
        |SELECT CAST(1 AS BIGINT) AS k, n1 AS n_rich, e1 AS e_rich,
        |  ROUND(2.0 * e1 / nullif(CAST(n1 AS DOUBLE) * (n1 - 1), 0), 6)
        |    AS phi FROM na, ea
        |UNION ALL SELECT 2, n2, e2,
        |  ROUND(2.0 * e2 / nullif(CAST(n2 AS DOUBLE) * (n2 - 1), 0), 6)
        |  FROM na, ea
        |UNION ALL SELECT 4, n4, e4,
        |  ROUND(2.0 * e4 / nullif(CAST(n4 AS DOUBLE) * (n4 - 1), 0), 6)
        |  FROM na, ea
        |UNION ALL SELECT 8, n8, e8,
        |  ROUND(2.0 * e8 / nullif(CAST(n8 AS DOUBLE) * (n8 - 1), 0), 6)
        |  FROM na, ea
        |ORDER BY k""".stripMargin))
}
