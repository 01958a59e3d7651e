package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.59 round-14 batch 14 — sequence/context/cluster readouts:
  * event-path trigrams (the order-3 sequence census beside
  * q_events_markov's bigram transitions and q_ml_prefixspan's
  * patterns), keyword-in-context concordance (the corpus-inspection
  * window every annotation/debug loop runs), and the
  * Calinski-Harabasz cluster-validity index (the between/within
  * variance ratio beside q_ml_silhouette, exact off the int8 grid).
  */
object Pipeline46 extends graft.QueryModule {

  /** EVENT-PATH TRIGRAMS — per user, consecutive event-type triples
    * in (ts, event_id) order, counted corpus-wide with their ppm
    * share: the order-3 path census (markov grades ORDER-2
    * transition probabilities; prefixspan mines gappy patterns —
    * this is the exact contiguous-path count a funnel designer reads
    * first). Domain-bounded output (≤|types|³ rows).
    *
    * 100 TB: one window pass partitioned by user (bounded per-key
    * state), one map-side-partial count agg on the trigram domain. */
  def eventsPathTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val tri = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .where(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = tri.agg(sum("n")).head.getLong(0)
    tri.selectExpr("t1", "t2", "t3", "n",
        s"1000000 * n div ${tot}L as share_ppm")
      .orderBy("t1", "t2", "t3")
  }

  /** KEYWORD-IN-CONTEXT CONCORDANCE — every occurrence of the three
    * probe words with a ±2-token context window, assembled by array
    * slicing on the already-split token array (no self-join — the
    * doc row carries its own context). The corpus-inspection readout
    * behind every "show me how this word is used" debug loop.
    *
    * 100 TB: narrow per-doc projection + explode; output is bounded
    * by probe frequency, not corpus size. */
  def textConcordance(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.api.Text.tokenArray("text").as("toks"))
      .select(col("doc_id"), col("toks"),
        expr("size(toks)").as("n"), posexplode(col("toks")))
      .where(col("col").isin("spark", "join", "data"))
      .selectExpr("col as probe", "doc_id",
        "cast(pos + 1 as bigint) as ord",
        "concat_ws(' ', slice(toks, greatest(pos + 1 - 2, 1)," +
          " least(pos + 1 + 2, n) - greatest(pos + 1 - 2, 1) + 1))" +
          " as context")
      .orderBy("probe", "doc_id", "ord")

  /** CALINSKI-HARABASZ cluster-validity index over the label
    * partition of the embedding space — between/within variance
    * ratio (B/(k−1))/(W/(N−k)) on the int8 grid (the shared
    * floor(x·127) discipline): per-(cluster, dim) sum cells are
    * exact integers, each s²/n cell quantizes to exact milli units,
    * and W/B assemble from integer sums — order-free. The
    * global-variance sibling of q_ml_silhouette's per-point score.
    *
    * 100 TB: one explode + (label, dim) hash agg (640 cells); CH
    * arithmetic on the cell frame. */
  def mlCalinskiHarabasz(s: SparkSession, dir: String): DataFrame = {
    val long = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(graft.api.Vec.q127("embedding")))
      .select(col("label"), col("pos").as("dim"), col("col").as("xi"))
      .localCheckpoint(true)
    val ss = long.agg(sum(expr("xi * xi"))).head.getLong(0)
    val cells = long.groupBy("label", "dim")
      .agg(sum("xi").as("sc"), (count(lit(1))).as("nc"))
    val within = cells
      .agg(sum(expr("cast(round(1000.0D * sc * sc / nc) as bigint)"))
        .as("cell_milli"), countDistinct("label").as("k"),
        sum(expr("if(dim = 0, nc, 0L)")).as("n"))
    val total = long.groupBy("dim").agg(sum("xi").as("sd"),
        count(lit(1)).as("nd"))
      .agg(sum(expr("cast(round(1000.0D * sd * sd / nd) as bigint)"))
        .as("t_milli"))
    within.crossJoin(total)
      .selectExpr("n", "k",
        s"${ss}L * 1000 - cell_milli as w_milli",
        "cell_milli - t_milli as b_milli")
      .selectExpr("n", "k", "w_milli", "b_milli",
        "round((cast(b_milli as double) / (k - 1))" +
          " / (cast(w_milli as double) / (n - k)), 6) as ch")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_events_path_trigrams" -> eventsPathTrigrams,
    "q_text_concordance" -> textConcordance,
    "q_ml_calinski_harabasz" -> mlCalinskiHarabasz)

  def oracleSql: Map[String, String] = Map(
    "q_events_path_trigrams" ->
      """WITH tri AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |    lead(event_type, 2) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        |  FROM events),
        |c AS (SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tri WHERE t3 IS NOT NULL GROUP BY t1, t2, t3),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
        |SELECT t1, t2, t3, n,
        |  CAST((1000000 * n) // tot AS BIGINT) AS share_ppm
        |FROM c CROSS JOIN tot ORDER BY t1, t2, t3""".stripMargin,
    "q_text_concordance" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(str_split(lower(text), ' '), x -> x <> '')
        |      AS toks FROM documents),
        |o AS (SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(1, len(toks)+1)) AS ord FROM t)
        |SELECT toks[ord] AS probe, doc_id, CAST(ord AS BIGINT) AS ord,
        |  array_to_string(toks[greatest(ord - 2, 1):least(ord + 2, n)],
        |    ' ') AS context
        |FROM o WHERE toks[ord] IN ('spark', 'join', 'data')
        |ORDER BY probe, doc_id, ord""".stripMargin,
    "q_ml_calinski_harabasz" ->
      """WITH xs AS (SELECT label, list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 127.0) AS BIGINT)) AS xs
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |long AS (SELECT label, dim, xs[dim] AS xi
        |  FROM xs CROSS JOIN dims),
        |cells AS (SELECT label, dim, CAST(SUM(xi) AS BIGINT) AS sc,
        |    CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM long GROUP BY label, dim),
        |w AS (SELECT
        |    CAST(SUM(CAST(ROUND(1000.0 * sc * sc / nc) AS BIGINT))
        |      AS BIGINT) AS cell_milli,
        |    CAST(COUNT(DISTINCT label) AS BIGINT) AS k,
        |    CAST(SUM(CASE WHEN dim = 1 THEN nc ELSE 0 END) AS BIGINT)
        |      AS n
        |  FROM cells),
        |ss AS (SELECT CAST(SUM(xi * xi) AS BIGINT) AS ss FROM long),
        |tt AS (SELECT
        |    CAST(SUM(CAST(ROUND(1000.0 * sd * sd / nd) AS BIGINT))
        |      AS BIGINT) AS t_milli
        |  FROM (SELECT dim, CAST(SUM(xi) AS BIGINT) AS sd,
        |      CAST(COUNT(*) AS BIGINT) AS nd FROM long GROUP BY dim)),
        |f AS (SELECT n, k, ss * 1000 - cell_milli AS w_milli,
        |    cell_milli - t_milli AS b_milli
        |  FROM w CROSS JOIN ss CROSS JOIN tt)
        |SELECT n, k, w_milli, b_milli,
        |  ROUND((CAST(b_milli AS DOUBLE) / (k - 1))
        |    / (CAST(w_milli AS DOUBLE) / (n - k)), 6) AS ch
        |FROM f""".stripMargin)
}
