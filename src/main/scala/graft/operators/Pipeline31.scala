package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.44 round-13 batch 7 — graph-ranked keywords (TextRank: the
  * integer-mass PageRank machinery over the word co-occurrence graph)
  * and the streaming distinct-cardinality window (exact batch twin
  * graded; the mergeable-sketch path is the streaming production
  * plan, pinned in StreamingSpec).
  */
object Pipeline31 extends graft.QueryModule {

  /** TEXTRANK KEYWORDS — graph-based keyword extraction (the
    * centrality complement of q_text_rake's degree scoring): nodes
    * are corpus words (engine-neutral polyHash ids, the MinHash
    * shingle-id discipline), edges are DISTINCT adjacent-token pairs
    * (raw-split ordinals, the q_text_tokenize numbering), ranked by
    * the SAME 3-round integer-mass PageRank q_graph_pagerank runs
    * (graft.api.Graph.pagerankMicro — deterministic on any engine or
    * partitioning), top-20 by (rank desc, word asc).
    *
    * 100 TB: one tokenize pass → distinct pair agg (vocabulary-sized
    * edge list); each PageRank round is one equi-join + hash agg on
    * the support-sized graph; the word dictionary joins back
    * broadcast. r16: adjacent pairs zip straight out of the per-doc
    * token ARRAY (consecutive non-empty tokens — exactly what the old
    * per-doc lead() window produced, without shuffling + sorting the
    * row-scale token stream), and the dictionary derives from the
    * edge endpoints (the rank join is inner on edge nodes, so
    * non-edge words never mattered). */
  def textTextrank(s: SparkSession, dir: String): DataFrame = {
    val adj = Tables.documents(s, dir)
      .select(graft.api.Text.tokenArray("text").as("ts"))
      .where(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1)," +
          " i -> struct(ts[i - 1] as a, ts[i] as b))")).as("p"))
      .where(expr("p.a <> p.b"))
      .select(least(col("p.a"), col("p.b")).as("w1"),
        greatest(col("p.a"), col("p.b")).as("w2"))
      .distinct()
      .localCheckpoint()
    val edges = adj
      .select(TextOps.polyHash("w1").as("d1"),
        TextOps.polyHash("w2").as("d2"))
    val words = adj.select(explode(array(col("w1"), col("w2"))).as("word"))
      .distinct()
      .select(col("word"), TextOps.polyHash("word").as("node"))
    graft.api.Graph.pagerankMicro(edges, "d1", "d2", iters = 3)
      .join(broadcast(words), "node")
      .select(col("word"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("word").asc)
      .limit(20)
  }

  /** DISTINCT-USER WINDOW CARDINALITY — hourly tumbling distinct
    * users per event type, graded as the EXACT batch computation
    * (countDistinct per window — oracle-able). The streaming
    * production path is the mergeable sketch (approx_count_distinct
    * in the watermarked windowed agg — per-window state is one HLL
    * register set instead of a user SET, the q_stream_freq_topk
    * mergeable-state discipline); StreamingSpec runs the real
    * readStream twin and pins the estimate within 5% of this exact
    * frame on every window.
    *
    * 100 TB: the exact twin shuffles distinct (window, type, user)
    * once; the streaming sketch path carries fixed-size per-window
    * state under the watermark. */
  def streamDistinctWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_users"), col("n_events"))
      .orderBy("window_start", "event_type")

  /** The streaming twin of [[streamDistinctWindow]] — the sketch
    * path StreamingSpec drives through a real MemoryStream: windowed
    * approx_count_distinct under a 2 h watermark. */
  def streamDistinctSketch(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct("user_id", 0.02).as("n_users_approx"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_users_approx"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_textrank" -> textTextrank,
    "q_stream_distinct_window" -> streamDistinctWindow)

  private def textrankOracleSql: String = {
    val head =
      s"""WITH tok AS (SELECT doc_id, s AS ord, tokens[s] AS token
        |  FROM (SELECT doc_id, tokens,
        |          unnest(range(1, len(tokens)+1)) AS s
        |        FROM (SELECT doc_id, str_split(lower(text), ' ') AS tokens
        |              FROM documents))
        |  WHERE tokens[s] <> ''),
        |adj0 AS (SELECT t.doc_id, t.token AS a,
        |    lead(t.token) OVER (PARTITION BY t.doc_id ORDER BY t.ord)
        |      AS b
        |  FROM tok t),
        |adj AS (SELECT DISTINCT LEAST(a, b) AS w1, GREATEST(a, b) AS w2
        |        FROM adj0 WHERE b IS NOT NULL AND a <> b),
        |pairs AS (SELECT ${TextOps.polyHashSql("w1")} AS d1,
        |                 ${TextOps.polyHashSql("w2")} AS d2
        |          FROM adj),
        |und AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |        UNION ALL SELECT d2, d1 FROM pairs),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM und GROUP BY src),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
        |r0 AS (SELECT d.src AS node, d.deg, 1000000000000 // n.n AS r
        |       FROM deg d CROSS JOIN nn n)""".stripMargin
    val steps = (1 to 3).map { i =>
      s"""r$i AS (SELECT d.src AS node, d.deg,
        |  (15 * (1000000000000 // n.n)) // 100 + (85 * f.s) // 100 AS r
        |  FROM deg d CROSS JOIN nn n
        |  JOIN (SELECT u.dst AS fnode, SUM(p.r // p.deg) AS s
        |        FROM und u JOIN r${i - 1} p ON p.node = u.src
        |        GROUP BY u.dst) f ON f.fnode = d.src)""".stripMargin
    }
    head + ",\n" + steps.mkString(",\n") + ",\n" +
      s"""words AS (SELECT DISTINCT token AS word,
        |    ${TextOps.polyHashSql("token")} AS node FROM tok)
        |SELECT w.word, CAST(r.r AS BIGINT) AS rank_micro
        |FROM r3 r JOIN words w ON w.node = r.node
        |ORDER BY rank_micro DESC, word ASC LIMIT 20""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_text_textrank" -> textrankOracleSql,
    "q_stream_distinct_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)
}
