package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.72 round-15 batch 45 — verification and SQL-surface closers:
  * edit-distance verification of the stored near-dup candidates
  * (the character-level confirm step after MinHash's set-level
  * screen), the grouping()/grouping_id() readout over CUBE (the
  * super-aggregate row-labeling every BI layer needs), and the
  * per-key monotonicity profile (out-of-order event detection — the
  * ingestion-quality gate streaming watermarks depend on).
  */
object Pipeline77 extends graft.QueryModule {

  /** EDIT-DISTANCE VERIFY over the STORED >=8-band candidate pairs —
    * levenshtein(text1, text2) plus the length-normalized similarity
    * in ppm (1e6·(maxlen − dist) div maxlen): the character-level
    * confirm MinHash's set-level screen can't give (probed: Spark
    * and DuckDB agree on levenshtein — SURVEY §2.0.6). Exact
    * integers; total order by (d1, d2).
    *
    * 100 TB: the quadratic-per-pair kernel runs ONLY on the stored
    * candidate list (never all pairs); texts arrive via two
    * broadcast-able doc joins on the bounded pair frame. */
  def textEditDistance(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextOps.nearDupPairs(s, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    pairs
      .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")),
        Seq("d1"))
      .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")),
        Seq("d2"))
      .select(col("d1"), col("d2"),
        levenshtein(col("t1"), col("t2")).cast("long").as("dist"),
        greatest(length(col("t1")), length(col("t2"))).cast("long")
          .as("maxlen"))
      .withColumn("sim_ppm",
        expr("(1000000 * (maxlen - dist)) div maxlen"))
      .orderBy("d1", "d2")
  }

  /** GROUPING_ID over CUBE — the super-aggregate labeling surface:
    * CUBE(status, priority) with grouping(status), grouping(priority)
    * and grouping_id() distinguishing detail rows from the three
    * roll-up levels (the flags a BI layer keys legends on; without
    * them NULL-as-value and NULL-as-total are indistinguishable).
    * Counts exact; total order by (gid, status, priority) with
    * null-safe string keys.
    *
    * 100 TB: one Expand (×4) + hash agg — the q_agg_cube plan with
    * the labeling columns carried through. */
  def aggGroupingId(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_gid_orders")
    s.sql(
      """SELECT coalesce(o_orderstatus, '<all>') AS status,
        |  coalesce(o_orderpriority, '<all>') AS priority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
        |    AS gid,
        |  COUNT(*) AS n
        |FROM graft_gid_orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin)
  }

  /** MONOTONICITY PROFILE — are per-user event timestamps ingested
    * in order? Per user the lag-window inversion count ((ts, id)
    * strictly decreasing steps) rolls up to the corpus summary:
    * users checked, users with inversions, total inversions,
    * max per-user inversion count, inversion ppm of all steps — the
    * out-of-order readout that sizes streaming watermark delays.
    *
    * 100 TB: one per-user lag window (the sessionize shuffle) + one
    * summary agg; nothing global. */
  def profileMonotonic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("event_id").asc)
    val steps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("t"))
      .withColumn("prev_t", lag("t", 1).over(w))
      .where(col("prev_t").isNotNull)
      .select(col("user_id"),
        when(col("t") < col("prev_t"), 1L).otherwise(0L).as("inv"))
    val perUser = steps.groupBy("user_id")
      .agg(count(lit(1)).as("n_steps"), sum("inv").as("n_inv"))
    perUser.agg(count(lit(1)).as("n_users"),
        sum(when(col("n_inv") > 0, 1L).otherwise(0L))
          .as("users_with_inversions"),
        sum("n_inv").as("total_inversions"),
        max("n_inv").as("max_user_inversions"),
        sum("n_steps").as("n_steps"))
      .select(col("n_users"), col("users_with_inversions"),
        col("total_inversions"), col("max_user_inversions"),
        expr("(1000000 * total_inversions) div n_steps")
          .as("inversion_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_edit_distance" -> textEditDistance,
    "q_agg_grouping_id" -> aggGroupingId,
    "q_profile_monotonic" -> profileMonotonic)

  def oracleSql: Map[String, String] = Map(
    "q_text_edit_distance" ->
      s"""WITH sh AS MATERIALIZED (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM (${TextOps.shinglesSql})),
        |perms(perm, a, b) AS MATERIALIZED (VALUES ${TextOps.permValuesSql}),
        |sig AS MATERIALIZED (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms GROUP BY doc_id, perm),
        |prs AS MATERIALIZED (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |          FROM sig s1 JOIN sig s2
        |            ON s1.perm = s2.perm AND s1.minh = s2.minh
        |           AND s1.doc_id < s2.doc_id
        |          GROUP BY d1, d2 HAVING COUNT(*) >= 8)
        |SELECT p.d1, p.d2,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
        |  CAST(greatest(strlen(a.text), strlen(b.text)) AS BIGINT)
        |    AS maxlen,
        |  CAST((1000000 * (greatest(strlen(a.text), strlen(b.text))
        |    - levenshtein(a.text, b.text)))
        |    // greatest(strlen(a.text), strlen(b.text)) AS BIGINT)
        |    AS sim_ppm
        |FROM prs p JOIN documents a ON a.doc_id = p.d1
        |JOIN documents b ON b.doc_id = p.d2
        |ORDER BY p.d1, p.d2""".stripMargin,
    "q_agg_grouping_id" ->
      """SELECT coalesce(o_orderstatus, '<all>') AS status,
        |  coalesce(o_orderpriority, '<all>') AS priority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(grouping(o_orderstatus) * 2
        |    + grouping(o_orderpriority) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "q_profile_monotonic" ->
      """WITH st AS (SELECT user_id,
        |    CASE WHEN epoch_us(ts) < lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY event_id ASC)
        |      THEN 1 ELSE 0 END AS inv,
        |    lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY event_id ASC) AS prev_t
        |  FROM events),
        |pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_steps,
        |    CAST(SUM(inv) AS BIGINT) AS n_inv
        |  FROM st WHERE prev_t IS NOT NULL GROUP BY user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN n_inv > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS users_with_inversions,
        |  CAST(SUM(n_inv) AS BIGINT) AS total_inversions,
        |  CAST(MAX(n_inv) AS BIGINT) AS max_user_inversions,
        |  CAST((1000000 * SUM(n_inv)) // SUM(n_steps) AS BIGINT)
        |    AS inversion_ppm
        |FROM pu""".stripMargin)
}
