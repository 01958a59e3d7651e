package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.21 round-8 batch 2: the table-MAINTENANCE and monitoring
  * operators a long-lived 100 TB corpus accumulates around itself —
  * CDC upsert/delete merge (keeping a snapshot current from deltas),
  * SCD type-2 history (dimension versioning), rolling z-score anomaly
  * detection (the telemetry gate on incoming shards), and weighted
  * PPS systematic sampling (size-proportional eval draws). All four
  * have exact DuckDB oracle twins.
  */
object Pipeline8 extends graft.QueryModule {

  /** The deterministic CDC change batch for [[mergeUpsert]]: derived
    * from orders itself so every SF has a fixture — updates (status
    * rewrite) on keys ≡ 3 (mod 10), deletes on keys ≡ 7 (mod 100),
    * inserts as key+1e9 clones of keys ≡ 4 (mod 10). The three key
    * classes are disjoint, so the batch holds one row per key (the
    * CDC compaction contract mergeUpsert documents). */
  private def orderChanges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val cols = Seq(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))
    o.where(pmod(col("o_orderkey"), lit(10)) === 3)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("X").as("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"), lit("U").as("op"))
      .unionByName(o.where(pmod(col("o_orderkey"), lit(100)) === 7)
        .select(cols :+ lit("D").as("op"): _*))
      .unionByName(o.where(pmod(col("o_orderkey"), lit(10)) === 4)
        .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey") +:
          cols.tail :+ lit("U").as("op"): _*))
  }

  /** CDC MERGE: orders snapshot + compacted change batch (updates,
    * deletes, inserts) → last-writer-wins current snapshot
    * (graft.api.Rel.mergeUpsert — broadcast anti-join + union; the
    * 100 TB base is never shuffled). */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame =
    graft.api.Rel.mergeUpsert(Tables.orders(s, dir),
        orderChanges(s, dir), "o_orderkey")
      .orderBy("o_orderkey")

  /** SCD TYPE-2 history of each user's event_type from the events
    * change log (graft.api.Rel.scd2History): change points only,
    * versioned [valid_from, valid_to) intervals, valid_to NULL while
    * current; ties on ts break by event_id. */
  def mergeScd2(s: SparkSession, dir: String): DataFrame =
    graft.api.Rel.scd2History(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "version")

  /** Rolling z-score anomaly flags on the hourly per-type event-count
    * series (graft.api.Events.rollingAnomaly): trailing 24 observed
    * hours, exact integer moments, |z| > 3 flags, warm-up scores
    * NULL. */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.api.Events.rollingAnomaly(Tables.events(s, dir),
        "event_type", "ts", win = 24)
      .orderBy("event_type", "hr")

  /** DAU / MAU / stickiness over the events stream
    * (graft.api.Events.dauMau): per observed day, distinct daily
    * actives, trailing-28-day distinct actives, and their exact ppm
    * ratio. */
  def eventsDauMau(s: SparkSession, dir: String): DataFrame =
    graft.api.Events.dauMau(Tables.events(s, dir), "user_id", "ts")
      .orderBy("day")

  /** Weighted PPS systematic sample of ~100 documents by char weight
    * (graft.api.Sample.ppsSystematic): hash-order line, exact integer
    * grid-crossing selection, distributed bucketed prefix sum. */
  def samplePps(s: SparkSession, dir: String): DataFrame =
    graft.api.Sample.ppsSystematic(Tables.documents(s, dir),
        "doc_id", "n_chars", k = 100L)
      .orderBy("doc_id")

  /** Integer-mass PageRank over the near-dup candidate graph (the
    * stored-signature MinHash pairs — the same edge list
    * q_dedup_cluster components): centrality of each doc inside its
    * dup cluster, 3 fixed iterations, all-integer redistribution
    * (graft.api.Graph.pagerankMicro — deterministic on any engine,
    * partitioning or schedule). */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
    graft.api.Graph.pagerankMicro(pairs, "d1", "d2", iters = 3)
      .select(col("node").as("doc_id"), col("rank_micro"))
      .orderBy("doc_id")
  }

  /** The unrolled-CTE oracle for [[graphPagerank]] — the BPE-train
    * pattern: k fixed iterations generate k chained CTEs, each the
    * integer-exact twin of one Spark superstep. */
  private def pagerankOracleSql(iters: Int): String = {
    val head =
      s"""WITH sh AS (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM (${TextOps.shinglesSql})),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms GROUP BY doc_id, perm),
        |pairs AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |          FROM sig s1 JOIN sig s2
        |            ON s1.perm = s2.perm AND s1.minh = s2.minh
        |           AND s1.doc_id < s2.doc_id
        |          GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |und AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |        UNION ALL SELECT d2, d1 FROM pairs),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM und GROUP BY src),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
        |r0 AS (SELECT d.src AS node, d.deg, 1000000000000 // n.n AS r
        |       FROM deg d CROSS JOIN nn n)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT d.src AS node, d.deg,
        |  (15 * (1000000000000 // n.n)) // 100 + (85 * f.s) // 100 AS r
        |  FROM deg d CROSS JOIN nn n
        |  JOIN (SELECT u.dst AS fnode, SUM(p.r // p.deg) AS s
        |        FROM und u JOIN r${i - 1} p ON p.node = u.src
        |        GROUP BY u.dst) f ON f.fnode = d.src)""".stripMargin
    }
    head + ",\n" + steps.mkString(",\n") +
      s"\nSELECT node AS doc_id, CAST(r AS BIGINT) AS rank_micro" +
      s"\nFROM r$iters ORDER BY doc_id"
  }

  /** Span-level exact duplicate report over documents: repeated
    * 8-word spans across >= 2 docs with occurrence counts and the
    * first occurrence (graft.api.Dedup.spanDuplicates) — the
    * substring-dedup complement of the document-level MinHash
    * family. */
  def dedupSpan(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.spanDuplicates(Tables.documents(s, dir),
        "doc_id", "text", n = 8)
      .orderBy("gram")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_span" -> dedupSpan,
    "q_merge_upsert" -> mergeUpsert,
    "q_merge_scd2" -> mergeScd2,
    "q_events_anomaly" -> eventsAnomaly,
    "q_events_dau_mau" -> eventsDauMau,
    "q_sample_pps" -> samplePps,
    "q_graph_pagerank" -> graphPagerank)

  def oracleSql: Map[String, String] = Map(
    "q_merge_upsert" ->
      """WITH changes AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'D'
        |  FROM orders WHERE o_orderkey % 100 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority, 'U'
        |  FROM orders WHERE o_orderkey % 10 = 4)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM changes WHERE op = 'U'
        |ORDER BY o_orderkey""".stripMargin,
    "q_merge_scd2" ->
      """WITH ch AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev
        |  FROM events),
        |cp AS (SELECT * FROM ch
        |       WHERE prev IS DISTINCT FROM event_type)
        |SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |  event_type, ts AS valid_from,
        |  lead(ts) OVER w AS valid_to
        |FROM cp
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q_events_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |         CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, hr, n_events,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |    CAST(SUM(n_events) OVER w AS BIGINT) AS s,
        |    CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS ss
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |scored AS (
        |  SELECT event_type, hr, n_events,
        |    CASE WHEN n < 24 OR n * ss = s * s THEN NULL
        |         ELSE ROUND((CAST(n_events * n - s AS DOUBLE) / n)
        |           / sqrt(CAST(n * ss - s * s AS DOUBLE)
        |                  / (n * (n - 1))), 6)
        |    END AS z
        |  FROM r)
        |SELECT event_type, hr, n_events, z,
        |       COALESCE(ABS(z) > 3.0, FALSE) AS anomaly
        |FROM scored
        |ORDER BY event_type, hr""".stripMargin,
    "q_dedup_span" ->
      """WITH tok AS (
        |  SELECT doc_id, str_split(lower(text), ' ') AS l
        |  FROM documents WHERE len(str_split(lower(text), ' ')) >= 8),
        |occ AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(l[i:i+7], ' ')
        |            for i in range(1, len(l) - 6)]) AS gram,
        |    unnest([i - 1 for i in range(1, len(l) - 6)]) AS pos
        |  FROM tok),
        |perdoc AS (
        |  SELECT gram, doc_id, CAST(COUNT(*) AS BIGINT) AS occ,
        |         MIN(pos) AS min_pos
        |  FROM occ GROUP BY gram, doc_id),
        |dup AS (
        |  SELECT gram,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(occ) AS BIGINT) AS n_occ,
        |    CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        |    CAST(ARG_MIN(min_pos, doc_id) AS BIGINT) AS first_pos
        |  FROM perdoc GROUP BY gram HAVING COUNT(*) >= 2)
        |SELECT gram, n_docs, n_occ, first_doc, first_pos
        |FROM dup ORDER BY gram""".stripMargin,
    "q_events_dau_mau" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events),
        |dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM act GROUP BY d),
        |span AS (
        |  SELECT DISTINCT u, d FROM (
        |    SELECT u, CAST(unnest(generate_series(
        |      CAST(d AS TIMESTAMP), CAST(d AS TIMESTAMP)
        |        + INTERVAL 27 DAY, INTERVAL 1 DAY)) AS DATE) AS d
        |    FROM act)),
        |mau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS mau
        |        FROM span GROUP BY d)
        |SELECT dau.d AS day, dau.dau, mau.mau,
        |  CAST((1000000 * dau.dau) // mau.mau AS BIGINT)
        |    AS stickiness_ppm
        |FROM dau JOIN mau ON dau.d = mau.d
        |ORDER BY day""".stripMargin,
    "q_graph_pagerank" -> pagerankOracleSql(3),
    "q_sample_pps" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars AS weight,
        |    (doc_id * 1103515245 + 12345) % 1000000007 AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, weight,
        |    SUM(weight) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b),
        |t AS (SELECT SUM(weight) AS w FROM b)
        |SELECT doc_id, CAST(weight AS BIGINT) AS weight,
        |  CAST(cum AS BIGINT) AS cum,
        |  CAST((100 * cum) // w AS BIGINT) AS pick_idx
        |FROM c CROSS JOIN t
        |WHERE (100 * cum) // w > (100 * (cum - weight)) // w
        |ORDER BY doc_id""".stripMargin)
}
