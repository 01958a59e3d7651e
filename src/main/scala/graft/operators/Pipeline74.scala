package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.69 round-15 batch 42 — evaluation/product-analytics/SQL-surface
  * closers: ROUGE-1/2 over the stored candidate pairs (the
  * recall-oriented twin of q_text_bleu_pairs), LINEAR multi-touch
  * attribution (splitting credit across ALL in-window touches — the
  * multi-channel sibling of q_events_attribution's per-user
  * last-click flag), and DISTINCT/top-k LISTAGG variants (ordered
  * string aggregation over a derived group-limit frame — the
  * composed form beside q_agg_listagg's plain domain listagg).
  */
object Pipeline74 extends graft.QueryModule {

  /** ROUGE-1/2 over the STORED >=8-band candidate pairs — the
    * recall-oriented summarization metric beside q_text_bleu_pairs'
    * precision view: clipped n-gram overlap (Σ min(count_c, count_r))
    * against the REFERENCE (d2) gram totals for recall, the
    * CANDIDATE (d1) totals for precision, F1 from the pair. Counts
    * exact; ratios are fixed per-pair double dags rounded once.
    *
    * 100 TB: gram counts are doc-keyed partial aggs; candidate-pair
    * joins are (doc, gram) EQUI joins bounded by the stored pair
    * list — the q_text_bleu_pairs plan with a second denominator. */
  def textRougePairs(s: SparkSession, dir: String): DataFrame = {
    val pg = new TextOps.PairGrams(s, dir)
    def tot(c: DataFrame): DataFrame =
      c.groupBy("doc_id").agg(sum("c").as("t"))
    val (c1, c2) = (pg.counts(1), pg.counts(2))
    val (t1, t2) = (tot(c1), tot(c2))
    // gram totals join to pairs UNCONDITIONALLY (the oracle's t1/t2
    // join topology): a pair sharing zero unigrams still carries its
    // denominators, so rouge1 ratios read 0, never NULL (ADVICE r15).
    // t1 joins are inner (every doc has >=1 unigram; a tokenless doc
    // would drop from the oracle's prs the same way); t2 stays left
    // (single-token docs have no bigrams).
    pg.pairs
      .join(pg.clip(c1, 1), Seq("d1", "d2"), "left")
      .join(pg.clip(c2, 2), Seq("d1", "d2"), "left")
      .join(t1.select(col("doc_id").as("d1"), col("t").as("ct1")),
        Seq("d1"))
      .join(t1.select(col("doc_id").as("d2"), col("t").as("rt1")),
        Seq("d2"))
      .join(t2.select(col("doc_id").as("d1"), col("t").as("ct2")),
        Seq("d1"), "left")
      .join(t2.select(col("doc_id").as("d2"), col("t").as("rt2")),
        Seq("d2"), "left")
      .select(col("d1"), col("d2"),
        coalesce(col("clip1"), lit(0L)).as("m1"),
        coalesce(col("clip2"), lit(0L)).as("m2"),
        col("ct1"), col("rt1"), col("ct2"), col("rt2"))
      .selectExpr("d1", "d2", "m1", "m2",
        "round(m1 / cast(rt1 as double), 6) as rouge1_recall",
        "round(m1 / cast(ct1 as double), 6) as rouge1_precision",
        "round(case when m1 = 0 then 0D else" +
          " 2D * m1 / cast(rt1 + ct1 as double) end, 6) as rouge1_f1",
        "round(case when rt2 is null or rt2 = 0 then 0D" +
          " else m2 / cast(rt2 as double) end, 6) as rouge2_recall",
        "round(case when m2 = 0 or rt2 is null or ct2 is null" +
          " or rt2 + ct2 = 0 then 0D else" +
          " 2D * m2 / cast(rt2 + ct2 as double) end, 6) as rouge2_f1")
      .orderBy("d1", "d2")
  }

  /** LINEAR MULTI-TOUCH ATTRIBUTION — each purchase's value splits
    * equally (in exact micro-cent units, (cents·1e6) div n per
    * touch; mass conserves up to the div remainder, <n_touch
    * micro-cents per touched purchase — Pipeline74Spec pins that
    * bounded shortfall) across the user's view/click touches
    * in the 7 days before it. Per touch type: touched conversions,
    * touch credits, credited micro-cents — the credit table behind
    * every "which channel drove revenue" readout.
    *
    * 100 TB: the touch×purchase pairing is a per-user EQUI join with
    * a time-range residual (the q_join_interval discipline — never a
    * cross join); both sides are user-partitioned, and the credit agg
    * is map-side partial on the small type domain. */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts").as("pts"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val touches = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("event_type").as("touch"),
        col("ts").as("tts"))
    // r17 (guide §1.2/§3): the old shape computed purchases⋈touches
    // THREE times (credits' left side, the n_touch agg it re-joined on
    // pid, and the counts feeding direct's anti-join) — 14 parquet
    // scans in the before-plan. One LEFT join (untouched purchases ride
    // as null-touch rows) folds to the per-purchase grain ONCE; every
    // downstream frame is ≤2 rows per purchase. Within a (pid, touch)
    // cell the credit (cents·1e6) div n_touch is constant, so the old
    // per-joined-row sum equals c · ((cents·1e6) div n_touch); an
    // n_touch > 0 cell count replaces countDistinct(pid) because the
    // grain IS one row per (pid, touch).
    val perPid = purchases.join(touches,
        col("user_id") === col("t_user") &&
          col("tts") <= col("pts") &&
          col("tts") > col("pts") - expr("interval 7 days"), "left")
      .groupBy("pid")
      .agg(max("cents").as("cents"),
        count(when(col("touch") === "view", 1)).as("nv"),
        count(when(col("touch") === "click", 1)).as("nc"))
    // Each purchase emits its credit cells in ONE explode — view/click
    // cells carrying (count, count·((cents·1e6) div n_touch)), or a
    // single self-credit 'direct' cell when untouched — so one agg
    // produces every output row. The old always-one-'direct'-row
    // semantics (agg-over-empty: count 0, sum NULL) survives via the
    // literal (direct, 0, 0, NULL) fallback row folded into the ≤4-row
    // re-agg: sum ignores it when real direct credits exist and yields
    // exactly (0, 0, NULL) when none do.
    val cells = perPid.select(explode(expr(
      """case when nv + nc = 0
        |  then array(named_struct('touch', 'direct', 'c', 1L,
        |    'm', cents * 1000000L))
        |  else filter(array(
        |    named_struct('touch', 'view', 'c', nv,
        |      'm', nv * ((cents * 1000000L) div (nv + nc))),
        |    named_struct('touch', 'click', 'c', nc,
        |      'm', nc * ((cents * 1000000L) div (nv + nc)))),
        |    x -> x.c > 0)
        |end""".stripMargin)).as("e"))
    val fallback = s.range(1).select(lit("direct").as("touch"),
      lit(0L).as("n_conversions"), lit(0L).as("n_credits"),
      lit(null).cast("long").as("micro_cents"))
    cells.groupBy(col("e.touch").as("touch"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("e.c")).as("n_credits"),
        sum(col("e.m")).as("micro_cents"))
      .unionAll(fallback)
      .groupBy("touch")
      .agg(sum("n_conversions").as("n_conversions"),
        sum("n_credits").as("n_credits"),
        sum("micro_cents").as("micro_cents"))
      .orderBy("touch")
  }

  /** LISTAGG WITHIN GROUP (Spark 4) — the ordered string aggregation
    * (SQL:2016's LISTAGG, DuckDB's string_agg ORDER BY): per order
    * priority, the distinct statuses observed and the 3 biggest
    * order keys, both deterministically ordered inside the
    * aggregate. The last agg-function SQL-surface rung §2.4 lacked.
    *
    * 100 TB: listagg over a DISTINCT bounded domain (3 statuses) and
    * over a top-k (3 keys via the group-limit window) — never an
    * unbounded row-scale string concat. */
  def aggListagg(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_la_orders")
    s.sql(
      """WITH topk AS (
        |  SELECT o_orderpriority, o_orderkey FROM (
        |    SELECT o_orderpriority, o_orderkey,
        |      row_number() OVER (PARTITION BY o_orderpriority
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM graft_la_orders) WHERE rn <= 3),
        |st AS (
        |  SELECT o_orderpriority,
        |    listagg(DISTINCT o_orderstatus, ',')
        |      WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
        |    count(*) AS n_orders
        |  FROM graft_la_orders GROUP BY o_orderpriority),
        |tk AS (
        |  SELECT o_orderpriority,
        |    listagg(o_orderkey, ',')
        |      WITHIN GROUP (ORDER BY o_orderkey DESC) AS top3_keys
        |  FROM topk GROUP BY o_orderpriority)
        |SELECT st.o_orderpriority, st.n_orders, st.statuses,
        |  tk.top3_keys
        |FROM st JOIN tk USING (o_orderpriority)
        |ORDER BY st.o_orderpriority""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_rouge_pairs" -> textRougePairs,
    "q_events_attribution_linear" -> eventsAttribution,
    "q_agg_listagg_topk" -> aggListagg)

  def oracleSql: Map[String, String] = Map(
    "q_text_rouge_pairs" ->
      s"""WITH sh AS MATERIALIZED (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM (${TextOps.shinglesSql})),
        |perms(perm, a, b) AS MATERIALIZED (VALUES ${TextOps.permValuesSql}),
        |sig AS MATERIALIZED (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms GROUP BY doc_id, perm),
        |prs AS MATERIALIZED (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |          FROM sig s1 JOIN sig s2
        |            ON s1.perm = s2.perm AND s1.minh = s2.minh
        |           AND s1.doc_id < s2.doc_id
        |          GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |toks AS MATERIALIZED (SELECT doc_id,
        |    list_filter(str_split(lower(text), ' '), x -> x <> '') AS l
        |  FROM documents),
        |g1 AS MATERIALIZED (SELECT doc_id, l[i] AS gram,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
        |        FROM toks) GROUP BY doc_id, gram),
        |g2 AS MATERIALIZED (SELECT doc_id,
        |    l[i] || ' ' || l[i + 1] AS gram,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
        |        FROM toks WHERE len(l) >= 2) GROUP BY doc_id, gram),
        |t1 AS MATERIALIZED (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t
        |  FROM g1 GROUP BY doc_id),
        |t2 AS MATERIALIZED (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t
        |  FROM g2 GROUP BY doc_id),
        |c1 AS MATERIALIZED (SELECT p.d1, p.d2,
        |    CAST(SUM(least(a.c, b.c)) AS BIGINT) AS clip
        |  FROM prs p JOIN g1 a ON a.doc_id = p.d1
        |  JOIN g1 b ON b.doc_id = p.d2 AND b.gram = a.gram
        |  GROUP BY p.d1, p.d2),
        |c2 AS MATERIALIZED (SELECT p.d1, p.d2,
        |    CAST(SUM(least(a.c, b.c)) AS BIGINT) AS clip
        |  FROM prs p JOIN g2 a ON a.doc_id = p.d1
        |  JOIN g2 b ON b.doc_id = p.d2 AND b.gram = a.gram
        |  GROUP BY p.d1, p.d2)
        |SELECT p.d1, p.d2,
        |  CAST(COALESCE(c1.clip, 0) AS BIGINT) AS m1,
        |  CAST(COALESCE(c2.clip, 0) AS BIGINT) AS m2,
        |  ROUND(COALESCE(c1.clip, 0) / CAST(r1.t AS DOUBLE), 6)
        |    AS rouge1_recall,
        |  ROUND(COALESCE(c1.clip, 0) / CAST(q1.t AS DOUBLE), 6)
        |    AS rouge1_precision,
        |  ROUND(CASE WHEN COALESCE(c1.clip, 0) = 0 THEN 0
        |    ELSE 2.0 * c1.clip / CAST(r1.t + q1.t AS DOUBLE) END, 6)
        |    AS rouge1_f1,
        |  ROUND(CASE WHEN r2.t IS NULL OR r2.t = 0 THEN 0
        |    ELSE COALESCE(c2.clip, 0) / CAST(r2.t AS DOUBLE) END, 6)
        |    AS rouge2_recall,
        |  ROUND(CASE WHEN COALESCE(c2.clip, 0) = 0 OR r2.t IS NULL
        |      OR q2.t IS NULL OR r2.t + q2.t = 0 THEN 0
        |    ELSE 2.0 * c2.clip / CAST(r2.t + q2.t AS DOUBLE) END, 6)
        |    AS rouge2_f1
        |FROM prs p
        |JOIN t1 q1 ON q1.doc_id = p.d1
        |JOIN t1 r1 ON r1.doc_id = p.d2
        |LEFT JOIN t2 q2 ON q2.doc_id = p.d1
        |LEFT JOIN t2 r2 ON r2.doc_id = p.d2
        |LEFT JOIN c1 ON c1.d1 = p.d1 AND c1.d2 = p.d2
        |LEFT JOIN c2 ON c2.d1 = p.d1 AND c2.d2 = p.d2
        |ORDER BY p.d1, p.d2""".stripMargin,
    "q_events_attribution_linear" ->
      """WITH p AS (SELECT user_id, event_id AS pid, ts AS pts,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_type AS touch, ts AS tts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT p.pid, p.cents, t.touch
        |  FROM p JOIN t ON t.user_id = p.user_id
        |  WHERE t.tts <= p.pts
        |    AND t.tts > p.pts - INTERVAL 7 DAY),
        |c AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_touch
        |  FROM j GROUP BY pid),
        |cr AS (SELECT j.touch,
        |    CAST(COUNT(DISTINCT j.pid) AS BIGINT) AS n_conversions,
        |    CAST(COUNT(*) AS BIGINT) AS n_credits,
        |    CAST(SUM((j.cents * 1000000) // c.n_touch) AS BIGINT)
        |      AS micro_cents
        |  FROM j JOIN c ON c.pid = j.pid GROUP BY j.touch),
        |d AS (SELECT 'direct' AS touch,
        |    CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |    CAST(COUNT(*) AS BIGINT) AS n_credits,
        |    CAST(SUM(cents * 1000000) AS BIGINT) AS micro_cents
        |  FROM p WHERE pid NOT IN (SELECT pid FROM c))
        |SELECT * FROM cr UNION ALL SELECT * FROM d
        |ORDER BY touch""".stripMargin,
    "q_agg_listagg_topk" ->
      """WITH topk AS (
        |  SELECT o_orderpriority, o_orderkey FROM (
        |    SELECT o_orderpriority, o_orderkey,
        |      row_number() OVER (PARTITION BY o_orderpriority
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn <= 3),
        |st AS (
        |  SELECT o_orderpriority,
        |    string_agg(DISTINCT o_orderstatus, ','
        |      ORDER BY o_orderstatus) AS statuses,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY o_orderpriority),
        |tk AS (
        |  SELECT o_orderpriority,
        |    string_agg(o_orderkey, ',' ORDER BY o_orderkey DESC)
        |      AS top3_keys
        |  FROM topk GROUP BY o_orderpriority)
        |SELECT st.o_orderpriority, st.n_orders, st.statuses,
        |  tk.top3_keys
        |FROM st JOIN tk USING (o_orderpriority)
        |ORDER BY st.o_orderpriority""".stripMargin)
}
