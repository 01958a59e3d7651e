package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.85 round-16 batch 58 — corpus-linguistics and time-series-
  * mining closers: Dunning log-likelihood keyness (the G² keyword
  * test), SAX symbolization (PAA + breakpoint quantization), and
  * the Euclidean matrix profile (nearest-neighbor window distance —
  * the discord/motif primitive) on exact integer window algebra.
  */
object Pipeline90 extends graft.QueryModule {

  /** KEYNESS (Dunning G²) — which tokens are over-represented in a
    * language vs the rest of the corpus: per (lang, token),
    * G² = 2·(k1·ln(k1/E1) + k2·ln(k2/E2)) with expectations from
    * exact integer marginals (k2=0 contributes 0); top 5 per lang by
    * (rounded G², token). The 2×2 G-test every keyword-extraction
    * pipeline runs.
    *
    * 100 TB: counts are one hash agg; the rank window partitions by
    * lang over the vocabulary-bounded keyness frame. lang is a column
    * of the same row the tokens explode from, so it rides the explode
    * directly (r16: the post-explode token→doc join was a row-scale
    * shuffle for a value already in hand). */
  def textKeyness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.api.Text.tokens(Tables.documents(s, dir), "lang", "text")
    val cells = toks.groupBy("lang", "token").agg(count(lit(1)).as("k1"))
      .localCheckpoint(true)
    val tokTot = cells.groupBy("token").agg(sum("k1").as("kt"))
    val langTot = cells.groupBy("lang").agg(sum("k1").as("n1"))
    val tot = cells.agg(sum("k1").as("nn"))
    val scored = cells
      .join(tokTot, "token")
      .join(broadcast(langTot), "lang")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("token"), col("k1"),
        (col("kt") - col("k1")).as("k2"), col("n1"),
        (col("nn") - col("n1")).as("n2"), col("kt"), col("nn"))
      .select(col("lang"), col("token"), col("k1"), col("k2"),
        round(expr(
          "2D * (k1 * ln(cast(k1 as double) * nn / (n1 * cast(kt as double)))" +
            " + case when k2 = 0 then 0D else" +
            " k2 * ln(cast(k2 as double) * nn / (n2 * cast(kt as double)))" +
            " end)"), 6).as("g2"))
    val w = Window.partitionBy("lang")
      .orderBy(col("g2").desc, col("token").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select(col("lang"), col("token"), col("k1"), col("k2"),
        col("g2"), col("rn").cast("long").as("rank"))
      .orderBy("lang", "rank")
  }

  /** SAX SYMBOLIZATION — the daily revenue series per event type as
    * a 6-letter SAX word: z-normalize against the type's exact
    * decimal daily moments, PAA over 5-day segments (segment mean an
    * exact integer ratio), quantize at the standard 4-letter
    * Gaussian breakpoints (±0.6745, 0 — literals, identical both
    * engines), concatenate in segment order. The symbolic index
    * under SAX-based motif/similarity search.
    *
    * 100 TB: one daily agg; everything after runs on the
    * ≤‖calendar‖ frame per type. */
  def timeSax(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("c"))
      .withColumn("d", expr(
        "cast(datediff(day, date '1970-01-01') as bigint)"))
      .localCheckpoint(true)
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("sc"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("qc"),
        min("d").as("d0"))
    val segs = daily.join(broadcast(m), "event_type")
      .withColumn("seg", expr("(d - d0) div 5"))
      .groupBy("event_type", "seg", "n", "sc", "qc")
      .agg(count(lit(1)).as("sn"), sum("c").as("ssum"))
      .select(col("event_type"), col("seg"), col("n"),
        expr("(cast(ssum as double) / sn - cast(sc as double) / n) / " +
          "sqrt(cast(cast(n as decimal(38,0)) * qc - " +
          "cast(sc as decimal(38,0)) * sc as double) / " +
          "(cast(n as double) * (n - 1)))").as("z"))
      .select(col("event_type"), col("seg"),
        expr("case when z < -0.6745D then 'a' when z < 0D then 'b'" +
          " when z < 0.6745D then 'c' else 'd' end").as("letter"))
    segs.groupBy("event_type")
      .agg(count(lit(1)).as("n_segments"),
        expr("aggregate(array_sort(collect_list(struct(seg, letter)))," +
          " '', (a, x) -> concat(a, x.letter))").as("sax"))
      .orderBy("event_type")
  }

  /** EUCLIDEAN MATRIX PROFILE — per event type, each 7-day window's
    * distance to its nearest non-trivial neighbor (|Δstart| ≥ 4) and
    * that neighbor's start: window distances² are exact decimal sums
    * of integer cent differences over the GAP-FILLED calendar (absent
    * days = 0), the profile distance re-quantized to whole cents,
    * argmin by (distance, neighbor start) via one lexicographic
    * min(struct) agg. Max-profile rows are the series' discords;
    * min rows its motifs.
    *
    * 100 TB: the window-pair frame is calendar-bounded (‖starts‖²
    * per type), never row-scale; the daily agg is the only full
    * pass. */
  def timeMatrixProfile(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("c"))
      .withColumn("d", expr(
        "cast(datediff(day, date '1970-01-01') as bigint)"))
    val cal = daily.groupBy("event_type")
      .agg(min("d").as("dmin"), max("d").as("dmax"))
    val dense = cal
      .select(col("event_type"), col("dmin"),
        explode(expr("sequence(dmin, dmax)")).as("d"))
      .join(daily.select("event_type", "d", "c"), Seq("event_type", "d"),
        "left")
      .select(col("event_type"), (col("d") - col("dmin")).as("i"),
        coalesce(col("c"), lit(0L)).as("v"))
      .localCheckpoint(true)
    val nIdx = dense.groupBy("event_type").agg(max("i").as("imax"))
    // window member rows: (type, start s, offset k, value)
    val wd = dense.join(broadcast(nIdx), "event_type")
      .select(col("event_type"), col("i"), col("v"), col("imax"),
        explode(expr("sequence(greatest(0L, i - 6), least(i, imax - 6))"))
          .as("st"))
      .select(col("event_type"), col("st"), (col("i") - col("st")).as("k"),
        col("v"))
    // r16 rewrite: windows collapse to one 7-slot ARRAY row per start
    // (calendar-bounded frame), pairs come from a broadcast self-join
    // on the type key alone, the distance² is a fixed UNROLLED 7-term
    // decimal dag (codegen'd; decimal addition is exact so any
    // association equals the old 7-rows-per-pair hash-agg sum), and
    // the argmin collapses to ONE min(struct(dist, s2)) agg — the
    // lexicographic struct min IS (min dist, then min s2 among its
    // achievers). Old plan: 7× pair-row shuffle expansion + 2.6M-group
    // hash agg + checkpoint + achiever re-join; new: broadcast join +
    // per-pair expression + one tiny agg.
    val win = wd.groupBy("event_type", "st")
      .agg(expr("transform(array_sort(collect_list(struct(k, v)))," +
        " t -> t.v)").as("w"))
    val a = win.select(col("event_type"), col("st").as("s1"),
      col("w").as("w1"))
    val b = win.select(col("event_type"), col("st").as("s2"),
      col("w").as("w2"))
    val dsq = (0 until 7).map(j =>
        s"cast(w1[$j] - w2[$j] as decimal(38,0)) * (w1[$j] - w2[$j])")
      .mkString(" + ")
    a.join(broadcast(b), "event_type")
      .where(abs(col("s1") - col("s2")) >= 4)
      .select(col("event_type"), col("s1"), col("s2"),
        expr(s"cast(round(sqrt(cast($dsq as double))) as bigint)")
          .as("dist"))
      .groupBy("event_type", "s1")
      .agg(min(struct(col("dist"), col("s2"))).as("m"))
      .select(col("event_type"), col("s1").as("window_start"),
        col("m.dist").as("profile_cents"), col("m.s2").as("nearest"))
      .orderBy("event_type", "window_start")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_keyness" -> textKeyness,
    "q_time_sax" -> timeSax,
    "q_time_matrix_profile" -> timeMatrixProfile)

  private val tokensSql =
    """SELECT doc_id, tokens[s] AS token
      |FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens)+1)) AS s
      |      FROM (SELECT doc_id, str_split(lower(text), ' ') AS tokens
      |            FROM documents))
      |WHERE tokens[s] <> ''""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_text_keyness" ->
      s"""WITH tok AS MATERIALIZED (
        |  SELECT t.doc_id, t.token, d.lang
        |  FROM ($tokensSql) t JOIN documents d ON d.doc_id = t.doc_id),
        |cells AS MATERIALIZED (SELECT lang, token,
        |    CAST(COUNT(*) AS BIGINT) AS k1 FROM tok GROUP BY 1, 2),
        |tt AS (SELECT token, CAST(SUM(k1) AS BIGINT) AS kt
        |  FROM cells GROUP BY token),
        |lt AS (SELECT lang, CAST(SUM(k1) AS BIGINT) AS n1
        |  FROM cells GROUP BY lang),
        |nn AS (SELECT CAST(SUM(k1) AS BIGINT) AS nn FROM cells),
        |sc AS (SELECT c.lang, c.token, c.k1,
        |    tt.kt - c.k1 AS k2,
        |    ROUND(2.0 * (c.k1 * ln(CAST(c.k1 AS DOUBLE) * nn.nn
        |        / (lt.n1 * CAST(tt.kt AS DOUBLE)))
        |      + CASE WHEN tt.kt - c.k1 = 0 THEN 0
        |        ELSE (tt.kt - c.k1) * ln(CAST(tt.kt - c.k1 AS DOUBLE)
        |          * nn.nn / ((nn.nn - lt.n1)
        |            * CAST(tt.kt AS DOUBLE))) END), 6) AS g2
        |  FROM cells c JOIN tt ON tt.token = c.token
        |  JOIN lt ON lt.lang = c.lang CROSS JOIN nn),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY g2 DESC, token ASC) AS rank FROM sc)
        |SELECT lang, token, k1, k2, g2, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q_time_sax" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS c,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events GROUP BY event_type, day, d),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    SUM(CAST(c AS HUGEINT) * c) AS qc,
        |    CAST(MIN(d) AS BIGINT) AS d0
        |  FROM daily GROUP BY event_type),
        |segs AS (SELECT daily.event_type, (daily.d - m.d0) // 5 AS seg,
        |    m.n, m.sc, m.qc,
        |    CAST(COUNT(*) AS BIGINT) AS sn,
        |    CAST(SUM(daily.c) AS BIGINT) AS ssum
        |  FROM daily JOIN m ON m.event_type = daily.event_type
        |  GROUP BY 1, 2, 3, 4, 5),
        |z AS (SELECT event_type, seg,
        |    (CAST(ssum AS DOUBLE) / sn - CAST(sc AS DOUBLE) / n)
        |      / sqrt(CAST(CAST(n AS HUGEINT) * qc
        |          - CAST(sc AS HUGEINT) * sc AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * (n - 1))) AS z
        |  FROM segs),
        |lets AS (SELECT event_type, seg,
        |    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
        |      WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS letter
        |  FROM z)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  string_agg(letter, '' ORDER BY seg) AS sax
        |FROM lets GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_time_matrix_profile" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |cal AS (SELECT event_type, CAST(MIN(d) AS BIGINT) AS dmin,
        |    CAST(MAX(d) AS BIGINT) AS dmax
        |  FROM daily GROUP BY event_type),
        |grid AS (SELECT cal.event_type, cal.dmin, gs.d
        |  FROM cal, LATERAL (SELECT unnest(range(cal.dmin, cal.dmax + 1))
        |    AS d) gs),
        |dense AS MATERIALIZED (SELECT grid.event_type,
        |    grid.d - grid.dmin AS i, COALESCE(daily.c, 0) AS v
        |  FROM grid LEFT JOIN daily
        |    ON daily.event_type = grid.event_type
        |    AND daily.d = grid.d),
        |ni AS (SELECT event_type, CAST(MAX(i) AS BIGINT) AS imax
        |  FROM dense GROUP BY event_type),
        |wd AS MATERIALIZED (SELECT dense.event_type, st.st,
        |    dense.i - st.st AS k, dense.v
        |  FROM dense JOIN ni ON ni.event_type = dense.event_type,
        |  LATERAL (SELECT unnest(range(greatest(0, dense.i - 6),
        |    least(dense.i, ni.imax - 6) + 1)) AS st) st),
        |dists AS MATERIALIZED (SELECT a.event_type, a.st AS s1,
        |    b.st AS s2,
        |    CAST(ROUND(sqrt(CAST(SUM(CAST(a.v - b.v AS HUGEINT)
        |      * (a.v - b.v)) AS DOUBLE))) AS BIGINT) AS dist
        |  FROM wd a JOIN wd b ON a.event_type = b.event_type
        |    AND a.k = b.k AND abs(a.st - b.st) >= 4
        |  GROUP BY 1, 2, 3),
        |mn AS (SELECT event_type, s1, CAST(MIN(dist) AS BIGINT)
        |    AS profile
        |  FROM dists GROUP BY event_type, s1)
        |SELECT d.event_type, CAST(d.s1 AS BIGINT) AS window_start,
        |  mn.profile AS profile_cents,
        |  CAST(MIN(d.s2) AS BIGINT) AS nearest
        |FROM dists d JOIN mn ON mn.event_type = d.event_type
        |  AND mn.s1 = d.s1 AND d.dist = mn.profile
        |GROUP BY d.event_type, d.s1, mn.profile
        |ORDER BY d.event_type, window_start""".stripMargin)
}
