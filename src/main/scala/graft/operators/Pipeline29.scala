package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.42 round-13 batch 5 — the production composites: the combined
  * IVF-PQ index (cell-pruned probes over the compressed-code scan —
  * the shape a real 100 TB vector store actually runs), a rolling
  * cross-series correlation profile, and the canonical-form dedup
  * report that closes the r13 Unicode-normalize fix into the dedup
  * family.
  */
object Pipeline29 extends graft.QueryModule {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("e", expr("transform(embedding, x -> cast(x AS double))"))

  /** COMBINED IVF-PQ ANN — the production composition of the two
    * stored-index halves (q_sim_ann_ivf prunes cells but re-ranks raw
    * vectors; q_sim_ann_pq scans compressed codes but ALL of them):
    * every vector is stored as (cell, 8 PQ codes, exact norm) — the
    * coarse cell from the shared IVF quantizer, the codes from the
    * shared PQ codebook (ExtraVector.ivfCentroidsLit /
    * pqCodebookLit — identical constants, single source). Probes
    * visit their 3 nearest cells, ADC-score ONLY the codes stored in
    * those cells (never the raw corpus vectors), shortlist top-50 by
    * approximate cosine, and re-rank just the shortlist exactly. NO
    * oracle (approx by design); Pipeline29Spec bounds recall against
    * q_sim_cosine_topk just below the single-dial 0.4 floors (the
    * two approximations compose), pins it at or under the IVF
    * cell-pruned ceiling, and pins the
    * compression contract (candidates scored from a frame that
    * carries no raw vectors).
    *
    * 100 TB: the stored row is ~8 bytes of codes + a float per
    * vector, partitionable by cell; a probe touches probed-cells'
    * codes only — the memory-speed compressed scan with cell
    * pruning, both dials at once. */
  def simAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val centsLit = ExtraVector.ivfCentroidsLit(s, dir)
    val cbLit = ExtraVector.pqCodebookLit(s, dir)
    // one pass per vector: norm + nearest cell + PQ codes — the
    // stored index row (raw e retained only on the probe side)
    val enc = emb(s, dir)
      .withColumn("n", expr("sqrt(graft_dot(e, e))"))
      .withColumn("cells", centsLit)
      .withColumn("ranked", expr(ExtraVector.ivfRankedExpr))
      .withColumn("cb", cbLit)
      .withColumn("dists", expr(ExtraVector.pqDistsExpr))
      .select(col("vec_id"), col("e"), col("n"),
        col("ranked"),
        expr("transform(dists, ds -> array_position(ds, array_min(ds)) - 1)")
          .as("codes"))
    val stored = enc.select(col("vec_id"),
      expr("ranked[0].cell").as("cell"), col("codes"), col("n"))
    val probes = enc.where(col("vec_id") <= 20)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"),
        col("n").as("pn"),
        explode(expr("transform(slice(ranked, 1, 3), x -> x.cell)"))
          .as("cell"))
    val wa = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = stored.join(broadcast(probes), "cell")
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cb", cbLit)
      .withColumn("approx_cos",
        round(expr(ExtraVector.pqAdcExpr) / (col("pn") * col("n")), 6))
      .withColumn("rn", row_number().over(wa))
      .where(col("rn") <= 50)
      .select("probe_id", "pe", "pn", "vec_id")
    val we = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    shortlist.join(emb(s, dir).select(col("vec_id"), col("e"),
        expr("sqrt(graft_dot(e, e))").as("cn")), "vec_id")
      .withColumn("cos",
        round(expr("graft_dot(pe, e)") / (col("pn") * col("cn")), 6))
      .select("probe_id", "vec_id", "cos")
      .withColumn("rn", row_number().over(we))
      .where(col("rn") <= 5)
      .orderBy("probe_id", "rn")
  }

  /** ROLLING CROSS-SERIES CORRELATION — the pairwise co-movement
    * profile of the daily revenue series (q_agg_corr's windowed,
    * cross-type sibling): for every event-type pair and every day
    * with a full trailing 14-day window on the gap-filled calendar
    * (absent days = 0, the decompose spine), Pearson correlation of
    * the two cent series over that window — integer moments in
    * decimal(38,0) under the window sums (order-free), the final
    * ratio computed in doubles FROM identical integers and rounded
    * to 6 dp (the q_agg_corr rule); zero-variance windows emit NULL.
    *
    * 100 TB: one full-data daily agg; the pair join and the rolling
    * windows (partitioned by pair) run on the support-sized
    * (type × day) and (pair × day) frames. */
  def timeRollingCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
    val bounds = daily.groupBy("event_type")
      .agg(min("d").as("d0"), max("d").as("d1"))
    val spine = bounds.select(col("event_type"),
      explode(expr("sequence(d0, d1)")).as("d"))
    val filled = spine.join(daily, Seq("event_type", "d"), "left")
      .withColumn("v", coalesce(col("v"), lit(0L)))
      .localCheckpoint() // support-sized; both sides of the pair join
    val a = filled.select(col("event_type").as("t1"), col("d"),
      col("v").as("x"))
    val b = filled.select(col("event_type").as("t2"), col("d"),
      col("v").as("y"))
    val w14 = Window.partitionBy("t1", "t2").orderBy("d")
      .rowsBetween(-13, 0)
    def ctr(prod: String, p: String, q: String): String =
      s"cast(cast(n14 as decimal(38,0)) * $prod" +
        s" - cast($p as decimal(38,0)) * $q as double)"
    a.join(b, Seq("d")).where(col("t1") < col("t2"))
      .withColumn("n14", count(lit(1)).over(w14))
      .withColumn("sx", sum(expr("cast(x as decimal(38,0))")).over(w14))
      .withColumn("sy", sum(expr("cast(y as decimal(38,0))")).over(w14))
      .withColumn("sxx", sum(expr("cast(x as decimal(38,0)) * x")).over(w14))
      .withColumn("syy", sum(expr("cast(y as decimal(38,0)) * y")).over(w14))
      .withColumn("sxy", sum(expr("cast(x as decimal(38,0)) * y")).over(w14))
      .where(col("n14") === 14)
      .select(col("t1"), col("t2"), col("d"),
        when(expr(s"${ctr("sxx", "sx", "sx")} > 0 and" +
            s" ${ctr("syy", "sy", "sy")} > 0"),
          expr(s"round(${ctr("sxy", "sx", "sy")}" +
            s" / (sqrt(${ctr("sxx", "sx", "sx")})" +
            s" * sqrt(${ctr("syy", "sy", "sy")})), 6)")).as("corr"))
      .orderBy("t1", "t2", "d")
  }

  /** CANONICAL-FORM DEDUP REPORT per language — the q_text_normalize
    * fingerprint (Unicode \p{L}\p{N} canonical form, the r13 fix)
    * actually driving the dedup family: per lang, docs, distinct
    * canonical fingerprints, docs merged away by canonical dedup,
    * merge rate in exact ppm, and the count of VARIANT groups —
    * canonical groups holding >1 distinct RAW text, i.e. merges the
    * raw-text q_dedup_exact can never see (case / punctuation /
    * whitespace variants).
    *
    * 100 TB: the canonical md5 is a codegen'd projection; both aggs
    * shuffle the fixed-32-byte fingerprint, never the text (the
    * q_dedup_content_md5 rule). */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val canon = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("text"),
        md5(trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^\\p{L}\\p{N} ]", " "), " +", " ")))
          .as("fp"))
    val groups = canon.groupBy("lang", "fp")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("text").as("n_raw"))
    groups.groupBy("lang")
      .agg(sum("n_docs").as("n_docs"),
        count(lit(1)).as("n_canonical"),
        sum(expr("n_docs - 1")).as("merged_docs"),
        sum(when(col("n_raw") > 1, 1L).otherwise(0L))
          .as("n_variant_groups"))
      .select(col("lang"), col("n_docs"), col("n_canonical"),
        col("merged_docs"),
        expr("(1000000 * merged_docs) div n_docs").as("merge_ppm"),
        col("n_variant_groups"))
      .orderBy("lang")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_ann_ivfpq" -> simAnnIvfPq,
    "q_time_rolling_corr" -> timeRollingCorr,
    "q_dedup_canonical" -> dedupCanonical)

  def oracleSql: Map[String, String] = Map(
    "q_time_rolling_corr" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |bounds AS (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1
        |           FROM daily GROUP BY event_type),
        |spine AS (SELECT event_type,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM bounds),
        |filled AS (SELECT s.event_type, s.d, COALESCE(daily.v, 0) AS v
        |  FROM spine s LEFT JOIN daily
        |    ON daily.event_type = s.event_type AND daily.d = s.d),
        |pairs AS (SELECT a.event_type AS t1, b.event_type AS t2, a.d,
        |    CAST(a.v AS HUGEINT) AS x, CAST(b.v AS HUGEINT) AS y
        |  FROM filled a JOIN filled b
        |    ON a.d = b.d AND a.event_type < b.event_type),
        |m AS (SELECT t1, t2, d,
        |    COUNT(*) OVER w AS n14,
        |    SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
        |    SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
        |    SUM(x * y) OVER w AS sxy
        |  FROM pairs WINDOW w AS (PARTITION BY t1, t2 ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT t1, t2, d,
        |  CASE WHEN CAST(n14 * sxx - sx * sx AS DOUBLE) > 0
        |        AND CAST(n14 * syy - sy * sy AS DOUBLE) > 0 THEN
        |    ROUND(CAST(n14 * sxy - sx * sy AS DOUBLE)
        |      / (SQRT(CAST(n14 * sxx - sx * sx AS DOUBLE))
        |       * SQRT(CAST(n14 * syy - sy * sy AS DOUBLE))), 6) END
        |    AS corr
        |FROM m WHERE n14 = 14 ORDER BY t1, t2, d""".stripMargin,
    "q_dedup_canonical" ->
      """WITH canon AS (SELECT lang, doc_id, text,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N} ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (SELECT lang, fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw
        |  FROM canon GROUP BY lang, fp)
        |SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_canonical,
        |  CAST(SUM(n_docs - 1) AS BIGINT) AS merged_docs,
        |  CAST((1000000 * SUM(n_docs - 1)) // SUM(n_docs) AS BIGINT)
        |    AS merge_ppm,
        |  CAST(SUM(CASE WHEN n_raw > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_variant_groups
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin)
}
