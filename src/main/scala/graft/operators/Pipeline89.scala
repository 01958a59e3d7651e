package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.84 round-16 batch 57 — the k-sample omnibus and two
  * embedding-quality curves: Anderson–Darling k-sample (midrank
  * ties version, the last missing omnibus beside Kruskal–Wallis /
  * Friedman / Levene / Bartlett) on an exact integer rewrite,
  * Matryoshka prefix-truncation quality, and the SRP-Hamming vs
  * cosine LSH calibration curve.
  */
object Pipeline89 extends graft.QueryModule {

  /** ANDERSON–DARLING K-SAMPLE (midrank/ties version) — does the
    * value distribution differ across event types? Per sample i the
    * A²-component (Σ_i = A²akN): with exact integers
    * D = N(2M_ij−l_ij) − n_i(2B_j−l_j) and
    * E = (2B_j−l_j)(2N−2B_j+l_j) − N·l_j, the j-term is
    * l_j·D²/(N·E) (D² in decimal — no precision loss), summed in
    * VALUE ORDER via the q_agg_entropy ordered-fold discipline, then
    * scaled by (N−1)/(N·n_i). Cumulatives come from Dist.bandedCumSum
    * over the dense (type × pooled-value) grid — no per-type global
    * window sort.
    *
    * 100 TB: the grid is (types × cents-domain)-bounded, not
    * row-bounded; the only row-scale work is the initial count agg. */
  def mlAdKsamp(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val types = cells.select("event_type").distinct()
    val values = cells.select("v").distinct()
    val dense = types.crossJoin(values)
      .join(cells, Seq("event_type", "v"), "left")
      .select(col("event_type"), col("v"),
        coalesce(col("c"), lit(0L)).as("c"))
    // r17 (VERDICT r16 #2): the pooled cumulative never needed the
    // per-type dense grid — B_j = Σ_t cum_c(t, v) = the inclusive
    // cumsum over v of the pooled counts l_j (sum/cumsum commute,
    // exact integers) — so `pooled` now rides its own |values|-row
    // banded cumsum, the grid cumulative feeds ONLY the term join,
    // and the grid's eager localCheckpoint is retired (it was the
    // round's single-consumer ExistingRDD leaf here; plan lineage is
    // visible end-to-end again).
    val cum = graft.api.Dist.bandedCumSum(dense, Seq("event_type"),
      "v", 512L, Seq("c"))
    val pooled = graft.api.Dist.bandedCumSum(
        cells.groupBy("v").agg(sum("c").as("l")),
        Seq(), "v", 512L, Seq("l"))
      .select(col("v"), col("l"), col("cum_l").as("b"))
    val ni = cells.groupBy("event_type").agg(sum("c").as("n_i"))
    val nTot = cells.agg(sum("c")).head.getLong(0)
    val terms = cum.join(pooled, "v")
      .join(broadcast(ni), "event_type")
      .select(col("event_type"), col("v"), col("n_i"),
        expr(s"${nTot}L * (2 * cum_c - c) - n_i * (2 * b - l)").as("d"),
        expr(s"(2 * b - l) * (2 * ${nTot}L - 2 * b + l) - ${nTot}L * l")
          .as("e2"),
        col("l"))
      .where(col("l") > 0)
      .select(col("event_type"), col("v"), col("n_i"),
        expr(s"cast(l as double) * cast(cast(d as decimal(38,0)) * d" +
          s" as double) / (${nTot}D * e2)").as("term"))
    terms.groupBy("event_type", "n_i")
      // r17: native graft_sorted_sum — same ascending-(v, term) fold
      .agg(expr("graft_sorted_sum(collect_list(struct(v, term)))")
        .as("st"))
      .select(col("event_type"), col("n_i").as("n"),
        round(expr(s"(${nTot}D - 1) / (${nTot}D * n_i) * st"), 6)
          .as("a2_component"))
      .orderBy("event_type")
  }

  /** MATRYOSHKA TRUNCATION QUALITY — how much of the full-dim cosine
    * survives a prefix truncation (the modern nested-embedding
    * question): over the label-blocked pair frame, for each prefix
    * L ∈ {8,16,32} the per-pair |cos_L − cos_64| re-quantized to
    * exact micro integers; per L: pair count, mean and max drift.
    * Every dot/norm is an ascending-index graft_dot fold; since r16
    * the per-VECTOR prefix self-dots hoist out of the pair frame
    * (4 values per row instead of 8 slice+dot kernels per pair) and
    * cross dots use the sliceless graft_dot_pre — both bit-identical
    * to the slice form (same fold over the same prefix).
    *
    * 100 TB: the pair space is per-label-block (the blocked-dedup
    * shape); 4 dot kernels per pair, then a 3-row rollup. */
  def vecMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        col("vec_id").cast("long").as("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .select(col("label"), col("vec_id"), col("e"),
        expr("graft_dot_pre(e, e, 8)").as("q8"),
        expr("graft_dot_pre(e, e, 16)").as("q16"),
        expr("graft_dot_pre(e, e, 32)").as("q32"),
        expr("graft_dot(e, e)").as("q64"))
    val a = v.select(col("label"), col("vec_id").as("d1"),
      col("e").as("e1"), col("q8").as("a8"), col("q16").as("a16"),
      col("q32").as("a32"), col("q64").as("a64"))
    val b = v.select(col("label"), col("vec_id").as("d2"),
      col("e").as("e2"), col("q8").as("b8"), col("q16").as("b16"),
      col("q32").as("b32"), col("q64").as("b64"))
    def cosAt(l: Int): String =
      if (l == 64) "graft_dot(e1, e2) / sqrt(a64 * b64)"
      else s"graft_dot_pre(e1, e2, $l) / sqrt(a$l * b$l)"
    val pairs = a.join(b, "label").where(col("d1") < col("d2"))
      .select(Seq(8, 16, 32).map { l =>
        expr(s"cast(round(abs((${cosAt(l)}) - (${cosAt(64)})) * 1000000)" +
          " as bigint)").as(s"drift$l")
      }: _*)
    pairs
      .select(expr("stack(3, 8L, drift8, 16L, drift16, 32L, drift32)" +
        " AS (prefix_dim, drift)"))
      .groupBy("prefix_dim")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(drift) div count(1)").as("mean_drift_micro"),
        max("drift").as("max_drift_micro"))
      .orderBy("prefix_dim")
  }

  /** SRP-HAMMING vs COSINE CALIBRATION — the curve that justifies
    * LSH bucketing: over the label-blocked pair frame, the Hamming
    * distance between the two 16-bit SRP fingerprints (Pipeline83's
    * literal-plane kernel) against the true cosine, re-quantized to
    * micro; per Hamming distance: pair count, mean cosine, min/max.
    * Monotone-decreasing mean cosine in the distance is the LSH
    * contract (spec-pinned).
    *
    * 100 TB: fingerprints are per-row projections; the pair frame is
    * label-blocked; the rollup domain is ≤17 rows. */
  def vecHammingAgreement(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        col("vec_id").cast("long").as("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
    val withFp = v
      .select(col("label"), col("vec_id"), col("e"),
        expr(Pipeline83.srpFpSql).as("fp"),
        expr("sqrt(graft_dot(e, e))").as("nrm"))
      .localCheckpoint(true)
    val a = withFp.select(col("label"), col("vec_id").as("d1"),
      col("e").as("e1"), col("fp").as("fp1"), col("nrm").as("n1"))
    val b = withFp.select(col("label"), col("vec_id").as("d2"),
      col("e").as("e2"), col("fp").as("fp2"), col("nrm").as("n2"))
    a.join(b, "label").where(col("d1") < col("d2"))
      .select(expr("bit_count(fp1 ^ fp2)").cast("long").as("hamming"),
        expr("cast(round(graft_dot(e1, e2) / (n1 * n2) * 1000000)" +
          " as bigint)").as("cos_micro"))
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(cos_micro) div count(1)").as("mean_cos_micro"),
        min("cos_micro").as("min_cos_micro"),
        max("cos_micro").as("max_cos_micro"))
      .orderBy("hamming")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_ad_ksamp" -> mlAdKsamp,
    "q_vec_matryoshka" -> vecMatryoshka,
    "q_vec_hamming_agreement" -> vecHammingAgreement)

  private def cosAtSql(l: Int): String = {
    def dot(x: String, y: String, n: Int): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(0, $n), i -> $x[i + 1] * $y[i + 1])), " +
        "(a, z) -> a + z)"
    s"${dot("e1", "e2", l)} / sqrt(${dot("e1", "e1", l)} * ${dot("e2", "e2", l)})"
  }

  def oracleSql: Map[String, String] = Map(
    "q_ml_ad_ksamp" ->
      """WITH cells AS MATERIALIZED (SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |dense AS (SELECT t.event_type, vv.v, COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT event_type FROM cells) t
        |  CROSS JOIN (SELECT DISTINCT v FROM cells) vv
        |  LEFT JOIN cells c ON c.event_type = t.event_type
        |    AND c.v = vv.v),
        |cum AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY event_type
        |    ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cum_c FROM dense),
        |pooled AS (SELECT v, CAST(SUM(c) AS BIGINT) AS l,
        |    CAST(SUM(cum_c) AS BIGINT) AS b FROM cum GROUP BY v),
        |ni AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_i
        |  FROM cells GROUP BY event_type),
        |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        |terms AS (SELECT cum.event_type, cum.v, ni.n_i, nt.n,
        |    CAST(p.l AS DOUBLE)
        |      * CAST(CAST(nt.n * (2 * cum.cum_c - cum.c)
        |          - ni.n_i * (2 * p.b - p.l) AS HUGEINT)
        |        * (nt.n * (2 * cum.cum_c - cum.c)
        |          - ni.n_i * (2 * p.b - p.l)) AS DOUBLE)
        |      / (CAST(nt.n AS DOUBLE)
        |        * ((2 * p.b - p.l) * (2 * nt.n - 2 * p.b + p.l)
        |          - nt.n * p.l)) AS term
        |  FROM cum JOIN pooled p ON p.v = cum.v
        |  JOIN ni ON ni.event_type = cum.event_type
        |  CROSS JOIN nt
        |  WHERE p.l > 0)
        |SELECT event_type, n_i AS n,
        |  ROUND((CAST(n AS DOUBLE) - 1) / (CAST(n AS DOUBLE) * n_i)
        |    * list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list(term ORDER BY v)), (a, x) -> a + x), 6)
        |    AS a2_component
        |FROM terms GROUP BY event_type, n_i, n
        |ORDER BY event_type""".stripMargin,
    "q_vec_matryoshka" -> {
      val drifts = Seq(8, 16, 32).map { l =>
        s"""CAST(ROUND(abs((${cosAtSql(l)}) - (${cosAtSql(64)}))
           | * 1000000) AS BIGINT) AS drift$l""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (SELECT CAST(label AS BIGINT) AS label,
        |    CAST(vec_id AS BIGINT) AS vec_id,
        |    embedding::DOUBLE[] AS e FROM embeddings),
        |pr AS (SELECT a.label, a.e AS e1, b.e AS e2
        |  FROM v a JOIN v b ON a.label = b.label
        |    AND a.vec_id < b.vec_id),
        |dr AS (SELECT
        |$drifts
        |  FROM pr),
        |st AS (SELECT 8 AS prefix_dim, drift8 AS drift FROM dr
        |  UNION ALL SELECT 16, drift16 FROM dr
        |  UNION ALL SELECT 32, drift32 FROM dr)
        |SELECT CAST(prefix_dim AS BIGINT) AS prefix_dim,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(drift) AS BIGINT) // COUNT(*) AS mean_drift_micro,
        |  CAST(MAX(drift) AS BIGINT) AS max_drift_micro
        |FROM st GROUP BY prefix_dim ORDER BY prefix_dim""".stripMargin
    },
    "q_vec_hamming_agreement" ->
      s"""WITH v AS (SELECT CAST(label AS BIGINT) AS label,
        |    CAST(vec_id AS BIGINT) AS vec_id,
        |    embedding::DOUBLE[] AS e FROM embeddings),
        |wf AS MATERIALIZED (SELECT label, vec_id, e,
        |    ${Pipeline83.srpFpOracleSql} AS fp,
        |    sqrt(${cosAtDotSql}) AS nrm
        |  FROM v),
        |pr AS (SELECT bit_count(xor(a.fp, b.fp)) AS hamming,
        |    CAST(ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(0, 64),
        |        i -> a.e[i + 1] * b.e[i + 1])), (x, y) -> x + y)
        |      / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cos_micro
        |  FROM wf a JOIN wf b ON a.label = b.label
        |    AND a.vec_id < b.vec_id)
        |SELECT CAST(hamming AS BIGINT) AS hamming,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(cos_micro) AS BIGINT) // COUNT(*) AS mean_cos_micro,
        |  CAST(MIN(cos_micro) AS BIGINT) AS min_cos_micro,
        |  CAST(MAX(cos_micro) AS BIGINT) AS max_cos_micro
        |FROM pr GROUP BY hamming ORDER BY hamming""".stripMargin)

  private def cosAtDotSql: String =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(0, 64), i -> e[i + 1] * e[i + 1])), " +
      "(a, z) -> a + z)"
}
