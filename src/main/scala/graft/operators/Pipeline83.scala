package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.78 round-15 batch 51 — boosting-mechanics and LSH-fingerprint
  * closers: two rounds of EXACT least-squares stump boosting (the
  * gradient-boosting inner loop graded bit-for-bit — the seeded
  * q_ml_gbt_eval wrapper can only be spec-bounded) and the
  * sign-random-projection (SimHash-for-embeddings) fingerprint over
  * the LCG projection — the SRP-LSH bucketing rung of the ANN
  * family.
  */
object Pipeline83 extends graft.QueryModule {

  /** EXACT BOOSTED STUMPS — two rounds of least-squares stump
    * fitting on the daily-revenue-vs-day frame: round 1 picks the
    * epoch-day threshold (from 15 fixed grid candidates between the
    * observed min/max) minimizing total SSE; round 2 refits on the
    * RESIDUALS analytically (within-day residual moments derive in
    * closed form from round-1 side means — no per-row residual ever
    * materializes). All sums are exact decimal moments; side means
    * and SSEs are fixed double dags; the argmin is (sse, split)
    * ordered so ties can't flip. Output per round: split day, side
    * means, SSE before/after, gain — the GBT inner loop, exactly
    * graded.
    *
    * 100 TB: one daily agg is the full pass; the candidate × day
    * theta join runs on the calendar-bounded frame (≤15×|days|). */
  def mlBoostStumps(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
      .select(expr("cast(datediff(d, date '1970-01-01') as bigint)")
        .as("x"), col("y"))
      .localCheckpoint(true)
    val bounds = daily.agg(min("x").as("lo"), max("x").as("hi"),
      count(lit(1)).as("n"), sum("y").as("sy"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("qy"))
    // 15 interior grid thresholds c_i = lo + i*(hi-lo)/16
    val cands = bounds
      .select(col("lo"), col("hi"), col("n"), col("sy"), col("qy"),
        explode(expr("sequence(1L, 15L)")).as("i"))
      .select(expr("lo + (i * (hi - lo)) div 16").as("c"),
        col("n"), col("sy"), col("qy"))
    // round-1 side moments per candidate (theta join on the
    // calendar-bounded daily frame)
    val r1 = cands.join(daily, daily("x") <= cands("c"))
      .groupBy("c", "n", "sy", "qy")
      .agg(count(lit(1)).as("nl"), sum("y").as("syl"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("qyl"))
      .where(col("nl") > 0 && col("nl") < col("n"))
      .select(col("c"), col("n"), col("sy"), col("qy"), col("nl"),
        col("syl"), col("qyl"),
        expr("cast(qyl as double) - cast(syl as double) * syl / nl")
          .as("ssel"),
        expr("cast(qy - qyl as double) - cast(sy - syl as double)" +
          " * (sy - syl) / (n - nl)").as("sser"))
      .withColumn("sse", col("ssel") + col("sser"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sse").asc, col("c").asc)))
      .where(col("rn") === 1)
      .select(col("c").as("c1"), col("n"), col("sy"), col("qy"),
        col("nl").as("nl1"), col("syl").as("syl1"),
        expr("cast(syl as double) / nl").as("ml1"),
        expr("cast(sy - syl as double) / (n - nl)").as("mr1"),
        col("sse").as("sse1"))
      .localCheckpoint(true)
    // ROUND-2 residual moments derive ANALYTICALLY from integer
    // subset moments (counts, Σy, Σy² conditioned on the round-1
    // side) — no double ever folds in row order: for any subset S,
    // Σ_S r = Σ_S y − |S∩L|·ml − |S∩R|·mr and Σ_S r² expands the
    // same way, so every engine computes the identical fixed dag
    val grid2 = bounds
      .crossJoin(broadcast(r1.drop("n", "sy", "qy")))
      .select(col("c1"), col("sse1"), col("nl1"), col("syl1"),
        col("ml1"), col("mr1"), col("n"), col("sy"), col("qy"),
        explode(expr("sequence(1L, 15L)")).as("i"),
        col("lo"), col("hi"))
      .select(expr("lo + (i * (hi - lo)) div 16").as("c"),
        col("c1"), col("sse1"), col("nl1"), col("syl1"),
        col("ml1"), col("mr1"), col("n"), col("sy"), col("qy"))
    val r2 = grid2.join(daily, daily("x") <= grid2("c"))
      .groupBy("c", "c1", "sse1", "nl1", "syl1", "ml1", "mr1",
        "n", "sy", "qy")
      .agg(count(lit(1)).as("nl"), sum("y").as("syl2"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("qyl2"),
        sum(when(col("x") <= col("c1"), 1L).otherwise(0L)).as("nll"),
        sum(when(col("x") <= col("c1"), col("y")).otherwise(0L))
          .as("syll"),
        sum(when(col("x") <= col("c1"),
          expr("cast(y as decimal(38,0)) * y")).otherwise(lit(0)))
          .as("qyll"))
      .where(col("nl") > 0 && col("nl") < col("n"))
      // left-subset residual moments (closed form)
      .withColumn("srl", expr(
        "(cast(syll as double) - nll * ml1)" +
          " + (cast(syl2 - syll as double) - (nl - nll) * mr1)"))
      .withColumn("qrl", expr(
        "(cast(qyll as double) - 2D * ml1 * cast(syll as double)" +
          " + nll * ml1 * ml1)" +
          " + (cast(qyl2 - qyll as double)" +
          " - 2D * mr1 * cast(syl2 - syll as double)" +
          " + (nl - nll) * mr1 * mr1)"))
      // global residual moments (same closed form over the full set)
      .withColumn("sr", expr(
        "(cast(syl1 as double) - nl1 * ml1)" +
          " + (cast(sy - syl1 as double) - (n - nl1) * mr1)"))
      .withColumn("qr", expr(
        "(cast(qy as double)" +
          " - 2D * ml1 * cast(syl1 as double)" +
          " - 2D * mr1 * cast(sy - syl1 as double)" +
          " + nl1 * ml1 * ml1 + (n - nl1) * mr1 * mr1)"))
      .select(col("c"), col("n"), col("c1"), col("sse1"), col("nl"),
        col("srl"),
        expr("qrl - srl * srl / nl").as("ssel"),
        expr("(qr - qrl) - (sr - srl) * (sr - srl) / (n - nl)")
          .as("sser"),
        col("sr"), col("qr"))
      .withColumn("sse", col("ssel") + col("sser"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sse").asc, col("c").asc)))
      .where(col("rn") === 1)
    val round1 = r1.select(lit(1L).as("round"), col("c1").as("split_day"),
      round(col("ml1"), 4).as("mean_left"),
      round(col("mr1"), 4).as("mean_right"),
      round(expr("cast(qy as double) - cast(sy as double) * sy / n"), 2)
        .as("sse_before"),
      round(col("sse1"), 2).as("sse_after"))
    val round2 = r2.select(lit(2L).as("round"), col("c").as("split_day"),
      round(expr("srl / nl"), 4).as("mean_left"),
      round(expr("(sr - srl) / (n - nl)"), 4).as("mean_right"),
      round(col("sse1"), 2).as("sse_before"),
      round(col("sse"), 2).as("sse_after"))
    round1.unionAll(round2)
      .withColumn("gain", round(col("sse_before") - col("sse_after"), 2))
      .orderBy("round")
  }

  /** SRP FINGERPRINT (SimHash for embeddings) — the 16-bit
    * sign-random-projection fingerprint over the q_vec_random_
    * projection LCG matrix: bit j = [Σ_d x_d·sign(d,j) > 0], the
    * bucketing key SRP-LSH uses (vectors hashing together are
    * cosine-close w.h.p.). Per fingerprint: members and the label
    * spread; index-ordered per-row folds keep the float sums
    * bit-identical (the batch-41 discipline).
    *
    * 100 TB: a pure per-row projection to one 16-bit int, then one
    * hash agg on the ≤65536-value fingerprint domain. The ±1 matrix
    * is data-independent, so the 16 plane vectors are built at PLAN
    * time as literal arrays and each bit is one codegen'd graft_dot
    * tight loop (VERDICT r15 #1 — the interpreted 16×64 HOF fold was
    * ~2-4 ms/row, a per-row CPU constant that turns into ~30 CPU-days
    * per 1B vectors; the sum order per plane is the same ascending-d
    * fold, so the integers are unchanged). */
  /** The 16-bit SRP fingerprint SQL over a column named `e`
    * (array<double>, 64-dim) — literal plane arrays + codegen
    * graft_dot; shared with the Hamming-agreement curve
    * (Pipeline89). */
  private[operators] val srpFpSql: String = {
    def planeSql(j: Int): String = (0 until 64).map { d =>
      if (((d * 64L + j) * 1103515245L + 12345L) % 1000000007L % 2L == 0L)
        "1D" else "-1D"
    }.mkString("array(", ",", ")")
    (0 until 16).map { j =>
      s"(case when graft_dot(e, ${planeSql(j)}) > 0D then ${1L << j}L else 0L end)"
    }.mkString(" + ")
  }

  /** The DuckDB twin of [[srpFpSql]] over a column named `e`. */
  private[operators] val srpFpOracleSql: String =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, 16), j -> CASE WHEN
      |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |          list_transform(range(0, 64), d -> e[d + 1] *
      |            (CASE WHEN ((d * 64 + j) * 1103515245 + 12345)
      |               % 1000000007 % 2 = 0
      |             THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE)
      |             END))), (a, x) -> a + x) > 0
      |        THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
      |        ELSE 0 END)), (a, x) -> a + x)""".stripMargin

  def vecSrpFingerprint(s: SparkSession, dir: String): DataFrame = {
    val fpSql = srpFpSql
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("long").as("label"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .select(col("vec_id"), col("label"), expr(fpSql).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct("label").as("n_labels"),
        min("vec_id").as("first_vec"))
      .where(col("n_vectors") > 1)
      .orderBy("fp")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_boost_stumps" -> mlBoostStumps,
    "q_vec_srp_fingerprint" -> vecSrpFingerprint)

  def oracleSql: Map[String, String] = Map(
    "q_ml_boost_stumps" ->
      """WITH daily AS (SELECT
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS y
        |  FROM events GROUP BY 1),
        |b AS (SELECT CAST(MIN(x) AS BIGINT) AS lo,
        |    CAST(MAX(x) AS BIGINT) AS hi,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(y AS HUGEINT) * y) AS qy
        |  FROM daily),
        |cands AS (SELECT lo + (i * (hi - lo)) // 16 AS c, n, sy, qy
        |  FROM (SELECT lo, hi, n, sy, qy, unnest(range(1, 16)) AS i
        |        FROM b)),
        |r1m AS (SELECT c, MAX(n) AS n, MAX(sy) AS sy, MAX(qy) AS qy,
        |    CAST(COUNT(*) AS BIGINT) AS nl,
        |    CAST(SUM(d.y) AS BIGINT) AS syl,
        |    SUM(CAST(d.y AS HUGEINT) * d.y) AS qyl
        |  FROM cands JOIN daily d ON d.x <= cands.c
        |  GROUP BY c HAVING COUNT(*) > 0 AND COUNT(*) < MAX(n)),
        |r1s AS (SELECT *,
        |    (CAST(qyl AS DOUBLE) - CAST(syl AS DOUBLE) * syl / nl)
        |    + (CAST(qy - qyl AS DOUBLE)
        |       - CAST(sy - syl AS DOUBLE) * (sy - syl) / (n - nl))
        |      AS sse
        |  FROM r1m),
        |r1 AS (SELECT * FROM (SELECT *, row_number()
        |      OVER (ORDER BY sse ASC, c ASC) AS rn FROM r1s)
        |  WHERE rn = 1),
        |means AS (SELECT c AS c1, n, sy, qy, nl AS nl1, syl AS syl1,
        |    CAST(syl AS DOUBLE) / nl AS ml1,
        |    CAST(sy - syl AS DOUBLE) / (n - nl) AS mr1, sse AS sse1
        |  FROM r1),
        |g2 AS (SELECT lo + (i * (hi - lo)) // 16 AS c
        |  FROM (SELECT lo, hi, unnest(range(1, 16)) AS i FROM b)),
        |-- round-2 residual moments ANALYTICALLY from integer subset
        |-- moments conditioned on the round-1 side (the Spark twin's
        |-- closed form - no double ever folds in row order)
        |r2m AS (SELECT g2.c, MAX(m.n) AS n, MAX(m.sy) AS sy,
        |    MAX(m.qy) AS qy, MAX(m.nl1) AS nl1, MAX(m.syl1) AS syl1,
        |    MAX(m.ml1) AS ml1, MAX(m.mr1) AS mr1, MAX(m.sse1) AS sse1,
        |    MAX(m.c1) AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS nl,
        |    CAST(SUM(d.y) AS BIGINT) AS syl2,
        |    SUM(CAST(d.y AS HUGEINT) * d.y) AS qyl2,
        |    CAST(SUM(CASE WHEN d.x <= m.c1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nll,
        |    CAST(SUM(CASE WHEN d.x <= m.c1 THEN d.y ELSE 0 END)
        |      AS BIGINT) AS syll,
        |    SUM(CASE WHEN d.x <= m.c1
        |      THEN CAST(d.y AS HUGEINT) * d.y ELSE 0 END) AS qyll
        |  FROM g2 CROSS JOIN means m JOIN daily d ON d.x <= g2.c
        |  GROUP BY g2.c HAVING COUNT(*) > 0 AND COUNT(*) < MAX(m.n)),
        |r2d AS (SELECT *,
        |    (CAST(syll AS DOUBLE) - nll * ml1)
        |      + (CAST(syl2 - syll AS DOUBLE) - (nl - nll) * mr1)
        |      AS srl,
        |    (CAST(qyll AS DOUBLE) - 2.0 * ml1 * CAST(syll AS DOUBLE)
        |      + nll * ml1 * ml1)
        |      + (CAST(qyl2 - qyll AS DOUBLE)
        |        - 2.0 * mr1 * CAST(syl2 - syll AS DOUBLE)
        |        + (nl - nll) * mr1 * mr1) AS qrl,
        |    (CAST(syl1 AS DOUBLE) - nl1 * ml1)
        |      + (CAST(sy - syl1 AS DOUBLE) - (n - nl1) * mr1) AS sr,
        |    (CAST(qy AS DOUBLE) - 2.0 * ml1 * CAST(syl1 AS DOUBLE)
        |      - 2.0 * mr1 * CAST(sy - syl1 AS DOUBLE)
        |      + nl1 * ml1 * ml1 + (n - nl1) * mr1 * mr1) AS qr
        |  FROM r2m),
        |r2s AS (SELECT *,
        |    (qrl - srl * srl / nl)
        |    + ((qr - qrl) - (sr - srl) * (sr - srl) / (n - nl)) AS sse
        |  FROM r2d),
        |r2 AS (SELECT * FROM (SELECT *, row_number()
        |      OVER (ORDER BY sse ASC, c ASC) AS rn FROM r2s)
        |  WHERE rn = 1),
        |rounds AS (
        |  SELECT CAST(1 AS BIGINT) AS round,
        |    CAST(r1.c AS BIGINT) AS split_day,
        |    ROUND(CAST(r1.syl AS DOUBLE) / r1.nl, 4) AS mean_left,
        |    ROUND(CAST(r1.sy - r1.syl AS DOUBLE) / (r1.n - r1.nl), 4)
        |      AS mean_right,
        |    ROUND(CAST(r1.qy AS DOUBLE)
        |      - CAST(r1.sy AS DOUBLE) * r1.sy / r1.n, 2) AS sse_before,
        |    ROUND(r1.sse, 2) AS sse_after
        |  FROM r1
        |  UNION ALL
        |  SELECT 2, CAST(r2.c AS BIGINT),
        |    ROUND(r2.srl / r2.nl, 4),
        |    ROUND((r2.sr - r2.srl) / (r2.n - r2.nl), 4),
        |    ROUND(r2.sse1, 2), ROUND(r2.sse, 2)
        |  FROM r2)
        |SELECT round, split_day, mean_left, mean_right, sse_before,
        |  sse_after, ROUND(sse_before - sse_after, 2) AS gain
        |FROM rounds ORDER BY round""".stripMargin,
    "q_vec_srp_fingerprint" ->
      """WITH fp AS (SELECT vec_id, label,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 16), j -> CASE WHEN
        |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(range(0, 64), d -> e[d + 1] *
        |            (CASE WHEN ((d * 64 + j) * 1103515245 + 12345)
        |               % 1000000007 % 2 = 0
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE)
        |             END))), (a, x) -> a + x) > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
        |        ELSE 0 END)), (a, x) -> a + x) AS fp
        |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e
        |        FROM embeddings))
        |SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
        |  CAST(MIN(vec_id) AS BIGINT) AS first_vec
        |FROM fp GROUP BY fp HAVING COUNT(*) > 1
        |ORDER BY fp""".stripMargin)
}
