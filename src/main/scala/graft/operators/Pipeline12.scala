package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.25 round-9 analytics wideners, batch 2 — the distribution- and
  * evaluation-shaped ops a weekly analytics/ML report still lacked,
  * every one with an exact DuckDB oracle: dollar-weighted quantity
  * quartiles, a bucket-ranked Gini concentration index (the
  * q_sample_pps distributed-prefix-sum pattern, never a per-segment
  * global sort), rank-sum ROC AUC and a fixed-bucket calibration
  * curve over the int8-quantized embedding score, weekly cohort
  * activity, OHLC weekly resampling of the order series, and
  * exact-moment skewness/kurtosis (the q_agg_corr moment discipline
  * extended to 3rd/4th moments).
  */
object Pipeline12 extends graft.QueryModule {

  /** Dollar-WEIGHTED quantity quartiles per return flag: the smallest
    * quantity v such that the cumulative extended-price mass of lines
    * with quantity ≤ v reaches 25/50/75% of the flag's total — "the
    * median dollar rides on orders of what size". The value domain is
    * l_quantity (integral 1..50 by fixture; round-then-cast on both
    * engines), so the grouped frame is ≤ |flags|·50 rows by DOMAIN
    * bound: the cumulative window runs on a support-sized frame
    * partitioned by flag, never on row-scale data.
    *
    * 100 TB: ONE map-side-partial hash agg is the only full-data
    * pass; weights are exact cents in int64 (Σ ≤ ~1e18 at 1e12 rows
    * of 1e6-cent lines) and the ×4/×3 quartile compares run in
    * decimal(38,0)/HUGEINT on both engines, so the compare cannot
    * wrap even at full int64 cumulative mass (ADVICE-r9 class fix,
    * same as q_ml_ab_ttest's variance move). */
  def aggWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        expr("cast(round(l_quantity) as bigint)").as("v"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("w"))
      .groupBy("flag", "v").agg(sum("w").as("w"))
    val wc = Window.partitionBy("flag").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("flag")
    g.withColumn("cum", sum("w").over(wc))
      .withColumn("tot", sum("w").over(wt))
      .groupBy("flag")
      .agg(min(when(expr("cast(cum as decimal(38,0)) * 4 >= tot"),
          col("v"))).as("wq1_qty"),
        min(when(expr("cast(cum as decimal(38,0)) * 2 >= tot"),
          col("v"))).as("wmedian_qty"),
        min(when(expr("cast(cum as decimal(38,0)) * 4" +
          " >= cast(tot as decimal(38,0)) * 3"), col("v"))).as("wq3_qty"),
        min("tot").as("total_weight_cents"))
      .orderBy("flag")
  }

  /** GINI concentration of customer revenue per market segment — the
    * inequality readout of every revenue dashboard: with active
    * customers ranked ascending by exact revenue cents (ties by
    * custkey), gini_ppm = (2·Σi·xᵢ − (n+1)·Σx)·10⁶ / (n·Σx), every
    * product formed in decimal(38,0)/HUGEINT (Σi·x ≤ n²·x_max ≈ 1e27
    * at 1e9 customers — int64 wraps at sf0.1-×100 already). The rank
    * is NEVER a per-segment global sort: customers bucket by revenue
    * band (monotone in x), rank = per-(segment,band) row_number +
    * broadcast band offset — the q_sample_pps distributed prefix-sum
    * pattern, pinned rank-identical to the naive window in
    * Pipeline12Spec.
    *
    * 100 TB: per-customer roll-up shuffles on custkey, the
    * customer-dim join is co-keyed, the band window sorts only within
    * (segment, band) partitions, offsets ride a support-sized
    * broadcast. */
  def aggGini(s: SparkSession, dir: String): DataFrame = {
    val seg = giniRanked(s, dir)
    seg.groupBy("segment")
      .agg(count(lit(1)).as("n_custs"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(i as decimal(19,0)) * x")).as("six"))
      .select(col("segment"), col("n_custs"),
        expr("cast((2 * six - cast(n_custs + 1 as decimal(38,0)) * sx)" +
          " * 1000000 div (cast(n_custs as decimal(38,0)) * sx)" +
          " as bigint)").as("gini_ppm"))
      .orderBy("segment")
  }

  /** Revenue-ranked active customers: (segment, custkey, x cents,
    * i = 1-based ascending rank of x within segment, ties by custkey)
    * via api.Dist.bandedRank (100k-dollar revenue bands). Shared with
    * the spec, which pins `i` equal to the naive per-segment
    * ROW_NUMBER. */
  private[graft] def giniRanked(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("x"))
    val seg = rev.join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("c_custkey").as("custkey"), col("x"))
    graft.api.Dist.bandedRank(seg, Seq("segment"), "x", "custkey",
        bandWidth = 10000000L)
      .withColumnRenamed("rank", "i")
      .select("segment", "custkey", "x", "i")
  }

  /** PARETO (80/20) concentration per market segment — the companion
    * readout to [[aggGini]] on the same revenue-per-customer frame:
    * the smallest number of top customers whose revenue covers ≥ 80%
    * of the segment, exactly: k80 = n − |maximal ascending prefix
    * with 5·cum ≤ Σx| (all-integer compare — no percentage
    * arithmetic), emitted with its ppm share of the customer base.
    * The cumulative sum rides api.Dist.bandedCumSum over the
    * (segment, revenue) VALUE cells — no per-segment global sort and
    * (since r16) no rank pass anywhere.
    *
    * 100 TB: per-customer roll-up, co-keyed dim join, one value-grain
    * agg + banded cumsum; the k80 agg carries two numbers per
    * segment. */
  def winPareto(s: SparkSession, dir: String): DataFrame = {
    // r16 rewrite: the per-customer RANK never appears in the output,
    // so the bandedRank pass is dropped entirely — customers group to
    // (segment, x) VALUE cells (ng customers of identical revenue x),
    // one banded cumsum in x order gives the strictly-preceding mass
    // C0 per cell, and the 80% threshold T = tot div 5 cuts inside
    // the single straddling cell arithmetically: within a cell each
    // customer adds the same x, so #(cum ≤ T) = clamp((T−C0) div x,
    // 0, ng) — identical integers to the old rank-order scan (the
    // custkey tie-break orders customers of equal x, and every such
    // order yields the same per-cell count). Old plan: bandedRank +
    // bandedCumSum + checkpoint + per-customer threshold agg; new:
    // one value-grain agg + one bandedCumSum.
    // 5·cum ≤ tot ⟺ cum ≤ tot div 5 for integers — the div form never
    // multiplies a near-int64 cumulative.
    val rev = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("x"))
    val seg = rev.join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("x"))
    // localCheckpoint: the value-cell frame feeds BOTH the totals agg
    // and the cumsum consumer — without it each replays the scan+aggs
    // (at 100 TB this materialization is the store-once step a real
    // report would persist anyway)
    val g = seg.groupBy("segment", "x")
      .agg(count(lit(1)).as("ng"))
      .withColumn("mg", col("ng") * col("x"))
      .localCheckpoint()
    // totals via map-side-partial agg + broadcast, NOT a per-segment
    // whole-partition window (which would funnel each segment's
    // customers through one reducer at scale)
    val tot = g.groupBy("segment")
      .agg(sum("ng").as("n_custs"), sum("mg").as("tot"))
    graft.api.Dist.bandedCumSum(g, Seq("segment"), "x",
        bandWidth = 10000000L, sumCols = Seq("mg"), inclusive = false)
      .join(broadcast(tot), "segment")
      .groupBy("segment")
      .agg(max("n_custs").as("n_custs"), max("tot").as("tot_cents"),
        sum(expr("case when x > 0 then" +
          " greatest(0L, least(ng, (tot div 5 - cum_mg) div x))" +
          " when cum_mg <= tot div 5 then ng else 0L end"))
          .as("droppable"))
      .select(col("segment"), col("n_custs"),
        (col("n_custs") - col("droppable")).as("k80"),
        expr("(n_custs - droppable) * 1000000L div n_custs")
          .as("k80_ppm"),
        col("tot_cents"))
      .orderBy("segment")
  }

  /** Revenue DECILE report per market segment — the second consumer
    * of the shared banded rank frame (with [[aggGini]]): each
    * active customer lands in decile (i−1)·10 div n + 1 of its
    * segment (exact integer rank arithmetic — no ntile, whose global
    * sort the banded rank replaces), and each (segment, decile) row
    * reports customers, exact cents and the ppm share of segment
    * revenue. The decile needs per-segment n and the share needs
    * per-segment totals — both ride one broadcast support frame.
    *
    * 100 TB: same shuffles as the rank frame; the report agg carries
    * two numbers per (segment, decile). */
  def aggDecileReport(s: SparkSession, dir: String): DataFrame = {
    val ranked = giniRanked(s, dir)
    val tot = ranked.groupBy("segment")
      .agg(count(lit(1)).as("n"), sum("x").as("seg_cents"))
    ranked.join(broadcast(tot), "segment")
      .groupBy(col("segment"),
        expr("(i - 1) * 10 div n + 1").as("decile"))
      .agg(count(lit(1)).as("n_custs"), sum("x").as("cents"),
        min("seg_cents").as("seg_cents"))
      .select(col("segment"), col("decile"), col("n_custs"), col("cents"),
        // decimal: decile cents × 1e6 passes int64 at ~1e12 cents
        expr("cast(cast(cents as decimal(38,0)) * 1000000 div seg_cents" +
          " as bigint)").as("share_ppm"))
      .orderBy("segment", "decile")
  }

  /** Deterministic integer classifier score shared by AUC +
    * calibration: Σ_d floor(e_d · 127) over the 64 embedding dims
    * (the q_vec_quantize_int8 floor discipline — floor has no
    * half-way tie, so the int is engine-exact on identical doubles);
    * label_bin = (label ≥ 5). Score domain is [−8128, 8128] by the
    * ±0.5 fixture range × 64 dims. */
  private[graft] def scored(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), (col("label") >= 5).as("pos"),
        graft.api.Vec.q127Sum("embedding").as("score"))

  /** ROC AUC of the int8 embedding score against the binary label —
    * the rank-sum (Mann-Whitney) identity with exact tie handling:
    * AUC = [Σ_s np_s·(2·cum_nn_below + nn_s)] / (2·n_pos·n_neg),
    * emitted in ppm with every product in decimal(38,0)/HUGEINT
    * (concordant pairs ≤ n² ≈ 1e24 at 1e12 vectors). No per-pair
    * join and no global sort: scores group to a DOMAIN-bounded frame
    * (≤ 16,257 distinct values), the cumulative-negative scan is a
    * per-band window + broadcast band offsets (the q_sample_pps
    * pattern; band = shifted score div 128 is monotone in score).
    *
    * 100 TB: one map-side-partial hash agg is the only full-data
    * pass; everything after runs on the ≤16k-row score frame. */
  def mlAuc(s: SparkSession, dir: String): DataFrame = {
    val g = scored(s, dir).groupBy("score")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      .withColumn("sh", expr("score + 8192L")) // div needs non-negatives
    val tot = g.agg(sum("np").as("n_pos"), sum("nn").as("n_neg"))
    graft.api.Dist.bandedCumSum(g, Seq(), "sh", bandWidth = 128L,
        sumCols = Seq("nn"), inclusive = false)
      .withColumn("cumnn", col("cum_nn"))
      .agg(sum(expr("cast(np as decimal(19,0)) * (2 * cumnn + nn)"))
        .as("u2"))
      .crossJoin(broadcast(tot))
      .select(col("n_pos"), col("n_neg"),
        expr("cast(u2 * 500000 div" +
          " (cast(n_pos as decimal(38,0)) * n_neg) as bigint)")
          .as("auc_ppm"))
  }

  /** CALIBRATION curve of the same int8 score: fixed-width score
    * buckets ((score+8192) div 1024 — 16 possible, shift keeps the
    * div operand positive so Spark `div` and DuckDB `//` agree), each
    * with count, positives, positive ppm and mean score in milli
    * (shifted-positive decimal div, then un-shifted). Fixed buckets,
    * not deciles: an ntile would need a global sort; a calibration
    * report wants stable, comparable bin edges anyway.
    *
    * 100 TB: one map-side-partial hash agg to ≤16 rows; Σ(score+8192)
    * ≈ 1.2e7·n forms in decimal(38,0). */
  def mlCalibration(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .groupBy(expr("(score + 8192L) div 1024").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(expr("cast(score + 8192L as decimal(19,0))")).as("ssh"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("n_pos * 1000000L div n").as("pos_ppm"),
        expr("cast(ssh * 1000 div n - 8192000 as bigint)")
          .as("mean_score_milli"))
      .orderBy("bucket")

  /** Weekly COHORT activity: users grouped by first-seen week (weeks
    * as FLOOR(day-offset / 7) from 2024-01-01 — pure integer
    * arithmetic, no engine week-truncation semantics; floor, not
    * truncating `div`, so a date before the epoch still buckets
    * identically to the DuckDB oracle's floor `//` instead of
    * silently merging weeks −0/+0 — ADVICE r9), then per
    * (cohort week, weeks-since) the active users, events and exact
    * purchase cents — the retention×revenue triangle behind LTV
    * curves. The cohort tag is a min-over-user window (one key
    * shuffle, O(1) state), never a first-events self-join.
    *
    * 100 TB: the user window is the standard per-user shuffle; the
    * cohort×age agg carries an exact countDistinct(user) — its
    * shuffle is (cohort, age, user)-keyed partial counts, the
    * documented cost of an exact cohort table. */
  def eventsCohort(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id")
    val ev = Tables.events(s, dir)
      .withColumn("wk",
        expr("floor(datediff(to_date(ts), date'2024-01-01') / 7)"))
      .withColumn("cohort_wk", min("wk").over(wu))
    ev.groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase",
          expr("cast(round(value * 100) as bigint)")).otherwise(0L))
          .as("purchase_cents"))
      .orderBy("cohort_wk", "age_wk")
  }

  /** Weekly OHLC RESAMPLE of the order-total series — the downsample
    * primitive (pandas `resample('W').ohlc()` shape): per week
    * (FLOOR(day-offset / 7) from the 1995-01-01 fixture epoch —
    * floor like the oracle's `//`, not truncating `div`, so
    * pre-epoch dates cannot diverge; ADVICE r9)
    * the first/last order's exact cents in (date, orderkey) order,
    * min/max, count and volume. Open/close come from
    * first/last_value over the full per-week frame — one window pass
    * whose partitions ARE the output grain, then the roll-up reuses
    * the same key.
    *
    * 100 TB: one shuffle on the week key for window + agg (AQE
    * coalesces the pair); weekly volume Σcents ≤ ~1e18 stays int64 —
    * the headroom edge documented at q_agg_weighted_median. */
  def timeResample(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(expr("floor(datediff(o_orderdate, date'1995-01-01') / 7)")
          .as("week_idx"),
        col("o_orderdate").as("d"), col("o_orderkey").as("k"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("c"))
    val w = Window.partitionBy("week_idx")
      .orderBy(col("d").asc, col("k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.withColumn("open_c", first("c").over(w))
      .withColumn("close_c", last("c").over(w))
      .groupBy("week_idx")
      .agg(count(lit(1)).as("n_orders"), min("open_c").as("open_cents"),
        max("c").as("hi_cents"), min("c").as("lo_cents"),
        min("close_c").as("close_cents"), sum("c").as("vol_cents"))
      .select("week_idx", "n_orders", "open_cents", "hi_cents",
        "lo_cents", "close_cents", "vol_cents")
      .orderBy("week_idx")
  }

  // Shared fixed IEEE dag for skewness/kurtosis — built once and
  // spliced VERBATIM into both the Spark projection and the DuckDB
  // oracle, so both engines execute the identical sequence of
  // correctly-rounded double ops on identical integer moments.
  // m2*sqrt(m2) instead of pow(m2,1.5): sqrt and * are IEEE-exact,
  // libm pow is not.
  private val skMean = "(cast(s1 as double) / n)"
  private val skM2 =
    s"(cast(s2 as double) / n - $skMean * $skMean)"
  private val skM3 =
    s"(cast(s3 as double) / n - 3 * $skMean * (cast(s2 as double) / n)" +
      s" + 2 * $skMean * $skMean * $skMean)"
  private val skM4 =
    s"(cast(s4 as double) / n - 4 * $skMean * (cast(s3 as double) / n)" +
      s" + 6 * $skMean * $skMean * (cast(s2 as double) / n)" +
      s" - 3 * $skMean * $skMean * $skMean * $skMean)"
  private val skSkew = s"round($skM3 / ($skM2 * sqrt($skM2)), 6)"
  private val skKurt = s"round($skM4 / ($skM2 * $skM2) - 3, 6)"

  /** SKEWNESS + excess KURTOSIS of line quantity per return flag —
    * the q_agg_corr/q_ml_ab_ttest exact-moment discipline extended to
    * 3rd/4th moments: quantities center on the FIXED literal offset
    * 25 (both stats are shift-invariant; |d| ≤ 25 keeps Σd³ ≤ 1.6e16
    * in int64 at 1e12 rows and Σd⁴ in decimal(38,0)), the four raw
    * moment sums are exact integers, and the central-moment algebra +
    * m3/m2^1.5, m4/m2²−3 run as ONE fixed dag of correctly-rounded
    * double ops spliced verbatim into both engines (m2·√m2, never
    * libm pow). Rounded 6 dp.
    *
    * 100 TB: one map-side-partial hash agg; everything after is
    * arithmetic on a 3-row frame. */
  def aggSkewKurt(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        expr("cast(round(l_quantity) as bigint) - 25").as("d"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"), sum("d").as("s1"),
        sum(expr("d * d")).as("s2"), sum(expr("d * d * d")).as("s3"),
        sum(expr("cast(d * d as decimal(19,0)) * (d * d)")).as("s4"))
      .select(col("flag"), col("n"),
        expr(s"round($skMean + 25, 6)").as("mean_qty"),
        expr(skSkew).as("skewness"),
        expr(skKurt).as("kurtosis_ex"))
      .orderBy("flag")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_weighted_median" -> aggWeightedMedian,
    "q_agg_gini" -> aggGini,
    "q_win_pareto" -> winPareto,
    "q_agg_decile_report" -> aggDecileReport,
    "q_ml_auc" -> mlAuc,
    "q_ml_calibration" -> mlCalibration,
    "q_events_cohort" -> eventsCohort,
    "q_time_resample" -> timeResample,
    "q_agg_skewkurt" -> aggSkewKurt)

  def oracleSql: Map[String, String] = Map(
    "q_agg_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(ROUND(l_quantity) AS BIGINT) AS v,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT flag, v, w,
        |    SUM(w) OVER (PARTITION BY flag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY flag) AS tot
        |  FROM g)
        |SELECT flag,
        |  CAST(MIN(CASE WHEN CAST(cum AS HUGEINT) * 4 >= tot THEN v END)
        |    AS BIGINT) AS wq1_qty,
        |  CAST(MIN(CASE WHEN CAST(cum AS HUGEINT) * 2 >= tot THEN v END)
        |    AS BIGINT) AS wmedian_qty,
        |  CAST(MIN(CASE WHEN CAST(cum AS HUGEINT) * 4
        |    >= CAST(tot AS HUGEINT) * 3 THEN v END) AS BIGINT)
        |    AS wq3_qty,
        |  CAST(MIN(tot) AS BIGINT) AS total_weight_cents
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin,
    "q_agg_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY o_custkey),
        |seg AS (
        |  SELECT c_mktsegment AS segment, c_custkey AS custkey, x
        |  FROM rev JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT segment, x,
        |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY x, custkey)
        |      AS i
        |  FROM seg),
        |m AS (
        |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_custs,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(i AS HUGEINT) * x) AS six
        |  FROM r GROUP BY segment)
        |SELECT segment, n_custs,
        |  CAST((2 * six - (n_custs + 1) * sx) * 1000000
        |    // (CAST(n_custs AS HUGEINT) * sx) AS BIGINT) AS gini_ppm
        |FROM m ORDER BY segment""".stripMargin,
    "q_win_pareto" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY o_custkey),
        |seg AS (
        |  SELECT c_mktsegment AS segment, c_custkey AS custkey, x
        |  FROM rev JOIN customer ON o_custkey = c_custkey),
        |c AS (
        |  SELECT segment, x,
        |    SUM(x) OVER (PARTITION BY segment ORDER BY x, custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(x) OVER (PARTITION BY segment) AS tot
        |  FROM seg)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_custs,
        |  CAST(COUNT(*) - SUM(CASE WHEN cum <= tot // 5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS k80,
        |  CAST((COUNT(*) - SUM(CASE WHEN cum <= tot // 5 THEN 1 ELSE 0 END))
        |    * 1000000 // COUNT(*) AS BIGINT) AS k80_ppm,
        |  CAST(MIN(tot) AS BIGINT) AS tot_cents
        |FROM c GROUP BY segment ORDER BY segment""".stripMargin,
    "q_agg_decile_report" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY o_custkey),
        |seg AS (
        |  SELECT c_mktsegment AS segment, c_custkey AS custkey, x
        |  FROM rev JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT segment, x,
        |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY x, custkey)
        |      AS i,
        |    COUNT(*) OVER (PARTITION BY segment) AS n,
        |    SUM(x) OVER (PARTITION BY segment) AS seg_cents
        |  FROM seg)
        |SELECT segment, CAST((i - 1) * 10 // n + 1 AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_custs,
        |  CAST(SUM(x) AS BIGINT) AS cents,
        |  CAST(CAST(SUM(x) AS HUGEINT) * 1000000 // MIN(seg_cents)
        |    AS BIGINT) AS share_ppm
        |FROM r GROUP BY segment, (i - 1) * 10 // n + 1
        |ORDER BY segment, decile""".stripMargin,
    "q_ml_auc" ->
      """WITH sc AS (
        |  SELECT (label >= 5) AS pos,
        |    CAST(list_sum(list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 127.0) AS BIGINT))) AS BIGINT) AS score
        |  FROM embeddings),
        |g AS (
        |  SELECT score,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY score),
        |c AS (
        |  SELECT np, nn,
        |    COALESCE(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumnn
        |  FROM g),
        |t AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |             CAST(SUM(nn) AS BIGINT) AS n_neg FROM g)
        |SELECT n_pos, n_neg,
        |  CAST(SUM(CAST(np AS HUGEINT) * (2 * cumnn + nn)) * 500000
        |    // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_ppm
        |FROM c, t GROUP BY n_pos, n_neg""".stripMargin,
    "q_ml_calibration" ->
      """WITH sc AS (
        |  SELECT (label >= 5) AS pos,
        |    CAST(list_sum(list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 127.0) AS BIGINT))) AS BIGINT) AS score
        |  FROM embeddings)
        |SELECT (score + 8192) // 1024 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS pos_ppm,
        |  CAST(SUM(CAST(score + 8192 AS HUGEINT)) * 1000 // COUNT(*)
        |    - 8192000 AS BIGINT) AS mean_score_milli
        |FROM sc GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_events_cohort" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |    (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk
        |  FROM events),
        |tagged AS (
        |  SELECT user_id, event_type, value, wk,
        |    MIN(wk) OVER (PARTITION BY user_id) AS cohort_wk
        |  FROM ev)
        |SELECT cohort_wk, (wk - cohort_wk) AS age_wk,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS purchase_cents
        |FROM tagged GROUP BY 1, 2 ORDER BY cohort_wk, age_wk""".stripMargin,
    "q_time_resample" ->
      """WITH o AS (
        |  SELECT (CAST(o_orderdate AS DATE) - DATE '1995-01-01') // 7
        |      AS week_idx,
        |    o_orderdate AS d, o_orderkey AS k,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |w AS (
        |  SELECT week_idx, c,
        |    FIRST_VALUE(c) OVER (PARTITION BY week_idx ORDER BY d, k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS open_c,
        |    LAST_VALUE(c) OVER (PARTITION BY week_idx ORDER BY d, k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS close_c
        |  FROM o)
        |SELECT week_idx, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(MIN(open_c) AS BIGINT) AS open_cents,
        |  CAST(MAX(c) AS BIGINT) AS hi_cents,
        |  CAST(MIN(c) AS BIGINT) AS lo_cents,
        |  CAST(MIN(close_c) AS BIGINT) AS close_cents,
        |  CAST(SUM(c) AS BIGINT) AS vol_cents
        |FROM w GROUP BY week_idx ORDER BY week_idx""".stripMargin,
    "q_agg_skewkurt" ->
      s"""WITH d AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(ROUND(l_quantity) AS BIGINT) - 25 AS d
        |  FROM lineitem),
        |m AS (
        |  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(d) AS BIGINT) AS s1,
        |    CAST(SUM(d * d) AS BIGINT) AS s2,
        |    CAST(SUM(d * d * d) AS BIGINT) AS s3,
        |    SUM(CAST(d * d AS HUGEINT) * (d * d)) AS s4
        |  FROM d GROUP BY flag)
        |SELECT flag, n, round($skMean + 25, 6) AS mean_qty,
        |  $skSkew AS skewness,
        |  $skKurt AS kurtosis_ex
        |FROM m ORDER BY flag""".stripMargin)
}
