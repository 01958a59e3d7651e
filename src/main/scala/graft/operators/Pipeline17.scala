package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.30 round-10 ML-helper completions (VERDICT r9 "what's missing"):
  * the recommender's ranking-metrics eval half (precision@5 / AP@5 /
  * NDCG@5, exact integer ppm with a literal DCG weight table — fully
  * SQL-twin-able), a chi-square feature selector (the q_ml_chisq cell
  * discipline applied per embedding dimension, exact-integer ranking),
  * a second clustering family (BisectingKMeans beside the KMeans
  * wrapper), and AFT survival regression pairing q_events_hazard's
  * nonparametric Kaplan–Meier table with its parametric sibling.
  */
object Pipeline17 extends graft.QueryModule {

  /** Train/test interaction split date for the recommender eval: the
    * order stream before 1997-01-01 trains, on/after is held out —
    * a TIME split (the deployment-faithful protocol for recommenders;
    * a random split would leak future co-purchases into train). */
  private val splitDate = "date'1997-01-01'"

  /** (cust, part, in_tr, in_te) — every distinct interaction pair
    * tagged with the split sides it appears on, built in ONE
    * orders×lineitem join + roll-up and checkpointed (both split
    * sides, the relevance anti-join and the popularity count all
    * re-derive it otherwise). */
  private def splitInteractions(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey").as("cust"),
        col("o_orderdate"))
      .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey").as("part")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("cust", "part")
      .agg(max(expr(s"case when o_orderdate < $splitDate then 1 else 0 end"))
          .as("in_tr"),
        max(expr(s"case when o_orderdate >= $splitDate then 1 else 0 end"))
          .as("in_te"))
      .localCheckpoint()

  /** RANKING-METRICS evaluator readout (the recommender eval half,
    * VERDICT r9 #2): precision@5 / AP@5 / NDCG@5 of a deterministic
    * POPULARITY top-5 recommender against the held-out interaction
    * fold, per probe user, all EXACT integer ppm (AP via the ×60 lcm
    * trick, DCG from api.Ml's literal millionths weight table — libm
    * log2 never runs at query time, so the DuckDB twin evaluates
    * identical integers). Relevant = test-fold parts the user had NOT
    * bought in train (held-out NEW items); probes = the 20 smallest
    * custkeys active in train with ≥ 1 relevant item. The popularity
    * ranker (not the seeded ALS) is the GRADED ranking source because
    * it is the one recommender an exact SQL oracle can reproduce —
    * Pipeline17Spec runs the SAME api.Ml.rankingMetricsAt5 evaluator
    * over q_ml_als_topk's output against the same held-out fold, so
    * the iterative recommender gets its eval half too (spec-bounded,
    * like every seeded MLlib fit).
    *
    * 100 TB: the split scans are co-keyed joins; per-user candidate
    * ranking windows partition on (probe) user over the broadcast
    * 20-probe frame — never a global popularity sort; the evaluator's
    * windows hold ≤ 5 rows per user. */
  def mlRankingMetrics(s: SparkSession, dir: String): DataFrame = {
    val inter = splitInteractions(s, dir)
    val train = inter.where(col("in_tr") === 1).select("cust", "part")
    val rel = inter.where(col("in_te") === 1 && col("in_tr") === 0)
      .select("cust", "part")
    val probes = train.select("cust").distinct()
      .join(rel.select("cust").distinct(), "cust")
      .orderBy("cust").limit(20)
    val pop = train.groupBy("part").agg(count(lit(1)).as("cnt"))
    val trainSeen = train.join(broadcast(probes), "cust")
    val wr = Window.partitionBy("cust")
      .orderBy(col("cnt").desc, col("part").asc)
    val recs = pop.crossJoin(broadcast(probes))
      .join(trainSeen, Seq("cust", "part"), "left_anti")
      .withColumn("rank", row_number().over(wr).cast("long"))
      .where(col("rank") <= 5)
      .select("cust", "rank", "part")
    val relProbe = rel.join(broadcast(probes), "cust")
    graft.api.Ml.rankingMetricsAt5(recs, relProbe,
        userCol = "cust", rankCol = "rank", itemCol = "part")
      .orderBy("cust")
  }

  /** CHI-SQUARE feature selector over the embedding dimensions
    * (VERDICT r9 #6 — UnivariateFeatureSelector/ChiSqSelector
    * semantics, exact-integer): each dim j buckets on sign
    * (embedding[j] ≥ 0 — the corpus is zero-centered, ~50/50), the
    * per-dim 2×|labels| contingency yields the χ² statistic in milli
    * as Σ over the FULL cell grid (absent cells count as O = 0 — the
    * grid is rebuilt from the marginals, so empty-cell mass is never
    * silently dropped) of ((O·N − R·C)²·1000) div (R·C·N) — per-term
    * integer division, identical on both engines; dims rank by
    * (stat desc, dim asc) via a theta-join over the 64-row stat frame
    * (never a SinglePartition window) and the top 8 are selected.
    *
    * Headroom: (O·N)²·1000 needs decimal(38,0)/HUGEINT and stays
    * exact to N ≈ 3e8 rows; past that, pre-divide the cell term by N
    * (documented here, same class as the gini decimal bound).
    *
    * 100 TB: ONE posexplode pass into a map-side-partial hash agg
    * (64× row blowup but 3-int rows); everything after runs on the
    * ≤ 64·2·|labels| cell frame. */
  def mlFeatureSelect(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("pos").as("dim"),
        when(col("col") >= 0f, 1L).otherwise(0L).as("b"), col("label"))
    val nT = Tables.embeddings(s, dir).agg(count(lit(1)).as("nt"))
    val cells = ex.groupBy("dim", "b", "label")
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // ≤ 64·2·|labels| rows; three consumers
    val rT = cells.groupBy("dim", "b").agg(sum("o").as("rt"))
    val cT = cells.groupBy("dim", "label").agg(sum("o").as("ct"))
    val stat = rT.join(cT, "dim")
      .join(cells, Seq("dim", "b", "label"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(nT))
      .select(col("dim"),
        expr("(cast(o as decimal(38,0)) * nt" +
          " - cast(rt as decimal(38,0)) * ct)").as("dd"),
        col("rt"), col("ct"), col("nt"))
      .groupBy("dim")
      .agg(sum(expr("(dd * dd * 1000)" +
        " div (cast(rt as decimal(38,0)) * ct * nt)")).as("sm"))
      .select(col("dim").cast("long").as("dim"),
        expr("cast(sm as bigint)").as("stat_milli"))
      .localCheckpoint() // 64 rows; theta-rank self-join below
    val other = stat.select(col("dim").as("d2"), col("stat_milli").as("s2"))
    stat.join(broadcast(other),
        col("s2") > col("stat_milli") ||
          (col("s2") === col("stat_milli") && col("d2") < col("dim")),
        "left")
      .groupBy("dim", "stat_milli")
      .agg((count("d2") + 1).as("sel_rank"))
      .where(col("sel_rank") <= 8)
      .select(col("sel_rank"), col("dim"), col("stat_milli"))
      .orderBy("sel_rank")
  }

  /** Second clustering family (VERDICT r9 #3): BisectingKMeans
    * (divisive hierarchical — top-down 2-way splits, no random
    * centroid init beyond the seeded split choice) over the same
    * embedding feature frame as the KMeans wrapper, k = 10, seeded,
    * emitting per-cluster sizes. NO oracle (iterative fit);
    * Pipeline17Spec pins determinism across two fits, full corpus
    * coverage, and structural agreement with the shared seeded KMeans
    * target well above the 10-class chance floor.
    *
    * 100 TB: each bisection is a 2-means on one cluster's subset —
    * per-split cost shrinks geometrically down the tree; like the
    * KMeans wrapper, only transform touches every row afterwards. */
  def mlBisectingKmeans(s: SparkSession, dir: String): DataFrame =
    bkAssignments(s, dir)
      .groupBy("bcluster")
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("bcluster").cast("long").as("cluster"),
        col("cluster_size"))
      .orderBy("cluster")

  /** (vec_id, bcluster, target) — shared with Pipeline17Spec so the
    * agreement-with-KMeans assertion sees per-vector assignments. */
  private[graft] def bkAssignments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.BisectingKMeans
    val km = VectorOps.kmeansTarget(s, dir)
    // the divisive fit rescans the input once per split level unless
    // cached; the fit is eager, so unpersist right after it
    val feats = VectorOps.sharedRawFeats(s, dir).persist()
    val bk = try new BisectingKMeans().setK(10).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("raw").setPredictionCol("bcluster").fit(feats)
    finally feats.unpersist(false)
    km.transform(bk.transform(VectorOps.sharedRawFeats(s, dir)))
      .select(col("vec_id"), col("bcluster"), col("target"))
  }

  /** AFT SURVIVAL regression (VERDICT r9 #5 — spark.ml
    * AFTSurvivalRegression, the parametric sibling of
    * q_events_hazard's Kaplan–Meier table): per-user lifetimes
    * (first → last event day + 1, so the log-time label is defined
    * at single-day lifetimes), censoring by the observation boundary
    * (a user whose last event falls within 7 days of the corpus max
    * date may still be alive — censored = 0, else the churn event is
    * observed = 1), covariates = [log1p(event count), purchase
    * share]. Emits the fitted per-user 25/50/75% survival-time
    * quantiles for the 10 smallest user ids. NO oracle (Weibull MLE
    * via L-BFGS); Pipeline17Spec pins the quantile curve monotone
    * (q25 ≤ q50 ≤ q75, all > 0) and the fit deterministic across two
    * runs.
    *
    * 100 TB: the fit's gradient is a treeAggregate over the per-user
    * frame with O(|features|) state; lifetimes come from ONE map-side
    * partial hash agg over the event stream. */
  def mlAftSurvival(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.regression.AFTSurvivalRegression
    val toVec = udf((a: Seq[Double]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.toArray))
    val ref = Tables.events(s, dir).agg(max(to_date(col("ts"))).as("refd"))
    val users = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("first_d"),
        max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_pur"))
      .crossJoin(broadcast(ref))
      .select(col("user_id"),
        expr("cast(datediff(last_d, first_d) + 1 as double)").as("label"),
        expr("cast(case when datediff(refd, last_d) > 7 then 1.0" +
          " else 0.0 end as double)").as("censor"),
        toVec(array(expr("log1p(cast(n_ev as double))"),
          expr("cast(n_pur as double) / n_ev"))).as("features"))
    // the L-BFGS fit rescans per iteration unless cached; fit is
    // eager, so unpersist right after (the LR wrapper's pattern).
    // coalesce(8) first: a CACHED plan keeps its pre-AQE shuffle
    // partitioning (canChangeCachedPlanOutputPartitioning=false), so
    // the per-user support frame would otherwise pin 32 near-empty
    // partitions and every line-search evaluation would pay 32-task
    // scheduling overhead — the measured cost of this fit is task
    // dispatch, not math. 8 keeps the treeAggregate parallel while
    // cutting dispatch 4×; at a row count where 8 partitions spill,
    // raise it with the data (the state per task is O(|features|)).
    val cached = users.coalesce(8).persist()
    // maxIter bounded like the other iterative wrappers: the 2-feature
    // Weibull MLE plateaus in a few L-BFGS rounds; the default 100
    // iteration cap costs a full treeAggregate job per round
    val model = try new AFTSurvivalRegression().setMaxIter(25)
      .setQuantileProbabilities(Array(0.25, 0.5, 0.75))
      .setQuantilesCol("q").fit(cached)
    finally cached.unpersist(false)
    model.transform(users.where(col("user_id") < 10))
      .withColumn("qa",
        org.apache.spark.ml.functions.vector_to_array(col("q")))
      .select(col("user_id"), col("label").cast("long").as("observed_days"),
        col("censor").cast("long").as("churn_observed"),
        round(expr("qa[0]"), 6).as("q25_days"),
        round(expr("qa[1]"), 6).as("q50_days"),
        round(expr("qa[2]"), 6).as("q75_days"))
      .orderBy("user_id")
  }

  /** PRECISION-RECALL curve of the int8 embedding score against the
    * binary label — the eval sibling q_ml_auc (rank-sum ROC) and
    * q_ml_calibration still lacked: at every distinct observed score
    * t (classifier "score ≥ t"), exact TP/FP counts via the
    * DESCENDING cumulative (total − strictly-below ascending cumsum —
    * api.Dist.bandedCumSum exclusive, the q_ml_auc band pattern, no
    * global sort), and precision / recall / F1 as exact integer ppm
    * (F1 = 2·TP div (2·TP+FP+FN) — the harmonic mean IS a rational,
    * no double arithmetic anywhere).
    *
    * 100 TB: one map-side-partial hash agg is the only full-data
    * pass; the curve itself is the DOMAIN-bounded ≤16k-score frame
    * (1e6·TP ≤ 1e18 stays int64 to 1e12 rows; past that lift the ppm
    * products to decimal(38,0) like the AUC numerator). */
  def mlPrCurve(s: SparkSession, dir: String): DataFrame = {
    val g = Pipeline12.scored(s, dir).groupBy("score")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      .withColumn("sh", expr("score + 8192L")) // div needs non-negatives
    val tot = g.agg(sum("np").as("n_pos"), sum("nn").as("n_neg"))
    graft.api.Dist.bandedCumSum(g, Seq(), "sh", bandWidth = 128L,
        sumCols = Seq("np", "nn"), inclusive = false)
      .crossJoin(broadcast(tot))
      .select(col("score"),
        (col("n_pos") - col("cum_np")).as("tp"),
        (col("n_neg") - col("cum_nn")).as("fp"),
        col("n_pos"))
      .select(col("score"), col("tp"), col("fp"),
        expr("(1000000 * tp) div (tp + fp)").as("precision_ppm"),
        expr("(1000000 * tp) div n_pos").as("recall_ppm"),
        expr("(2000000 * tp) div (2 * tp + fp + (n_pos - tp))")
          .as("f1_ppm"))
      .orderBy("score")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_ranking_metrics" -> mlRankingMetrics,
    "q_ml_feature_select" -> mlFeatureSelect,
    "q_ml_bisecting_kmeans" -> mlBisectingKmeans,
    "q_ml_aft_survival" -> mlAftSurvival,
    "q_ml_pr_curve" -> mlPrCurve)

  def oracleSql: Map[String, String] = Map(
    "q_ml_ranking_metrics" ->
      """WITH inter AS (
        |  SELECT o_custkey AS cust, l_partkey AS part, o_orderdate AS d
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |tr AS (SELECT DISTINCT cust, part FROM inter
        |       WHERE d < DATE '1997-01-01'),
        |te AS (SELECT DISTINCT cust, part FROM inter
        |       WHERE d >= DATE '1997-01-01'),
        |rel AS (SELECT cust, part FROM te
        |        WHERE NOT EXISTS (SELECT 1 FROM tr
        |          WHERE tr.cust = te.cust AND tr.part = te.part)),
        |probes AS (SELECT cust FROM (SELECT DISTINCT cust FROM tr)
        |           WHERE cust IN (SELECT cust FROM rel)
        |           ORDER BY cust LIMIT 20),
        |pop AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM tr GROUP BY part),
        |recs AS (
        |  SELECT cust, part, rnk FROM (
        |    SELECT p.cust, pop.part,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY p.cust
        |        ORDER BY pop.cnt DESC, pop.part ASC) AS BIGINT) AS rnk
        |    FROM pop CROSS JOIN probes p
        |    WHERE NOT EXISTS (SELECT 1 FROM tr
        |      WHERE tr.cust = p.cust AND tr.part = pop.part))
        |  WHERE rnk <= 5),
        |cum AS (
        |  SELECT r.cust, r.rnk,
        |    CASE WHEN rel.part IS NOT NULL THEN 1 ELSE 0 END AS hit,
        |    SUM(CASE WHEN rel.part IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY r.cust ORDER BY r.rnk
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumh
        |  FROM recs r LEFT JOIN rel
        |    ON rel.cust = r.cust AND rel.part = r.part),
        |nrel AS (SELECT cust, CAST(COUNT(*) AS BIGINT) AS n_rel
        |         FROM rel GROUP BY cust),
        |agg AS (
        |  SELECT cust, CAST(SUM(hit) AS BIGINT) AS hits,
        |    SUM(hit * cumh * (60 // rnk)) AS apnum,
        |    SUM(hit * (CASE rnk WHEN 1 THEN 1000000 WHEN 2 THEN 630929
        |      WHEN 3 THEN 500000 WHEN 4 THEN 430676
        |      WHEN 5 THEN 386852 ELSE 0 END)) AS dcg
        |  FROM cum GROUP BY cust)
        |SELECT a.cust, n.n_rel, a.hits,
        |  CAST((1000000 * a.hits) // 5 AS BIGINT) AS prec5_ppm,
        |  CAST((1000000 * apnum) // (60 * LEAST(n.n_rel, 5)) AS BIGINT)
        |    AS ap5_ppm,
        |  CAST((1000000 * dcg) // (CASE LEAST(n.n_rel, 5)
        |    WHEN 1 THEN 1000000 WHEN 2 THEN 1630929 WHEN 3 THEN 2130929
        |    WHEN 4 THEN 2561605 WHEN 5 THEN 2948457 END) AS BIGINT)
        |    AS ndcg5_ppm
        |FROM agg a JOIN nrel n USING (cust)
        |ORDER BY cust""".stripMargin,
    "q_ml_feature_select" ->
      """WITH ex AS (
        |  SELECT label, d AS dim,
        |    CASE WHEN v[d+1] >= 0 THEN 1 ELSE 0 END AS b
        |  FROM (SELECT label, embedding::DOUBLE[] AS v,
        |          unnest(range(0, len(embedding))) AS d
        |        FROM embeddings)),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM embeddings),
        |cells AS (SELECT dim, b, label, CAST(COUNT(*) AS BIGINT) AS o
        |          FROM ex GROUP BY 1, 2, 3),
        |rt AS (SELECT dim, b, CAST(SUM(o) AS BIGINT) AS rt
        |       FROM cells GROUP BY 1, 2),
        |ct AS (SELECT dim, label, CAST(SUM(o) AS BIGINT) AS ct
        |       FROM cells GROUP BY 1, 2),
        |grid AS (
        |  SELECT r.dim, r.rt, c.ct, nt, COALESCE(cells.o, 0) AS o
        |  FROM rt r JOIN ct c ON r.dim = c.dim
        |  LEFT JOIN cells ON cells.dim = r.dim AND cells.b = r.b
        |    AND cells.label = c.label
        |  CROSS JOIN n),
        |stat AS (
        |  SELECT dim, CAST(SUM((dd * dd * 1000)
        |      // (CAST(rt AS HUGEINT) * ct * nt)) AS BIGINT) AS stat_milli
        |  FROM (SELECT dim, rt, ct, nt,
        |          CAST(o AS HUGEINT) * nt - CAST(rt AS HUGEINT) * ct AS dd
        |        FROM grid)
        |  GROUP BY dim)
        |SELECT sel_rank, CAST(dim AS BIGINT) AS dim, stat_milli FROM (
        |  SELECT s1.dim, s1.stat_milli,
        |    CAST(1 + COUNT(s2.dim) AS BIGINT) AS sel_rank
        |  FROM stat s1 LEFT JOIN stat s2
        |    ON s2.stat_milli > s1.stat_milli
        |    OR (s2.stat_milli = s1.stat_milli AND s2.dim < s1.dim)
        |  GROUP BY s1.dim, s1.stat_milli)
        |WHERE sel_rank <= 8 ORDER BY sel_rank""".stripMargin,
    "q_ml_pr_curve" -> (prCurveSqlBody + " ORDER BY score"))

  /** The exact banded-PR-curve SQL body (no final ORDER BY) — the
    * single source shared with Pipeline32's q_ml_f1_threshold, which
    * re-sorts the same curve by (f1 desc, score asc) and takes the
    * operating point. */
  private[operators] val prCurveSqlBody: String =
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
        |t AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |             CAST(SUM(nn) AS BIGINT) AS n_neg FROM g),
        |c AS (
        |  SELECT score,
        |    n_pos - CAST(COALESCE(SUM(np) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tp,
        |    n_neg - CAST(COALESCE(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS fp,
        |    n_pos
        |  FROM g, t)
        |SELECT score, tp, fp,
        |  CAST((1000000 * tp) // (tp + fp) AS BIGINT) AS precision_ppm,
        |  CAST((1000000 * tp) // n_pos AS BIGINT) AS recall_ppm,
        |  CAST((2000000 * tp) // (2 * tp + fp + (n_pos - tp)) AS BIGINT)
        |    AS f1_ppm
        |FROM c""".stripMargin
}
