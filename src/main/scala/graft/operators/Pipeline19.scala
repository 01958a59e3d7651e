package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.32 round-10 batch 3 — the clustering-eval + vector-profile
  * helpers that close the evaluator matrix: an EXACT squared-euclidean
  * silhouette (ClusteringEvaluator semantics made engine-exact in ppm
  * over the int8-quantized vectors — the one evaluator family still
  * missing after binary/multiclass/regression/ranking all landed), a
  * per-dimension vector Summarizer (mean/variance/min/max/L1 from one
  * exploded pass), and a MultilayerPerceptronClassifier wrapper (the
  * fourth supervised family beside trees/linear/bayes).
  */
object Pipeline19 extends graft.QueryModule {

  /** EXACT SILHOUETTE score (squared-euclidean, the MLlib
    * ClusteringEvaluator's distance) of the LABEL partition over the
    * int8-quantized embeddings, per cluster in exact ppm. The label
    * partition is the GRADED clustering because it is deterministic —
    * any model's assignment column plugs into the same arithmetic
    * (the seeded KMeans wrappers are evaluated exactly this way in
    * Pipeline19Spec).
    *
    * The whole evaluator is moment algebra, never a pair join:
    * Σ_{y∈c} ‖x−y‖² = n_c·‖x‖² − 2·x·S_c + ssq_c from the per-cluster
    * moments (n_c, S_c = Σy per dim, ssq_c = Σ‖y‖²), all EXACT
    * integers on the floor-quantized vectors. a(x) = own-cluster mean
    * (self included, div n — documented), b(x) = min over other
    * clusters of the FLOORED ppm mean (both engines floor the same
    * way, so the argmin is engine-identical even at rational ties),
    * s(x) = (b−a)/max(a,b) in ppm with the SIGN-SAFE split (negate
    * after a non-negative floor div — Spark div truncates where
    * DuckDB // floors, so a negative operand must never reach the
    * division). Per-cluster means of s are floor-divided with the
    * same sign-safe split.
    *
    * Headroom: n_c·‖x‖²·1e6 forms in decimal(38,0)/HUGEINT (wraps
    * int64 past ~4e12 rows on this quantization).
    *
    * 100 TB: per-point work is O(d·|clusters|) — the same blowup a
    * KMeans transform pays; moments come from ONE posexplode hash
    * agg, the per-point dots from a broadcast join against the
    * d·|clusters| moment frame. No pairwise term anywhere. */
  def mlSilhouette(s: SparkSession, dir: String): DataFrame =
    graft.api.Ml.silhouettePpm(
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            graft.api.Vec.q127("embedding").as("q")),
        idCol = "vec_id", qCol = "q", clusterCol = "label")
      .orderBy("cluster")

  /** Per-dimension vector SUMMARIZER (MLlib Summarizer semantics over
    * the int8-quantized embeddings, exact-integer): for each of the
    * 64 dims — count, mean in milli (floor), variance in milli via
    * the moment identity (n·Σq² − (Σq)²)·1000 div n² in
    * decimal(38,0)/HUGEINT, min, max, and the L1 norm Σ|q|. ONE
    * posexplode pass; the output is the DOMAIN-bounded 64-row frame.
    *
    * 100 TB: the posexplode is a d× row blowup of 3-int rows feeding
    * a map-side-partial hash agg on 64 keys — the same shape as
    * q_ml_feature_select's scan. */
  def vecSummary(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(posexplode(graft.api.Vec.q127("embedding")))
      .groupBy(col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum("col").as("sx"),
        sum(expr("cast(col as decimal(19,0)) * col")).as("sxx"),
        min("col").as("min_q"), max("col").as("max_q"),
        sum(abs(col("col"))).as("l1"))
      .select(col("dim"), col("n"),
        expr("case when sx >= 0 then (sx * 1000) div n" +
          " else -(((-sx) * 1000) div n) end").as("mean_milli"),
        expr("cast((cast(n as decimal(38,0)) * sxx" +
          " - cast(sx as decimal(38,0)) * sx) * 1000" +
          " div (cast(n as decimal(38,0)) * n) as bigint)")
          .as("var_milli"),
        col("min_q"), col("max_q"), col("l1"))
      .orderBy("dim")

  /** ROBUST-SCALER fit parameters per dimension (RobustScaler
    * semantics, exact-integer): per-dim q1/median/q3 of the int8-
    * quantized values via the weighted-median min-when pattern on the
    * DOMAIN-bounded (dim, value) grid (≤64·192 rows — quantiles of a
    * quantized column are exact, no sketch), plus the IQR the scaler
    * divides by. The median/IQR pair is the outlier-robust sibling of
    * q_vec_summary's mean/variance — the scaler a pipeline reaches
    * for when embeddings carry heavy tails.
    *
    * 100 TB: one posexplode map-side-partial hash agg to the grid;
    * the quantile window runs per dim on ≤192 rows. */
  def vecRobustScaler(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.embeddings(s, dir)
      .select(posexplode(graft.api.Vec.q127("embedding")))
      .groupBy(col("pos").cast("long").as("dim"), col("col").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("dim").orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val wt = org.apache.spark.sql.expressions.Window.partitionBy("dim")
    g.withColumn("cum", sum("cnt").over(wc))
      .withColumn("tot", sum("cnt").over(wt))
      .groupBy("dim")
      .agg(min(when(expr("cum * 4 >= tot"), col("v"))).as("q1_q"),
        min(when(expr("cum * 2 >= tot"), col("v"))).as("median_q"),
        min(when(expr("cum * 4 >= tot * 3"), col("v"))).as("q3_q"))
      .select(col("dim"), col("q1_q"), col("median_q"), col("q3_q"),
        (col("q3_q") - col("q1_q")).as("iqr_q"))
      .orderBy("dim")
  }

  /** MULTILAYER PERCEPTRON classifier wrapper (spark.ml
    * MultilayerPerceptronClassifier — the fourth supervised family
    * beside the tree/linear/bayes wrappers): layers [64, 16, 10] on
    * the shared seeded-KMeans target (the learnable-target
    * discipline), deterministic mod-3 holdout, per-class confusion
    * counts with exact ppm accuracy. NO oracle (seeded L-BFGS fit);
    * Pipeline19Spec pins determinism and accuracy above the majority
    * floor.
    *
    * 100 TB: each L-BFGS iteration is a treeAggregate of gradient
    * partials (state = |weights| ≈ 64·16+16·10, row-count free);
    * only transform touches every row afterwards. */
  def mlMlpEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
    val base = VectorOps.kmeansTarget(s, dir)
      .transform(VectorOps.sharedRawFeats(s, dir))
      .select(col("vec_id"), col("raw"),
        col("target").cast("double").as("label"))
    val train = base.where(expr("vec_id % 3 != 0")).coalesce(8).persist()
    val model = try new MultilayerPerceptronClassifier()
      .setLayers(Array(64, 16, 10)).setSeed(42L).setMaxIter(25)
      .setFeaturesCol("raw").setLabelCol("label")
      .fit(train)
    finally train.unpersist(false)
    val conf = model.transform(base.where(expr("vec_id % 3 = 0")))
      .groupBy(col("label").cast("long").as("actual"),
        col("prediction").cast("long").as("pred"))
      .agg(count(lit(1)).as("n"))
    conf.groupBy("actual")
      .agg(sum("n").as("n_actual"),
        sum(when(col("actual") === col("pred"), col("n"))
          .otherwise(0L)).as("tp"))
      .select(col("actual"), col("n_actual"), col("tp"),
        expr("(1000000 * tp) div n_actual").as("recall_ppm"))
      .orderBy("actual")
  }

  /** (vec_id, target, q) — the seeded-KMeans assignment with the
    * quantized vector, shared with Pipeline19Spec so the silhouette
    * evaluator can grade the iterative clustering (no oracle exists
    * for the assignment itself). */
  private[graft] def kmeansAssignedQ(s: SparkSession,
      dir: String): DataFrame =
    VectorOps.kmeansTarget(s, dir)
      .transform(VectorOps.sharedRawFeats(s, dir))
      .select(col("vec_id"), col("target"))
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.api.Vec.q127("embedding").as("q")),
        "vec_id")

  /** DETERMINISTIC MULTIPLIER-BOOTSTRAP confidence interval for the
    * mean (the uncertainty readout every point-estimate dashboard
    * lacks): 32 replicates where row k's weight in replicate b is the
    * fixed map [0,1,1,1,1,2] indexed by the LCG hash
    * (((k % p)·1103515245 + 12345 + b·2654435761) % p) % 6 with
    * p = 1000000007 — mean weight exactly 1, engine-identical
    * integers at ANY key scale (ADVICE r10: the raw k·1103515245
    * product wraps int64 past ~8.4e9 keys where Spark wraps silently
    * but DuckDB raises; reducing k mod p first is congruent mod p and
    * bounds the product under 1.2e18), reproducible on any engine (the
    * repo-wide seeded-hash discipline; a Poisson bootstrap would need
    * engine RNG). Per-replicate weighted means floor-divide exactly;
    * the CI is the 2nd..31st order statistic of the 32 replicate
    * means (a ~94% interval by the usual bootstrap percentile logic,
    * here EXACT given the deterministic replicates).
    *
    * 100 TB: the 32× fan-out happens map-side into a 32-key partial
    * agg — no row-scale shuffle; the order-statistic window runs on
    * 32 rows. */
  def mlBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val reps = s.range(0, 32).select(col("id").as("b"))
    val means = o.crossJoin(broadcast(reps))
      .select(col("b"), col("cents"),
        expr("case (k % 1000000007 * 1103515245 + 12345" +
          " + b * 2654435761) % 1000000007 % 6" +
          " when 0 then 0L when 5 then 2L" +
          " else 1L end").as("w"))
      .groupBy("b")
      .agg(expr("sum(w * cents) div sum(w)").as("m"))
    val wr = Window.partitionBy(lit(1))
      .orderBy(col("m").asc, col("b").asc)
    val ranked = means.withColumn("rn", row_number().over(wr))
    val tot = o.agg(count(lit(1)).as("n"),
      expr("sum(cents) div count(1)").as("point_mean_cents"))
    tot.crossJoin(broadcast(
        ranked.where(col("rn") === 2).select(col("m").as("ci_lo_cents"))))
      .crossJoin(broadcast(
        ranked.where(col("rn") === 31).select(col("m").as("ci_hi_cents"))))
      .select(col("n"), col("point_mean_cents"), col("ci_lo_cents"),
        col("ci_hi_cents"), lit(32L).as("n_replicates"))
  }

  /** RF FEATURE IMPORTANCES readout (the explainability half of the
    * q_ml_rf_eval wrapper, from the SAME memoized seeded fit): top-8
    * embedding dims by Gini importance, (importance desc, dim asc),
    * 6 dp. NO oracle (seeded ensemble internals); Pipeline19Spec pins
    * determinism, the 8-row shape, normalization (importances sum
    * ≤ 1) and ordering. */
  def mlRfImportance(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val imp = Pipeline10.rfModel(s, dir).featureImportances
    imp.toArray.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq
      .sortBy { case (i, v) => (-v, i) }.take(8).zipWithIndex
      .map { case ((i, v), r) =>
        (r.toLong + 1, i, math.rint(v * 1e6) / 1e6) }
      .toDF("rank", "dim", "importance")
  }

  /** MODEL PERSISTENCE round-trip (MLWritable/MLReadable — the
    * deploy-side helper every batch-train/online-serve pipeline needs,
    * the model-side sibling of the q_source_* data round-trips): save
    * the shared seeded KMeans fit with the native ML writer, load it
    * back in the same session, and emit the RELOADED model's
    * per-cluster sizes beside a per-cluster agreement check against
    * the in-memory original. The save is unconditional overwrite
    * (O(k·d) files, cheaper than a row transform) so the round-trip
    * is self-healing after a crashed partial write — the timed path
    * is save + load + transform. NO oracle (the assignment is the
    * seeded fit's); Pipeline19Spec pins reloaded == original on every
    * vector and k rows out.
    *
    * 100 TB: model files are O(k·d) regardless of corpus size; only
    * the two transforms touch rows. */
  def mlModelPersist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeansModel
    val path = Store.path(s, "models/" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString +
      "/kmeans")
    val orig = VectorOps.kmeansTarget(s, dir)
    // ADVICE r10: no exists() guard — a crashed partial previous write
    // would poison every later load, and File.exists assumes the local
    // FS is Spark's default FS. Model files are O(k·d); the
    // unconditional overwrite costs less than one row transform and
    // makes the save self-healing on any filesystem.
    orig.write.overwrite().save(path)
    val reloaded = KMeansModel.load(path)
    val feats = VectorOps.sharedRawFeats(s, dir)
    val a = orig.transform(feats).select(col("vec_id"),
      col("target").cast("long").as("c_orig"))
    val b = reloaded.setPredictionCol("c_re").transform(feats)
      .select(col("vec_id"), col("c_re").cast("long").as("c_re"))
    a.join(b, "vec_id")
      .groupBy(col("c_re").as("cluster"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("c_orig") === col("c_re"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("cluster"), col("cluster_size"),
        (col("cluster_size") === col("n_agree")).as("reload_exact"))
      .orderBy("cluster")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_model_persist" -> mlModelPersist,
    "q_ml_bootstrap_ci" -> mlBootstrapCi,
    "q_ml_rf_importance" -> mlRfImportance,
    "q_ml_silhouette" -> mlSilhouette,
    "q_vec_summary" -> vecSummary,
    "q_vec_robust_scaler" -> vecRobustScaler,
    "q_ml_mlp_eval" -> mlMlpEval)

  def oracleSql: Map[String, String] = Map(
    "q_ml_bootstrap_ci" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |reps AS (SELECT unnest(range(0, 32)) AS b),
        |means AS (
        |  SELECT b,
        |    CAST(SUM(w * cents) // SUM(w) AS BIGINT) AS m
        |  FROM (SELECT b, cents,
        |          CASE (k % 1000000007 * 1103515245 + 12345
        |              + b * 2654435761)
        |            % 1000000007 % 6 WHEN 0 THEN 0 WHEN 5 THEN 2
        |            ELSE 1 END AS w
        |        FROM o CROSS JOIN reps)
        |  GROUP BY b),
        |ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC, b ASC)
        |             AS rn FROM means),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(cents) // COUNT(*) AS BIGINT)
        |            AS point_mean_cents FROM o)
        |SELECT n, point_mean_cents,
        |  (SELECT m FROM ranked WHERE rn = 2) AS ci_lo_cents,
        |  (SELECT m FROM ranked WHERE rn = 31) AS ci_hi_cents,
        |  CAST(32 AS BIGINT) AS n_replicates
        |FROM tot""".stripMargin,
    "q_ml_silhouette" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS cl,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 127.0) AS BIGINT)) AS q,
        |    CAST(list_sum(list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 127.0) AS BIGINT)
        |        * CAST(floor(x * 127.0) AS BIGINT))) AS BIGINT) AS sq
        |  FROM embeddings),
        |cm AS (SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_c,
        |         CAST(SUM(sq) AS BIGINT) AS ssq_c FROM q GROUP BY cl),
        |ex AS (SELECT vec_id, cl, d - 1 AS dim, q[d] AS v
        |       FROM q, unnest(range(1, len(q) + 1)) AS t(d)),
        |dm AS (SELECT cl AS c2, dim, CAST(SUM(v) AS BIGINT) AS s_cd
        |       FROM ex GROUP BY 1, 2),
        |dots AS (SELECT ex.vec_id, dm.c2,
        |           CAST(SUM(ex.v * dm.s_cd) AS BIGINT) AS dot
        |         FROM ex JOIN dm ON ex.dim = dm.dim GROUP BY 1, 2),
        |d2 AS (SELECT q.vec_id, q.cl, dots.c2,
        |         CAST((CAST(cm.n_c AS HUGEINT) * q.sq - 2 * dots.dot
        |           + cm.ssq_c) * 1000000 // cm.n_c AS BIGINT) AS m_ppm
        |       FROM q JOIN dots ON q.vec_id = dots.vec_id
        |       JOIN cm ON cm.cl = dots.c2),
        |ab AS (SELECT vec_id, cl,
        |         MIN(CASE WHEN c2 = cl THEN m_ppm END) AS a,
        |         MIN(CASE WHEN c2 <> cl THEN m_ppm END) AS b
        |       FROM d2 GROUP BY 1, 2),
        |sil AS (SELECT vec_id, cl,
        |         CASE WHEN a = 0 AND b = 0 THEN 0
        |           WHEN b >= a THEN ((b - a) * 1000000)
        |             // (CASE WHEN a > b THEN a ELSE b END)
        |           ELSE -(((a - b) * 1000000)
        |             // (CASE WHEN a > b THEN a ELSE b END)) END AS s_ppm
        |       FROM ab)
        |SELECT cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(SUM(s_ppm) AS BIGINT) AS sum_s_ppm,
        |  CAST(CASE WHEN SUM(s_ppm) >= 0
        |    THEN SUM(s_ppm) // COUNT(*)
        |    ELSE -((-SUM(s_ppm)) // COUNT(*)) END AS BIGINT)
        |    AS mean_s_ppm
        |FROM sil GROUP BY cl ORDER BY cluster""".stripMargin,
    "q_vec_robust_scaler" ->
      """WITH ex AS (
        |  SELECT d - 1 AS dim,
        |    CAST(floor(embedding[d] * 127.0) AS BIGINT) AS v
        |  FROM embeddings,
        |    unnest(range(1, len(embedding) + 1)) AS t(d)),
        |g AS (SELECT dim, v, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM ex GROUP BY 1, 2),
        |c AS (SELECT dim, v,
        |        SUM(cnt) OVER (PARTITION BY dim ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum,
        |        SUM(cnt) OVER (PARTITION BY dim) AS tot
        |      FROM g),
        |q AS (SELECT CAST(dim AS BIGINT) AS dim,
        |        CAST(MIN(CASE WHEN cum * 4 >= tot THEN v END) AS BIGINT)
        |          AS q1_q,
        |        CAST(MIN(CASE WHEN cum * 2 >= tot THEN v END) AS BIGINT)
        |          AS median_q,
        |        CAST(MIN(CASE WHEN cum * 4 >= tot * 3 THEN v END)
        |          AS BIGINT) AS q3_q
        |      FROM c GROUP BY dim)
        |SELECT dim, q1_q, median_q, q3_q, q3_q - q1_q AS iqr_q
        |FROM q ORDER BY dim""".stripMargin,
    "q_vec_summary" ->
      """WITH ex AS (
        |  SELECT d - 1 AS dim,
        |    CAST(floor(embedding[d] * 127.0) AS BIGINT) AS v
        |  FROM embeddings,
        |    unnest(range(1, len(embedding) + 1)) AS t(d))
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CASE WHEN SUM(v) >= 0 THEN (SUM(v) * 1000) // COUNT(*)
        |    ELSE -(((-SUM(v)) * 1000) // COUNT(*)) END AS BIGINT)
        |    AS mean_milli,
        |  CAST((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(v AS HUGEINT) * v)
        |      - CAST(SUM(v) AS HUGEINT) * SUM(v)) * 1000
        |    // (CAST(COUNT(*) AS HUGEINT) * COUNT(*)) AS BIGINT)
        |    AS var_milli,
        |  CAST(MIN(v) AS BIGINT) AS min_q, CAST(MAX(v) AS BIGINT) AS max_q,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS l1
        |FROM ex GROUP BY dim ORDER BY dim""".stripMargin)
}
