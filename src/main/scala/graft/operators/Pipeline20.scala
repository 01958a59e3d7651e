package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.33 round-10 batch 4 — the remaining MLlib model/meta families:
  * factorization machines (the embeddings-with-interactions
  * classifier), the OneVsRest meta-estimator (MLlib's own multiclass
  * lift of a binary learner, beside our manual one-vs-rest SVC), a
  * Poisson GLM (counts regression — the GLM family q_ml_linfit's
  * gaussian OLS doesn't cover), and the TrainValidationSplit tuning
  * object (MLlib's own selector beside the manual q_ml_cv_select
  * harness). All seeded iterative fits: NO oracles; Pipeline20Spec
  * pins determinism and quality floors.
  */
object Pipeline20 extends graft.QueryModule {

  /** Shared (vec_id, raw, t) labeled feature frame on the seeded
    * KMeans target — the learnable-target discipline every classifier
    * wrapper uses. */
  private def base(s: SparkSession, dir: String): DataFrame =
    VectorOps.kmeansTarget(s, dir)
      .transform(VectorOps.sharedRawFeats(s, dir))
      .select(col("vec_id"), col("raw"),
        col("target").cast("double").as("t"))

  /** FACTORIZATION-MACHINES classifier wrapper (spark.ml FMClassifier
    * — linear terms + rank-4 pairwise factor interactions, the model
    * family between linear and trees): binary target = KMeans cluster
    * 0 one-vs-rest (the q_ml_svc_eval discipline — a spatial cluster
    * is near-separable), mod-3 holdout, confusion counts with exact
    * ppm accuracy. NO oracle (seeded AdamW fit); Pipeline20Spec pins
    * determinism and balanced accuracy above chance.
    *
    * 100 TB: each iteration is one gradient pass with O(d·rank)
    * state per task; only transform touches rows afterwards. */
  def mlFmEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.FMClassifier
    val b = base(s, dir)
      .withColumn("y", (col("t") === 0.0).cast("double"))
    val train = b.where(expr("vec_id % 3 != 0")).coalesce(8).persist()
    val model = try new FMClassifier().setFactorSize(4).setSeed(42L)
      .setMaxIter(30).setStepSize(0.1)
      .setFeaturesCol("raw").setLabelCol("y").fit(train)
    finally train.unpersist(false)
    model.transform(b.where(expr("vec_id % 3 = 0")))
      .groupBy(col("y").cast("long").as("actual"),
        col("prediction").cast("long").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("actual", "pred")
  }

  /** ONE-VS-REST meta-estimator wrapper (spark.ml OneVsRest over
    * LinearSVC — MLlib's own multiclass lift of a binary learner;
    * q_ml_svc_eval hand-rolls one rest-class, this runs the real
    * meta-estimator over ALL classes): 5 coarse classes (target div 2
    * — 10 parallel max-margin fits would double the bench cost for no
    * extra surface), mod-3 holdout, per-class recall ppm. NO oracle;
    * Pipeline20Spec pins determinism, fold conservation and accuracy
    * above the 5-class chance floor.
    *
    * 100 TB: k independent OWLQN fits, each a treeAggregate with
    * O(d) state — the meta-estimator parallelizes over classes. */
  def mlOvrEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.{LinearSVC, OneVsRest}
    val b = base(s, dir)
      .withColumn("y", expr("cast(cast(t as bigint) div 2 as double)"))
    val train = b.where(expr("vec_id % 3 != 0")).coalesce(8).persist()
    val model = try new OneVsRest()
      .setClassifier(new LinearSVC().setMaxIter(10).setRegParam(0.01))
      .setFeaturesCol("raw").setLabelCol("y").fit(train)
    finally train.unpersist(false)
    val conf = model.transform(b.where(expr("vec_id % 3 = 0")))
      .groupBy(col("y").cast("long").as("actual"),
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

  /** POISSON GLM wrapper (spark.ml GeneralizedLinearRegression,
    * family=poisson, log link — the counts-regression family OLS
    * cannot express): per-user event count regressed on [purchase
    * share, log1p(active days)]; emits the fitted coefficients 6 dp
    * and the model's deviance diagnostics. NO oracle (IRLS fit);
    * Pipeline20Spec pins determinism, finite coefficients, and
    * null-deviance ≥ residual deviance (adding covariates cannot
    * worsen the fit).
    *
    * 100 TB: IRLS iterations are treeAggregate normal-equation
    * builds with O(d²) state; the per-user frame is one hash agg. */
  def mlGlmPoisson(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.regression.GeneralizedLinearRegression
    val toVec = udf((a: Seq[Double]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.toArray))
    val users = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).cast("double").as("y"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_pur"),
        countDistinct(to_date(col("ts"))).as("days"))
      .select(col("user_id"), col("y"),
        toVec(array(expr("cast(n_pur as double) / y"),
          expr("log1p(cast(days as double))"))).as("features"))
    val cached = users.coalesce(8).persist()
    val model = try new GeneralizedLinearRegression()
      .setFamily("poisson").setLink("log").setMaxIter(25)
      .setLabelCol("y").fit(cached)
    finally cached.unpersist(false)
    val sm = model.summary
    val sp = s
    import sp.implicits._
    Seq((
      math.rint(model.intercept * 1e6) / 1e6,
      math.rint(model.coefficients(0) * 1e6) / 1e6,
      math.rint(model.coefficients(1) * 1e6) / 1e6,
      math.rint(sm.deviance * 1e6) / 1e6,
      math.rint(sm.nullDeviance * 1e6) / 1e6,
      sm.degreesOfFreedom))
      .toDF("intercept", "coef_purchase_share", "coef_log_days",
        "deviance", "null_deviance", "dof")
  }

  /** TRAIN-VALIDATION-SPLIT tuning wrapper (spark.ml
    * TrainValidationSplit — MLlib's own holdout selector, beside the
    * manual q_ml_cv_select harness): LogisticRegression over a 3-point
    * regParam grid on the shared target, seeded 75/25 split, f1
    * metric; emits the winning regParam and every grid point's
    * validation metric 6 dp. NO oracle (seeded fits + seeded split);
    * Pipeline20Spec pins determinism and that the reported winner is
    * the grid argmax.
    *
    * 100 TB: |grid| independent fits over the split — the tuning
    * object adds selection, not new per-row cost. */
  def mlTvsSelect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
    val b = base(s, dir).coalesce(8).persist()
    val lr = new LogisticRegression().setMaxIter(15)
      .setFeaturesCol("raw").setLabelCol("t")
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.001, 0.01, 0.1)).build()
    val tvs = new TrainValidationSplit().setEstimator(lr)
      .setEvaluator(new MulticlassClassificationEvaluator()
        .setLabelCol("t").setMetricName("f1"))
      .setEstimatorParamMaps(grid).setTrainRatio(0.75).setSeed(42L)
    val model = try tvs.fit(b) finally b.unpersist(false)
    val sp = s
    import sp.implicits._
    val best = model.bestModel
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    grid.zip(model.validationMetrics)
      .map { case (pm, m) =>
        (pm.get(lr.regParam).get, math.rint(m * 1e6) / 1e6,
          pm.get(lr.regParam).get == best.getRegParam) }
      .toSeq.sortBy(_._1)
      .toDF("reg_param", "val_f1", "is_best")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_fm_eval" -> mlFmEval,
    "q_ml_ovr_eval" -> mlOvrEval,
    "q_ml_glm_poisson" -> mlGlmPoisson,
    "q_ml_tvs_select" -> mlTvsSelect)

  def oracleSql: Map[String, String] = Map()
}
