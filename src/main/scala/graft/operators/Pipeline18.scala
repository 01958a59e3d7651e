package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.31 round-10 evaluator/prep completions — the model-eval and
  * feature-prep helpers an ML-helper library still lacked after the
  * r10 wrapper batch, six of them with exact DuckDB oracles:
  * a multiclass confusion matrix + per-class precision/recall/F1 over
  * a plurality-per-bucket baseline classifier, regression metrics
  * (MAE/MSE/R²/MAPE) of a time-split group-mean predictor, the
  * cumulative gains/lift table at score deciles (the campaign-targeting
  * member of the AUC/PR-curve eval family), a mean/median null-imputer
  * with exact fill values, a pairwise Pearson correlation matrix from
  * one exact-moment pass, and an exactly-trained depth-1 decision
  * stump (weighted-Gini argmin over every candidate threshold) — plus
  * two spec-bounded seeded wrappers, GaussianMixture (third clustering
  * family beside KMeans/BisectingKMeans) and LDA topic modeling.
  */
object Pipeline18 extends graft.QueryModule {

  /** (vec_id, label, score, bucket): the shared int8 embedding score
    * (Pipeline12.scored's floor-quantized sum — floor has no half-way
    * tie, so the int is engine-exact) kept MULTICLASS: label stays
    * 0..9 instead of collapsing to the binary pos flag; bucket is the
    * calibration key's fixed-width (score+8192) div 1024 bin. */
  private def labeled(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        graft.api.Vec.q127Sum("embedding").as("score"))
      .withColumn("bucket", expr("(score + 8192L) div 1024"))

  /** MULTICLASS CONFUSION MATRIX + per-class precision/recall/F1
    * (MulticlassClassificationEvaluator semantics, exact-integer ppm):
    * the classifier under eval is the PLURALITY-PER-BUCKET baseline —
    * train side (even vec_ids) votes a majority label per score
    * bucket (ties break to the smaller label on both engines), eval
    * side (odd vec_ids) is scored against it, buckets unseen in train
    * fall back to the global train majority. A deterministic baseline,
    * not an iterative fit, is the GRADED classifier because it is the
    * one an exact SQL oracle can reproduce — the per-class metric
    * arithmetic is what a user points at any model's (label, pred)
    * frame. Rows are keyed by ACTUAL class (support ≥ 1 by
    * construction; a class predicted but never actual contributes to
    * the other rows' n_pred, not its own row — documented contract).
    * F1 = 2·TP div (n_pred + n_actual): the harmonic mean is a pure
    * rational, no double arithmetic anywhere.
    *
    * 100 TB: two map-side-partial hash aggs (train votes, eval
    * confusion) are the only full-data passes; the vote frame
    * (≤ 16 buckets × |labels|), the prediction map and the confusion
    * matrix (≤ |labels|²) are all broadcast-sized. */
  /** Row-level (actual, pred) predictions of the plurality-per-bucket
    * baseline on the odd-vec_id eval fold — the fixture-binding half
    * shared by the per-class matrix key and the kappa/MCC key; the
    * metric arithmetic itself lives in api.Ml (the user-facing
    * surface any model's prediction frame plugs into). */
  private def predFrame(s: SparkSession, dir: String): DataFrame = {
    val l = labeled(s, dir)
    val votes = l.where(expr("vec_id % 2 = 0"))
      .groupBy("bucket", "label").agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ 16·|labels| rows; two consumers below
    val wv = Window.partitionBy("bucket")
      .orderBy(col("n").desc, col("label").asc)
    val bucketPred = votes
      .withColumn("rn", row_number().over(wv)).where(col("rn") === 1)
      .select(col("bucket"), col("label").as("bpred"))
    val globalPred = votes.groupBy("label").agg(sum("n").as("gn"))
      .orderBy(col("gn").desc, col("label").asc).limit(1)
      .select(col("label").as("gpred"))
    l.where(expr("vec_id % 2 = 1"))
      .join(broadcast(bucketPred), Seq("bucket"), "left")
      .crossJoin(broadcast(globalPred))
      .select(col("label").as("actual"),
        coalesce(col("bpred"), col("gpred")).as("pred"))
      .localCheckpoint() // eval-fold rows; two metric consumers
  }

  def mlConfusionMatrix(s: SparkSession, dir: String): DataFrame =
    graft.api.Ml.confusionMatrixPpm(predFrame(s, dir), "actual", "pred")
      .orderBy("class")

  /** REGRESSION METRICS (RegressionEvaluator semantics — MAE, MSE,
    * R², MAPE — exact-integer): the predictor under eval is the
    * TIME-SPLIT GROUP-MEAN baseline — per-priority mean order cents
    * on pre-1997 orders (floor div, exact), evaluated on the 1997+
    * fold (a random split would let the later market drift leak into
    * the baseline). Per priority: MAE in cents, MSE in cents² (sums
    * form in decimal(38,0)/HUGEINT — err² sums wrap int64 past ~1e5
    * typical-error rows), R² in ppm against the eval fold's own mean
    * via the moment identity n·SST = n·Σy² − (Σy)² (exact, no mean
    * subtraction, can be NEGATIVE for a bad baseline — signed bigint
    * by contract), and MAPE in ppm with the per-row |err|·1e6 div y
    * floor division pinned identically on both engines.
    *
    * 100 TB: train means and eval metrics are each ONE map-side-
    * partial hash agg over the order stream; the 5-row predictor
    * frame is broadcast. */
  def mlRegressionMetrics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        col("o_orderdate"))
    val pred = o.where(expr("o_orderdate < date'1997-01-01'"))
      .groupBy("priority")
      .agg(expr("sum(cents) div count(1)").as("pred_cents"))
    o.where(expr("o_orderdate >= date'1997-01-01'"))
      .join(broadcast(pred), "priority")
      .withColumn("err", col("cents") - col("pred_cents"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_eval"), min("pred_cents").as("pred_cents"),
        expr("sum(abs(err)) div count(1)").as("mae_cents"),
        sum(expr("cast(err as decimal(19,0)) * err")).as("sse"),
        sum("cents").as("sy"),
        sum(expr("cast(cents as decimal(19,0)) * cents")).as("syy"),
        expr("sum((abs(err) * 1000000) div cents) div count(1)")
          .as("mape_ppm"))
      .select(col("priority"), col("n_eval"), col("pred_cents"),
        col("mae_cents"),
        expr("cast(sse div n_eval as bigint)").as("mse_cents2"),
        expr("cast(1000000 - (1000000 * n_eval * sse)" +
          " div (cast(n_eval as decimal(38,0)) * syy" +
          " - cast(sy as decimal(38,0)) * sy) as bigint)").as("r2_ppm"),
        col("mape_ppm"))
      .orderBy("priority")
  }

  /** (score, np, nn) grouped score frame, shared by the gains table
    * and the stump: the domain-bounded (≤16,257 distinct scores)
    * reduction that makes every downstream step support-sized. */
  private def scoreGroups(s: SparkSession, dir: String): DataFrame =
    labeled(s, dir)
      .groupBy("score")
      .agg(sum(when(col("label") >= 5, 1L).otherwise(0L)).as("np"),
        sum(when(col("label") >= 5, 0L).otherwise(1L)).as("nn"))

  /** CUMULATIVE GAINS / LIFT table at score deciles — the campaign-
    * targeting readout the AUC/PR-curve/calibration eval family still
    * lacked: ranking the population by score DESCENDING, for each
    * decile d the cut is the highest score whose top segment reaches
    * d·10% of the population (the weighted-median min-when pattern on
    * the descending cumulative — exact population fractions, never an
    * ntile global sort), with captured-positive ppm, population-share
    * ppm, and lift = capture/share as the fixed ppm-div-ppm dag
    * (identical floor arithmetic on both engines).
    *
    * 100 TB: one map-side-partial hash agg is the only full-data
    * pass; the cumulative runs banded (api.Dist) on the ≤16k-score
    * frame and the decile probe is a 10× fan-out of that frame. */
  def mlLiftGains(s: SparkSession, dir: String): DataFrame =
    graft.api.Ml.liftGains(
        labeled(s, dir).select(col("score"), (col("label") >= 5).as("pos")),
        scoreCol = "score", posCol = "pos", scoreShift = 8192L)
      .orderBy("decile")

  /** MEAN/MEDIAN NULL-IMPUTER (Imputer semantics, exact-integer): a
    * deterministic mask ((l_orderkey·31 + l_linenumber) % 10 = 0 —
    * both operands positive, so Spark % and DuckDB % agree) nulls out
    * ~10% of the tax column; per return flag the imputer computes the
    * observed-mean fill (floor div of basis points) and the
    * observed-median fill (smallest value with 2·cum ≥ n_obs on the
    * DOMAIN-bounded ≤9-value tax grid — the weighted-median pattern),
    * and audits the post-mean-imputation column mean.
    *
    * 100 TB: one map-side-partial hash agg to the (flag, value) grid
    * (≤ |flags|·|domain| rows) carries BOTH fills and the audit —
    * the row-scale data is scanned exactly once. */
  def mlImputer(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        expr("cast(round(l_tax * 10000) as bigint)").as("v"),
        expr("case when (l_orderkey * 31 + l_linenumber) % 10 = 0" +
          " then 1L else 0L end").as("m"))
      .groupBy("flag", "v")
      .agg(count(lit(1)).as("n_all"), sum("m").as("n_miss"))
    val wc = Window.partitionBy("flag").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("flag")
    g.withColumn("obs", col("n_all") - col("n_miss"))
      .withColumn("cum_obs", sum("obs").over(wc))
      .withColumn("tot_obs", sum("obs").over(wt))
      .groupBy("flag")
      .agg(sum("n_all").as("n"), sum("n_miss").as("n_missing"),
        sum(expr("v * obs")).as("obs_sum"), sum("obs").as("n_obs"),
        min(when(expr("2 * cum_obs >= tot_obs"), col("v")))
          .as("fill_median_bp"))
      .select(col("flag"), col("n"), col("n_missing"),
        expr("obs_sum div n_obs").as("fill_mean_bp"),
        col("fill_median_bp"),
        expr("(obs_sum + n_missing * (obs_sum div n_obs)) div n")
          .as("mean_bp_after"))
      .orderBy("flag")
  }

  /** PAIRWISE PEARSON CORRELATION MATRIX over the per-order features
    * (line count, order cents, total quantity, total discount bp) —
    * q_agg_corr's exact-integer-moment discipline widened from one
    * pair to the full 6-pair matrix with ALL moments from ONE
    * aggregation pass (n, four Σx, ten Σx·y — second-order sums in
    * decimal and the n·Σxy − Σx·Σy numerators in decimal(38,0)/
    * HUGEINT, the documented ~1e12-order headroom edge); each pair's
    * corr is one fixed dag of IEEE-exact double ops rounded 6 dp.
    * The matrix unpivots to (var_a, var_b) rows from the single
    * 15-number support row — a second full-data pass per pair is
    * exactly what this helper exists to avoid.
    *
    * 100 TB: one per-order hash agg + one 15-column global agg; the
    * unpivot runs on a 1-row frame. */
  def mlCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("x1"),
        sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("x2"),
        sum(expr("cast(round(l_quantity) as bigint)")).as("x3"),
        sum(expr("cast(round(l_discount * 10000) as bigint)")).as("x4"))
    val vars = Seq("x1" -> "lines", "x2" -> "cents", "x3" -> "qty",
      "x4" -> "disc_bp")
    val m = per.agg(count(lit(1)).as("n"),
      (vars.map { case (c, _) => sum(col(c)).as(s"s_$c") } ++
        (for { (a, _) <- vars; (b, _) <- vars if a <= b } yield
          sum(expr(s"cast($a as decimal(19,0)) * $b")).as(s"p_${a}_$b")))
        : _*)
    def ctr(prod: String, a: String, b: String): String =
      s"cast(cast(n as decimal(38,0)) * $prod" +
        s" - cast(s_$a as decimal(38,0)) * s_$b as double)"
    val pairs = for {
      (a, an) <- vars; (b, bn) <- vars if a < b
    } yield m.select(lit(an).as("var_a"), lit(bn).as("var_b"), col("n"),
      expr(s"round(${ctr(s"p_${a}_$b", a, b)}" +
        s" / (sqrt(${ctr(s"p_${a}_$a", a, a)})" +
        s" * sqrt(${ctr(s"p_${b}_$b", b, b)})), 6)").as("corr"))
    pairs.reduce(_.unionAll(_)).orderBy("var_a", "var_b")
  }

  /** EXACTLY-TRAINED DECISION STUMP (depth-1 tree, DecisionTree
    * semantics made engine-exact): every distinct score is a
    * candidate threshold t for the split "score ≤ t"; each side's
    * Gini impurity is the pure rational 1 − (pos² + neg²)/n² in ppm
    * (products in decimal(38,0)/HUGEINT — pos²·1e6 wraps int64 past
    * ~3e6 rows; the n_left·gini weighting wraps past ~9e12 — lift it
    * to decimal with the data), the split cost is the count-weighted
    * mean in ppm, and the trained stump is the (cost asc, score asc)
    * argmin. An iterative tree library bins thresholds and
    * approximates; on a DOMAIN-bounded score this is the exact
    * optimum and carries a full SQL oracle.
    *
    * 100 TB: one map-side-partial hash agg to the ≤16k-score frame;
    * cumulatives run banded (api.Dist) and the argmin is a
    * TakeOrdered(1) over the support frame, never a global sort of
    * row-scale data. */
  def mlTreeStump(s: SparkSession, dir: String): DataFrame =
    graft.api.Ml.decisionStump(
      labeled(s, dir).select(col("score"), (col("label") >= 5).as("pos")),
      scoreCol = "score", posCol = "pos", scoreShift = 8192L)

  /** AVERAGE PRECISION (step-wise AP, the scalar area under the PR
    * curve — sklearn's average_precision semantics): over descending-
    * score thresholds, AP = Σ_t ΔR_t·P_t with ΔR_t = np_t/n_pos and
    * P_t the inclusive descending precision — all exact integer ppm
    * (Σ np_t · precision_ppm(t) div n_pos, the nested floor pinned
    * identically on both engines). The scalar twin of q_ml_pr_curve's
    * full curve, completing the threshold-free ranking-quality pair
    * with q_ml_auc.
    *
    * 100 TB: the q_ml_auc shape — one map-side-partial hash agg, a
    * banded cumulative on the ≤16k-score frame, a 1-row readout. */
  def mlAvgPrecision(s: SparkSession, dir: String): DataFrame = {
    val g = scoreGroups(s, dir)
      .withColumn("sh", expr("8192L - score")) // descending-as-ascending
    val tot = g.agg(sum("np").as("n_pos"), sum("nn").as("n_neg"))
    graft.api.Dist.bandedCumSum(g, Seq(), "sh", bandWidth = 128L,
        sumCols = Seq("np", "nn"), inclusive = true)
      .where(col("np") > 0) // thresholds where recall steps
      .select(col("np"),
        expr("(1000000 * cum_np) div (cum_np + cum_nn)").as("p_ppm"))
      .agg(sum(expr("np * p_ppm")).as("apnum"))
      .crossJoin(broadcast(tot))
      .select(col("n_pos"), col("n_neg"),
        expr("apnum div n_pos").as("ap_ppm"))
  }

  /** SMOOTHED TARGET ENCODER (the categorical-encode helper a
    * training pipeline reaches for past one-hot cardinality —
    * TargetEncoder semantics): per part brand over line revenue
    * cents, the m-estimate encoding enc = (Σy + m·prior) div (n + m)
    * with m = 100 and prior = the global mean (floor div, exact —
    * computed FIRST so every brand shrinks toward the same integer
    * prior). Emits per brand: n, raw mean, smoothed encoding — the
    * high-support brands sit near their raw mean, thin ones near the
    * prior, and the whole map is exact integer cents.
    *
    * 100 TB: one co-keyed lineitem⋈part join (the dimension
    * broadcasts) into a map-side-partial hash agg on the ≤25-brand
    * frame; the 1-row prior is a broadcast. */
  def mlTargetEncoder(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
    val prior = joined.agg(expr("sum(cents) div count(1)").as("prior"))
    joined.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("cents").as("sy"))
      .crossJoin(broadcast(prior))
      .select(col("p_brand"), col("n"),
        expr("sy div n").as("raw_mean_cents"),
        expr("(sy + 100 * prior) div (n + 100)").as("enc_cents"),
        col("prior").as("prior_cents"))
      .orderBy("p_brand")
  }

  /** Third clustering family: GAUSSIAN MIXTURE (soft EM clustering —
    * the probabilistic sibling of the KMeans/BisectingKMeans
    * wrappers), k = 5, seeded, on the shared embedding feature frame;
    * emits per-component hard-assignment sizes and the mixture weight
    * rounded 6 dp. NO oracle (iterative EM fit); Pipeline18Spec pins
    * determinism across two fits, full corpus coverage, and weights
    * summing to ~1.
    *
    * The fit runs on the FIRST 8 embedding dims, not all 64: a full
    * d×d covariance needs ≫ d points per component to stay
    * positive-definite (below that the estimate goes numerically
    * singular/asymmetric and breeze rejects the factorization), and a
    * GMM helper's job is density structure, not full-width features.
    * Project-then-mix is the standard practitioner shape and keeps the
    * per-iteration state O(k·8²) instead of O(k·64²).
    *
    * 100 TB: each EM iteration is one treeAggregate of per-component
    * moment sums (O(k·d²) state per task); only transform touches
    * every row afterwards. */
  def mlGmm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.GaussianMixture
    import org.apache.spark.ml.functions.array_to_vector
    val sp = s
    import sp.implicits._
    def feats8(d: DataFrame): DataFrame = d.select(col("vec_id"),
      array_to_vector(
        expr("slice(cast(embedding as array<double>), 1, 8)")).as("f8"))
    val feats = feats8(Tables.embeddings(s, dir)).coalesce(8).persist()
    val model = try new GaussianMixture().setK(5).setSeed(42L)
      .setMaxIter(10).setFeaturesCol("f8").setPredictionCol("cluster")
      .fit(feats)
    finally feats.unpersist(false)
    val wDf = model.weights.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toSeq.toDF("cluster", "w")
    model.transform(feats8(Tables.embeddings(s, dir)))
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
      .join(broadcast(wDf), "cluster")
      .select(col("cluster"), col("cluster_size"),
        round(col("w"), 6).as("weight"))
      .orderBy("cluster")
  }

  /** LDA TOPIC MODELING wrapper (the corpus-understanding helper:
    * "what is this 100 TB of text about"): whitespace tokens →
    * CountVectorizer (vocab capped 256, minDF 2) → seeded EM LDA,
    * k = 5, 5 iterations; emits each topic's top-3 terms as
    * (topic, term_rank, term, weight 6 dp). NO oracle (iterative
    * EM fit); Pipeline18Spec pins determinism across two fits, the
    * 5×3 shape, and per-topic weight monotonicity.
    *
    * 100 TB: tokenization + counting are one scan; EM iterations
    * aggregate per-term topic counts with O(vocab·k) state per task —
    * vocab is CAPPED so no state scales with the corpus. */
  def mlLdaTopics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.CountVectorizer
    import org.apache.spark.ml.clustering.LDA
    val sp = s
    import sp.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.api.Text.tokenArray("text").as("toks"))
    val cached = docs.coalesce(8).persist()
    val (model, vocab) = try {
      val cv = new CountVectorizer().setInputCol("toks")
        .setOutputCol("features").setVocabSize(256).setMinDF(2.0)
        .fit(cached)
      val lda = new LDA().setK(5).setSeed(42L).setMaxIter(5)
        .setOptimizer("em").setFeaturesCol("features")
        .fit(cv.transform(cached))
      (lda, cv.vocabulary)
    } finally cached.unpersist(false)
    val vocabDf = vocab.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("term_id", "term")
    model.describeTopics(3)
      .select(col("topic").cast("long").as("topic"),
        posexplode(arrays_zip(col("termIndices"), col("termWeights"))))
      .select(col("topic"), (col("pos") + 1).cast("long").as("term_rank"),
        col("col.termIndices").cast("long").as("term_id"),
        round(col("col.termWeights"), 6).as("weight"))
      .join(broadcast(vocabDf), "term_id")
      .select(col("topic"), col("term_rank"), col("term"), col("weight"))
      .orderBy("topic", "term_rank")
  }

  /** COHEN'S KAPPA + multiclass MATTHEWS correlation — the chance-
    * corrected agreement readout of the same confusion frame: with
    * exact class marginals (n_a·n_p cross-products in decimal(38,0)/
    * HUGEINT), observed/expected agreement in exact ppm, and
    * kappa = (n·Σtp − Σn_a·n_p) / (n² − Σn_a·n_p) /
    * MCC = (n·Σtp − Σn_a·n_p) / (√(n²−Σn_p²)·√(n²−Σn_a²)) each as ONE
    * IEEE-exact double dag rounded 6 dp (a ratio of EXACT integers —
    * doubles instead of integer div because kappa/MCC are SIGNED and
    * Spark div truncates where DuckDB // floors; the q_agg_corr
    * discipline).
    *
    * 100 TB: everything after the two confusion-frame hash aggs runs
    * on the ≤|labels|² support frame. */
  def mlKappaMcc(s: SparkSession, dir: String): DataFrame =
    graft.api.Ml.kappaMcc(predFrame(s, dir), "actual", "pred")

  /** EXACT K-FOLD CROSS-VALIDATION of the group-mean regressor
    * (CrossValidator semantics for a closed-form model): folds by
    * o_orderkey % 5 (engine-identical on positive keys), and every
    * fold's LEAVE-FOLD-OUT train mean comes from ONE pass via the
    * complement identity pred(p, f) = (Σ_p − Σ_pf) div (n_p − n_pf) —
    * the (priority, fold) sums frame is 25 rows, so 5-fold CV costs
    * two scans total, not 5 train+eval passes. Per fold: n, MAE
    * cents, MSE cents² (decimal(38,0)/HUGEINT sums) — both
    * non-negative, so floor division agrees across engines.
    *
    * 100 TB: one hash agg for the sums frame, one for the metrics;
    * the 25-row predictor map is broadcast. */
  def mlKfoldMetrics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        expr("o_orderkey % 5").as("fold"))
    val pf = o.groupBy("priority", "fold")
      .agg(count(lit(1)).as("n_pf"), sum("cents").as("s_pf"))
    val tot = pf.groupBy("priority")
      .agg(sum("n_pf").as("n_p"), sum("s_pf").as("s_p"))
    val pred = pf.join(broadcast(tot), "priority")
      .select(col("priority"), col("fold"),
        expr("(s_p - s_pf) div (n_p - n_pf)").as("pred_cents"))
    o.join(broadcast(pred), Seq("priority", "fold"))
      .withColumn("err", col("cents") - col("pred_cents"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_eval"),
        expr("sum(abs(err)) div count(1)").as("mae_cents"),
        expr("cast(sum(cast(err as decimal(19,0)) * err) div count(1)" +
          " as bigint)").as("mse_cents2"))
      .orderBy("fold")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_kappa_mcc" -> mlKappaMcc,
    "q_ml_kfold_metrics" -> mlKfoldMetrics,
    "q_ml_avg_precision" -> mlAvgPrecision,
    "q_ml_target_encoder" -> mlTargetEncoder,
    "q_ml_confusion_matrix" -> mlConfusionMatrix,
    "q_ml_regression_metrics" -> mlRegressionMetrics,
    "q_ml_lift_gains" -> mlLiftGains,
    "q_ml_imputer" -> mlImputer,
    "q_ml_corr_matrix" -> mlCorrMatrix,
    "q_ml_tree_stump" -> mlTreeStump,
    "q_ml_gmm" -> mlGmm,
    "q_ml_lda_topics" -> mlLdaTopics)

  /** The shared score CTE for the three score-frame oracles. */
  private val scoreCte =
    """l AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(list_sum(list_transform(embedding::DOUBLE[],
      |      x -> CAST(floor(x * 127.0) AS BIGINT))) AS BIGINT) AS score
      |  FROM embeddings)""".stripMargin

  private val groupCte =
    """g AS (
      |  SELECT score,
      |    CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS np,
      |    CAST(SUM(CASE WHEN label >= 5 THEN 0 ELSE 1 END) AS BIGINT)
      |      AS nn
      |  FROM l GROUP BY score)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_ml_avg_precision" ->
      s"""WITH $scoreCte,
        |$groupCte,
        |t AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |             CAST(SUM(nn) AS BIGINT) AS n_neg FROM g),
        |c AS (SELECT score, np,
        |        SUM(np) OVER (ORDER BY score DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_np,
        |        SUM(nn) OVER (ORDER BY score DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_nn
        |      FROM g),
        |steps AS (SELECT np,
        |    (1000000 * cum_np) // (cum_np + cum_nn) AS p_ppm
        |  FROM c WHERE np > 0)
        |SELECT t.n_pos, t.n_neg,
        |  CAST(SUM(np * p_ppm) // t.n_pos AS BIGINT) AS ap_ppm
        |FROM steps CROSS JOIN t GROUP BY t.n_pos, t.n_neg""".stripMargin,
    "q_ml_target_encoder" ->
      """WITH j AS (
        |  SELECT p_brand,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pr AS (SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS prior
        |       FROM j)
        |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS raw_mean_cents,
        |  CAST((SUM(cents) + 100 * prior) // (COUNT(*) + 100) AS BIGINT)
        |    AS enc_cents,
        |  prior AS prior_cents
        |FROM j CROSS JOIN pr GROUP BY p_brand, prior
        |ORDER BY p_brand""".stripMargin,
    "q_ml_kappa_mcc" ->
      s"""WITH $scoreCte,
        |lb AS (SELECT vec_id, label, (score + 8192) // 1024 AS bucket
        |       FROM l),
        |votes AS (SELECT bucket, label, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM lb WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        |bp AS (SELECT bucket, label AS bpred FROM (
        |         SELECT bucket, label, ROW_NUMBER() OVER (
        |           PARTITION BY bucket ORDER BY n DESC, label ASC) AS rn
        |         FROM votes) WHERE rn = 1),
        |gp AS (SELECT label AS gpred FROM (
        |         SELECT label, SUM(n) AS gn FROM votes GROUP BY label)
        |       ORDER BY gn DESC, label ASC LIMIT 1),
        |conf AS (
        |  SELECT e.label AS actual, COALESCE(bp.bpred, gp.gpred) AS pred,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lb e LEFT JOIN bp ON e.bucket = bp.bucket CROSS JOIN gp
        |  WHERE e.vec_id % 2 = 1 GROUP BY 1, 2),
        |act AS (SELECT actual, CAST(SUM(n) AS BIGINT) AS na
        |        FROM conf GROUP BY 1),
        |prd AS (SELECT pred AS actual, CAST(SUM(n) AS BIGINT) AS np
        |        FROM conf GROUP BY 1),
        |cls AS (SELECT COALESCE(a.na, 0) AS na, COALESCE(p.np, 0) AS np
        |        FROM act a FULL JOIN prd p USING (actual)),
        |stp AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS stp
        |        FROM conf WHERE actual = pred),
        |m AS (SELECT CAST(SUM(na) AS BIGINT) AS n,
        |        SUM(CAST(na AS HUGEINT) * np) AS snanp,
        |        SUM(CAST(na AS HUGEINT) * na) AS sna2,
        |        SUM(CAST(np AS HUGEINT) * np) AS snp2
        |      FROM cls)
        |SELECT n, CAST((1000000 * stp) // n AS BIGINT) AS po_ppm,
        |  CAST(snanp * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT)
        |    AS pe_ppm,
        |  ROUND(CAST(CAST(n AS HUGEINT) * stp - snanp AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * n - snanp AS DOUBLE), 6)
        |    AS kappa,
        |  ROUND(CAST(CAST(n AS HUGEINT) * stp - snanp AS DOUBLE)
        |    / (sqrt(CAST(CAST(n AS HUGEINT) * n - snp2 AS DOUBLE))
        |     * sqrt(CAST(CAST(n AS HUGEINT) * n - sna2 AS DOUBLE))), 6)
        |    AS mcc
        |FROM m CROSS JOIN stp""".stripMargin,
    "q_ml_kfold_metrics" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 5 AS fold
        |  FROM orders),
        |pf AS (SELECT priority, fold, CAST(COUNT(*) AS BIGINT) AS n_pf,
        |         CAST(SUM(cents) AS BIGINT) AS s_pf
        |       FROM o GROUP BY 1, 2),
        |tot AS (SELECT priority, CAST(SUM(n_pf) AS BIGINT) AS n_p,
        |          CAST(SUM(s_pf) AS BIGINT) AS s_p
        |        FROM pf GROUP BY 1),
        |pred AS (SELECT pf.priority, pf.fold,
        |           CAST((s_p - s_pf) // (n_p - n_pf) AS BIGINT)
        |             AS pred_cents
        |         FROM pf JOIN tot USING (priority)),
        |ev AS (SELECT o.fold, cents - pred_cents AS err
        |       FROM o JOIN pred
        |         ON o.priority = pred.priority AND o.fold = pred.fold)
        |SELECT CAST(fold AS BIGINT) AS fold,
        |  CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(ABS(err)) // COUNT(*) AS BIGINT) AS mae_cents,
        |  CAST(SUM(CAST(err AS HUGEINT) * err) // COUNT(*) AS BIGINT)
        |    AS mse_cents2
        |FROM ev GROUP BY fold ORDER BY fold""".stripMargin,
    "q_ml_confusion_matrix" ->
      s"""WITH $scoreCte,
        |lb AS (SELECT vec_id, label, (score + 8192) // 1024 AS bucket
        |       FROM l),
        |votes AS (SELECT bucket, label, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM lb WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        |bp AS (SELECT bucket, label AS bpred FROM (
        |         SELECT bucket, label, ROW_NUMBER() OVER (
        |           PARTITION BY bucket ORDER BY n DESC, label ASC) AS rn
        |         FROM votes) WHERE rn = 1),
        |gp AS (SELECT label AS gpred FROM (
        |         SELECT label, SUM(n) AS gn FROM votes GROUP BY label)
        |       ORDER BY gn DESC, label ASC LIMIT 1),
        |conf AS (
        |  SELECT e.label AS actual, COALESCE(bp.bpred, gp.gpred) AS pred,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lb e LEFT JOIN bp ON e.bucket = bp.bucket CROSS JOIN gp
        |  WHERE e.vec_id % 2 = 1 GROUP BY 1, 2),
        |act AS (SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
        |        FROM conf GROUP BY 1),
        |prd AS (SELECT pred, CAST(SUM(n) AS BIGINT) AS n_pred
        |        FROM conf GROUP BY 1),
        |tps AS (SELECT actual, n AS tp FROM conf WHERE actual = pred)
        |SELECT COALESCE(a.actual, p.pred) AS class,
        |  CAST(COALESCE(a.n_actual, 0) AS BIGINT) AS n_actual,
        |  CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
        |  CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
        |  CAST(CASE WHEN COALESCE(p.n_pred, 0) = 0 THEN 0
        |    ELSE (1000000 * COALESCE(t.tp, 0)) // p.n_pred END AS BIGINT)
        |    AS precision_ppm,
        |  CAST(CASE WHEN COALESCE(a.n_actual, 0) = 0 THEN 0
        |    ELSE (1000000 * COALESCE(t.tp, 0)) // a.n_actual END AS BIGINT)
        |    AS recall_ppm,
        |  CAST((2000000 * COALESCE(t.tp, 0))
        |    // (COALESCE(p.n_pred, 0) + COALESCE(a.n_actual, 0))
        |    AS BIGINT) AS f1_ppm
        |FROM act a FULL JOIN prd p ON p.pred = a.actual
        |LEFT JOIN tps t ON t.actual = COALESCE(a.actual, p.pred)
        |ORDER BY class""".stripMargin,
    "q_ml_regression_metrics" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderdate AS d
        |  FROM orders),
        |pred AS (SELECT priority,
        |    CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred_cents
        |  FROM o WHERE d < DATE '1997-01-01' GROUP BY 1),
        |ev AS (SELECT priority, cents, pred_cents,
        |         cents - pred_cents AS err
        |       FROM o JOIN pred USING (priority)
        |       WHERE d >= DATE '1997-01-01')
        |SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  MIN(pred_cents) AS pred_cents,
        |  CAST(SUM(ABS(err)) // COUNT(*) AS BIGINT) AS mae_cents,
        |  CAST(SUM(CAST(err AS HUGEINT) * err) // COUNT(*) AS BIGINT)
        |    AS mse_cents2,
        |  CAST(1000000 - (1000000 * COUNT(*)
        |      * SUM(CAST(err AS HUGEINT) * err))
        |    // (CAST(COUNT(*) AS HUGEINT)
        |        * SUM(CAST(cents AS HUGEINT) * cents)
        |      - CAST(SUM(cents) AS HUGEINT) * SUM(cents)) AS BIGINT)
        |    AS r2_ppm,
        |  CAST(SUM((ABS(err) * 1000000) // cents) // COUNT(*) AS BIGINT)
        |    AS mape_ppm
        |FROM ev GROUP BY priority ORDER BY priority""".stripMargin,
    "q_ml_lift_gains" ->
      s"""WITH $scoreCte,
        |$groupCte,
        |t AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |             CAST(SUM(np) + SUM(nn) AS BIGINT) AS n FROM g),
        |c AS (SELECT score,
        |        SUM(np + nn) OVER (ORDER BY score DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_n,
        |        SUM(np) OVER (ORDER BY score DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_np
        |      FROM g),
        |d AS (SELECT unnest(range(1, 11)) AS decile),
        |cuts AS (SELECT d.decile, MAX(c.score) AS score
        |         FROM c CROSS JOIN t CROSS JOIN d
        |         WHERE cum_n * 10 >= d.decile * t.n
        |         GROUP BY d.decile)
        |SELECT CAST(cuts.decile AS BIGINT) AS decile,
        |  c.score AS threshold_score,
        |  CAST(c.cum_n AS BIGINT) AS cum_n,
        |  CAST(c.cum_np AS BIGINT) AS cum_pos,
        |  CAST((1000000 * c.cum_np) // t.n_pos AS BIGINT) AS capture_ppm,
        |  CAST((1000000 * c.cum_n) // t.n AS BIGINT) AS share_ppm,
        |  CAST(((1000000 * c.cum_np) // t.n_pos) * 1000000
        |    // ((1000000 * c.cum_n) // t.n) AS BIGINT) AS lift_ppm
        |FROM cuts JOIN c ON c.score = cuts.score CROSS JOIN t
        |ORDER BY decile""".stripMargin,
    "q_ml_imputer" ->
      """WITH b AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(ROUND(l_tax * 10000) AS BIGINT) AS v,
        |    CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 = 0
        |      THEN 1 ELSE 0 END AS m
        |  FROM lineitem),
        |g AS (SELECT flag, v, CAST(COUNT(*) AS BIGINT) AS n_all,
        |        CAST(SUM(m) AS BIGINT) AS n_miss FROM b GROUP BY 1, 2),
        |c AS (SELECT flag, v, n_all, n_miss, n_all - n_miss AS obs,
        |        SUM(n_all - n_miss) OVER (PARTITION BY flag ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_obs,
        |        SUM(n_all - n_miss) OVER (PARTITION BY flag) AS tot_obs
        |      FROM g)
        |SELECT flag, CAST(SUM(n_all) AS BIGINT) AS n,
        |  CAST(SUM(n_miss) AS BIGINT) AS n_missing,
        |  CAST(SUM(v * obs) // SUM(obs) AS BIGINT) AS fill_mean_bp,
        |  CAST(MIN(CASE WHEN 2 * cum_obs >= tot_obs THEN v END)
        |    AS BIGINT) AS fill_median_bp,
        |  CAST((SUM(v * obs)
        |      + SUM(n_miss) * (SUM(v * obs) // SUM(obs)))
        |    // SUM(n_all) AS BIGINT) AS mean_bp_after
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin,
    "q_ml_corr_matrix" -> {
      val vars = Seq("x1" -> "lines", "x2" -> "cents", "x3" -> "qty",
        "x4" -> "disc_bp")
      def ctr(prod: String, a: String, b: String): String =
        s"CAST(CAST(n AS HUGEINT) * $prod" +
          s" - CAST(s_$a AS HUGEINT) * s_$b AS DOUBLE)"
      val pairSelects = for {
        (a, an) <- vars; (b, bn) <- vars if a < b
      } yield s"SELECT '$an' AS var_a, '$bn' AS var_b, n,\n" +
        s"  ROUND(${ctr(s"p_${a}_$b", a, b)}\n" +
        s"    / (sqrt(${ctr(s"p_${a}_$a", a, a)})\n" +
        s"     * sqrt(${ctr(s"p_${b}_$b", b, b)})), 6) AS corr FROM m"
      """WITH per AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x1,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS x2,
        |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS x3,
        |    CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT))
        |      AS BIGINT) AS x4
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |""".stripMargin +
        vars.map { case (c, _) =>
          s"    CAST(SUM($c) AS BIGINT) AS s_$c" }.mkString(",\n") + ",\n" +
        (for { (a, _) <- vars; (b, _) <- vars if a <= b } yield
          s"    SUM(CAST($a AS HUGEINT) * $b) AS p_${a}_$b")
          .mkString(",\n") +
        "\n  FROM per)\n" +
        pairSelects.mkString("\nUNION ALL\n") +
        "\nORDER BY var_a, var_b"
    },
    "q_ml_tree_stump" ->
      s"""WITH $scoreCte,
        |$groupCte,
        |t AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |             CAST(SUM(np) + SUM(nn) AS BIGINT) AS n FROM g),
        |c AS (SELECT score,
        |        SUM(np) OVER (ORDER BY score ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS pl,
        |        SUM(nn) OVER (ORDER BY score ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS ql
        |      FROM g),
        |sides AS (SELECT score, pl, ql, t.n_pos - pl AS pr,
        |    t.n - t.n_pos - ql AS qr, t.n AS n
        |  FROM c CROSS JOIN t WHERE pl + ql < t.n),
        |e AS (SELECT score AS split_score,
        |  CAST(pl + ql AS BIGINT) AS n_left, CAST(pl AS BIGINT)
        |    AS pos_left,
        |  CAST(pr + qr AS BIGINT) AS n_right, CAST(pr AS BIGINT)
        |    AS pos_right,
        |  CAST(1000000 - (CAST(pl AS HUGEINT) * pl
        |      + CAST(ql AS HUGEINT) * ql) * 1000000
        |    // (CAST(pl + ql AS HUGEINT) * (pl + ql)) AS BIGINT)
        |    AS gini_left_ppm,
        |  CAST(1000000 - (CAST(pr AS HUGEINT) * pr
        |      + CAST(qr AS HUGEINT) * qr) * 1000000
        |    // (CAST(pr + qr AS HUGEINT) * (pr + qr)) AS BIGINT)
        |    AS gini_right_ppm,
        |  n FROM sides)
        |SELECT split_score, n_left, pos_left, n_right, pos_right,
        |  gini_left_ppm, gini_right_ppm,
        |  CAST((n_left * gini_left_ppm + n_right * gini_right_ppm) // n
        |    AS BIGINT) AS weighted_gini_ppm
        |FROM e ORDER BY weighted_gini_ppm ASC, split_score ASC
        |LIMIT 1""".stripMargin)
}
