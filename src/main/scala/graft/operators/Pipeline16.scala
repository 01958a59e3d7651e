package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.29 round-9 batch 6 — the two remaining MLlib classifier-family
  * wrappers: multinomial NaiveBayes as a text language classifier
  * (hashing-TF features, closed-form counts) and LinearSVC as the
  * max-margin binary baseline on the embedding corpus. Both follow the
  * q_ml_rf_eval harness (deterministic vec/doc-id mod split, held-out
  * per-class confusion with exact ppm) and are spec-bounded —
  * seeded/iterative MLlib fits have no DuckDB twin.
  */
object Pipeline16 extends graft.QueryModule {

  /** Multinomial NAIVE BAYES language-ID: hashing-TF token counts
    * (2^10 buckets) → closed-form class-conditional log-counts →
    * held-out per-language confusion. The label mapping is the
    * alphabetical lang list (collected once — bounded by the language
    * DOMAIN, the IVF-centroid literal pattern). NB's "fit" is ONE
    * aggregation of per-class feature sums — the cheapest classifier
    * at any scale and the classic text baseline the heuristic
    * q_text_langid key is usually compared against.
    *
    * 100 TB: fit state = |classes| × numFeatures counts (map-side
    * partial); transform is embarrassingly parallel. */
  def mlNaiveBayes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, Tokenizer}
    import org.apache.spark.ml.classification.NaiveBayes
    val langs = Tables.documents(s, dir).select("lang").distinct()
      .orderBy("lang").collect().map(_.getString(0)) // ≤5 by domain
    val langIdx = langs.zipWithIndex.map { case (l, i) => (l, i.toDouble) }
    val idxExpr = langIdx.foldLeft(lit(-1.0)) { case (acc, (l, i)) =>
      when(col("lang") === l, lit(i)).otherwise(acc)
    }
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), idxExpr.as("y"))
    val tok = new Tokenizer().setInputCol("text").setOutputCol("toks")
    val tf = new HashingTF().setInputCol("toks").setOutputCol("feat")
      .setNumFeatures(1024)
    val featurize = (d: DataFrame) => tf.transform(tok.transform(d))
    val train = featurize(graft.api.Ml.exceptFold(docs, "doc_id", 5, 0))
    val model = new NaiveBayes().setModelType("multinomial")
      .setSmoothing(1.0).setLabelCol("y").setFeaturesCol("feat")
      .fit(train)
    val backExpr = langIdx.foldLeft(lit("?")) { case (acc, (l, i)) =>
      when(col("prediction") === i, lit(l)).otherwise(acc)
    }
    val scored = model
      .transform(featurize(graft.api.Ml.fold(docs, "doc_id", 5, 0)))
      .select(col("lang").as("label_lang"), backExpr.as("pred_lang"))
    graft.api.Ml.confusionSummary(scored, "label_lang", "pred_lang")
      .withColumnRenamed("label", "lang").orderBy("lang")
  }

  /** LINEAR SVC (hinge-loss max-margin) on the embedding corpus —
    * the binary-classifier baseline next to LR/RF/GBT: one-vs-rest on
    * the shared seeded KMeans target's cluster 0 (the LEARNABLE
    * target discipline every evaluator key uses — a spatial cluster
    * is near-linearly-separable, while the fixture's raw labels carry
    * no geometric signal), deterministic mod split, held-out
    * confusion with exact ppm. Spec-bounded (iterative OWLQN fit).
    *
    * 100 TB: each iteration is one treeAggregate of gradient partials
    * (state = coefficient vector, independent of rows). */
  def mlSvcEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LinearSVC
    val km = VectorOps.kmeansTarget(s, dir)
    val feats = km.transform(VectorOps.sharedRawFeats(s, dir))
      .withColumn("t", (col("target") === 0).cast("double"))
    val train = graft.api.Ml.exceptFold(feats, "vec_id", 5, 0).persist()
    val svc = try {
      new LinearSVC().setMaxIter(20).setRegParam(0.01)
        .setLabelCol("t").setFeaturesCol("raw").fit(train)
    } finally train.unpersist(false)
    val scored = svc.transform(graft.api.Ml.fold(feats, "vec_id", 5, 0))
      .select(col("t").cast("long").as("label"),
        col("prediction").cast("long").as("pred"))
    graft.api.Ml.confusionSummary(scored, "label", "pred").orderBy("label")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_naive_bayes" -> mlNaiveBayes,
    "q_ml_svc_eval" -> mlSvcEval)

  def oracleSql: Map[String, String] = Map()
}
