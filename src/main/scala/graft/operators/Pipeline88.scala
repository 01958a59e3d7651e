package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.83 round-16 batch 56 — fuzzy-matching, multilabel-evaluation
  * and audio-shaped multimodal closers: Jaro–Winkler near-dup pairs
  * on the native expression (semantics probe-pinned to the oracle's
  * built-in), the MultilabelClassificationEvaluator metric set from
  * exact integers, and per-frame PCM RMS through the partition-
  * kernel decoder-stub discipline.
  */
object Pipeline88 extends graft.QueryModule {

  /** JARO–WINKLER NEAR-DUP PAIRS — name-matching dedup (the fuzzy
    * sibling of q_dedup_levenshtein): part names blocked by
    * (brand, size), pairs scored with the native graft_jaro_winkler
    * expression (StringSimExprs — Spark has no Jaro family; the
    * oracle's jaro_winkler_similarity is built in, and the
    * expression is probe-pinned to it including the >0.7 bonus
    * gate), threshold 0.9, top-100 by (score desc, keys).
    *
    * 100 TB: the pair space is per-(brand,size) block — the blocked-
    * dedup shape; the scalar runs on the bounded pair frame only. */
  def dedupJaro(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_brand"), col("p_size"), col("p_partkey"),
        col("p_name"))
    val a = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("p1"), col("p_name").as("n1"))
    val b = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("p2"), col("p_name").as("n2"))
    a.join(b, Seq("p_brand", "p_size")).where(col("p1") < col("p2"))
      .withColumn("jw", round(expr("graft_jaro_winkler(n1, n2)"), 6))
      .where(col("jw") >= 0.9)
      .select(col("p_brand"), col("p1"), col("p2"), col("jw"))
      .orderBy(col("jw").desc, col("p1").asc, col("p2").asc)
      .limit(100)
  }

  /** MULTILABEL METRICS — MLlib MultilabelClassificationEvaluator's
    * metric set graded exactly: truth = the event types a user did
    * in days 1–15, prediction = days 16–30 (the "keeps doing X"
    * forecast frame). Hamming loss and subset accuracy in exact ppm
    * integers; micro precision/recall/F1 from the summed tp/fp/fn;
    * macro F1 averaged over the label domain with a zero-division
    * guard per label. Label-set algebra is a per-(user,label)
    * full-outer join of the two half aggs — sets never materialize
    * as arrays.
    *
    * 100 TB: ONE map-side-partial hash agg to the (user, label) cell
    * grain is the only full-data pass (r17: the two half-distincts +
    * full-outer join collapsed into it — a (user, label) pair is in
    * the old full-outer result iff the user did the label in either
    * half, i.e. iff the pair has any event, and t/p are exactly the
    * per-half any-event indicators); the n_users/n_labels domain
    * counts read the support-sized cell frame, not the event scan.
    * The micro rollup is the label rollup summed (Σ_label tp ≡ tp). */
  def mlMultilabelMetrics(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("day(ts)").as("dom"))
    val cells = ev.groupBy("user_id", "event_type")
      .agg(max(when(col("dom") <= 15, 1L).otherwise(0L)).as("t"),
        max(when(col("dom") > 15, 1L).otherwise(0L)).as("p"))
      .localCheckpoint(true) // support-sized; 2 agg consumers + 2 counts
    val nUsers = cells.select("user_id").distinct().count()
    val nLabels = cells.select("event_type").distinct().count()
    val perLabel = cells.groupBy("event_type")
      .agg(sum(expr("t * p")).as("tp"),
        sum(expr("p * (1 - t)")).as("fp"),
        sum(expr("t * (1 - p)")).as("fn"))
      .localCheckpoint() // |labels| rows; macro fold + micro sum
    val macroF = perLabel
      .select(expr("case when 2 * tp + fp + fn = 0 then 0D else " +
        "2D * tp / (2 * tp + fp + fn) end").as("f1"),
        col("event_type"))
      .agg(expr("aggregate(array_sort(collect_list(struct(event_type, f1)))," +
        " cast(0 as double), (a, x) -> a + x.f1)").as("sf1"))
    val perUser = cells.groupBy("user_id")
      .agg(sum(expr("abs(t - p)")).as("sym_diff"),
        max(expr("abs(t - p)")).as("any_diff"))
    val userAgg = perUser.agg(
      sum("sym_diff").as("tot_diff"),
      sum(expr("1 - any_diff")).as("n_exact"))
    val micro = perLabel.agg(sum("tp").as("tp"),
      sum("fp").as("fp"), sum("fn").as("fn"))
    micro.crossJoin(userAgg).crossJoin(macroF)
      .select(lit(nUsers).as("n_users"), lit(nLabels).as("n_labels"),
        expr(s"(1000000 * tot_diff) div (${nUsers}L * ${nLabels}L)")
          .as("hamming_ppm"),
        expr(s"(1000000 * n_exact) div ${nUsers}L").as("subset_acc_ppm"),
        round(expr("tp / cast(tp + fp as double)"), 6).as("micro_precision"),
        round(expr("tp / cast(tp + fn as double)"), 6).as("micro_recall"),
        round(expr("2D * tp / (2 * tp + fp + fn)"), 6).as("micro_f1"),
        round(expr(s"sf1 / ${nLabels}L"), 6).as("macro_f1"))
  }

  /** PCM FRAME RMS — the audio-feature rung of the multimodal
    * family: the payload (ASCII text cast binary — the decoder-stub
    * convention) read as 8-bit PCM centered at 128, framed at 256
    * bytes (trailing partial frame kept at its own length), per-
    * frame RMS re-quantized to exact micro integers inside the
    * PARTITION KERNEL (one pass over the bytes where they live —
    * frame sumsq is exact int, the per-frame sqrt a fixed dag), then
    * per-doc rollup: frame count, mean and max RMS micro.
    *
    * 100 TB: nothing per-byte or per-frame ever leaves the kernel —
    * one row per doc ships to the ≤‖docs‖ rollup. */
  def multimodalPcmRms(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long"),
        col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        var f = 0
        var nFrames = 0L
        var sumRms = 0L
        var maxRms = 0L
        while (f < bytes.length) {
          val end = math.min(f + 256, bytes.length)
          var sq = 0L
          var i = f
          while (i < end) {
            val d = (bytes(i) & 0xff) - 128L
            sq += d * d
            i += 1
          }
          val rms = math.round(
            math.sqrt(sq.toDouble / (end - f)) * 1000000d)
          nFrames += 1
          sumRms += rms
          if (rms > maxRms) maxRms = rms
          f = end
        }
        (id, bytes.length.toLong, nFrames,
          if (nFrames == 0) 0L else sumRms / nFrames, maxRms)
      }
      .toDF("doc_id", "n_bytes", "n_frames", "avg_rms_micro",
        "max_rms_micro")
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_jaro" -> dedupJaro,
    "q_ml_multilabel_metrics" -> mlMultilabelMetrics,
    "q_multimodal_pcm_rms" -> multimodalPcmRms)

  def oracleSql: Map[String, String] = Map(
    "q_dedup_jaro" ->
      """SELECT a.p_brand, CAST(a.p_partkey AS BIGINT) AS p1,
        |  CAST(b.p_partkey AS BIGINT) AS p2,
        |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
        |  >= 0.9
        |ORDER BY jw DESC, p1 ASC, p2 ASC LIMIT 100""".stripMargin,
    "q_ml_multilabel_metrics" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    day(CAST(ts AS DATE)) AS dom FROM events),
        |truth AS (SELECT DISTINCT user_id, event_type FROM ev
        |  WHERE dom <= 15),
        |pred AS (SELECT DISTINCT user_id, event_type FROM ev
        |  WHERE dom > 15),
        |cells AS MATERIALIZED (SELECT
        |    COALESCE(t.user_id, p.user_id) AS user_id,
        |    COALESCE(t.event_type, p.event_type) AS event_type,
        |    CASE WHEN t.user_id IS NULL THEN 0 ELSE 1 END AS t,
        |    CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS p
        |  FROM truth t FULL OUTER JOIN pred p
        |    ON p.user_id = t.user_id AND p.event_type = t.event_type),
        |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_labels
        |  FROM ev),
        |pl AS (SELECT event_type,
        |    CAST(SUM(t * p) AS BIGINT) AS tp,
        |    CAST(SUM(p * (1 - t)) AS BIGINT) AS fp,
        |    CAST(SUM(t * (1 - p)) AS BIGINT) AS fn
        |  FROM cells GROUP BY event_type),
        |mac AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
        |        ELSE 2.0 * tp / (2 * tp + fp + fn) END
        |        ORDER BY event_type)), (a, x) -> a + x) AS sf1
        |  FROM pl),
        |pu AS (SELECT user_id, CAST(SUM(abs(t - p)) AS BIGINT)
        |      AS sym_diff,
        |    CAST(MAX(abs(t - p)) AS BIGINT) AS any_diff
        |  FROM cells GROUP BY user_id),
        |ua AS (SELECT CAST(SUM(sym_diff) AS BIGINT) AS tot_diff,
        |    CAST(SUM(1 - any_diff) AS BIGINT) AS n_exact FROM pu),
        |mic AS (SELECT CAST(SUM(t * p) AS BIGINT) AS tp,
        |    CAST(SUM(p * (1 - t)) AS BIGINT) AS fp,
        |    CAST(SUM(t * (1 - p)) AS BIGINT) AS fn FROM cells)
        |SELECT nu.n_users, nu.n_labels,
        |  (1000000 * ua.tot_diff) // (nu.n_users * nu.n_labels)
        |    AS hamming_ppm,
        |  (1000000 * ua.n_exact) // nu.n_users AS subset_acc_ppm,
        |  ROUND(mic.tp / CAST(mic.tp + mic.fp AS DOUBLE), 6)
        |    AS micro_precision,
        |  ROUND(mic.tp / CAST(mic.tp + mic.fn AS DOUBLE), 6)
        |    AS micro_recall,
        |  ROUND(2.0 * mic.tp / (2 * mic.tp + mic.fp + mic.fn), 6)
        |    AS micro_f1,
        |  ROUND(mac.sf1 / nu.n_labels, 6) AS macro_f1
        |FROM nu, ua, mic, mac""".stripMargin,
    "q_multimodal_pcm_rms" ->
      """WITH frames AS (SELECT doc_id, text,
        |    unnest(range(0, (strlen(text) + 255) // 256)) AS f
        |  FROM documents),
        |fr AS (SELECT doc_id,
        |    substring(text, CAST(f * 256 + 1 AS INTEGER), 256) AS fb
        |  FROM frames),
        |fs AS (SELECT doc_id, strlen(fb) AS flen,
        |    CAST(ROUND(sqrt(CAST(list_reduce(list_prepend(
        |        CAST(0 AS BIGINT),
        |        list_transform(range(1, strlen(fb) + 1),
        |          i -> (CAST(ascii(substring(fb, i, 1)) AS BIGINT) - 128)
        |            * (CAST(ascii(substring(fb, i, 1)) AS BIGINT) - 128))),
        |        (a, x) -> a + x) AS DOUBLE) / strlen(fb)) * 1000000)
        |      AS BIGINT) AS rms
        |  FROM fr)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(SUM(flen) AS BIGINT) AS n_bytes,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(rms) AS BIGINT) // COUNT(*) AS avg_rms_micro,
        |  CAST(MAX(rms) AS BIGINT) AS max_rms_micro
        |FROM fs GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
