package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.api.Dedup

/** §2.14 round-3 continuation: dedup clustering (connected components),
  * bloom-prefiltered join, mergeable-sketch re-aggregation, and
  * stream-stream attribution join (batch twin; the stream-stream form
  * with watermarks is exercised in StreamingSpec).
  */
object Pipeline3 extends graft.QueryModule {

  /** Near-dup CLUSTERS, not just pairs: MinHash candidate pairs
    * (>= 8/16 signature slots agree) collapsed into connected
    * components; each member doc labeled with its cluster id (= min
    * doc_id in the component, the deterministic survivor) and the
    * cluster size. This is the step a real dedup pipeline needs after
    * pair generation — pairs (a,b), (b,c) must yield ONE kept doc, not
    * two independent decisions.
    *
    * 100 TB: pair generation is the LSH band equi-join (no all-pairs);
    * the component collapse is Pregel-style min-label propagation
    * (graft.api.Dedup.connectedComponents — per-round hash join + hash
    * agg partitioned by node, rounds = component diameter, tiny for
    * near-dup cliques). No global sort, no driver-side graph. */
  def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    // candidate pairs come from the STORED full-corpus frame (r8 —
    // TextOps.fullPairs, the same one-time ingest product the
    // verify front and PageRank read; identical arithmetic values, so
    // the oracle is unchanged). Before, this query re-ran the band
    // self-join over the stored signatures on every run.
    Dedup.connectedComponents(TextOps.nearDupPairs(s, dir), "d1", "d2")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy("cluster_id", "doc_id")
  }

  /** Bloom-prefiltered join: build a bloom filter over the dim-side
    * keys (one aggregation action, like a broadcast build), drop
    * non-matching fact rows BEFORE the join shuffle, then run the exact
    * join — false positives are eliminated by the join itself, so the
    * result is exact. This is runtime row-level filtering made
    * explicit: at 100 TB the win is shuffling only the ~1/5 of orders
    * whose customer survives the segment filter instead of all of
    * them. (The UDF wrapper is justified: BloomFilter.mightContain has
    * no Column-function form; it sits before the shuffle, not in an
    * aggregation hot path.) */
  def joinBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .where(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    graft.api.Rel.bloomPrefilteredJoin(
        Tables.orders(s, dir), "o_custkey", cust, "c_custkey")
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(Det.dec2("o_totalprice")).cast("double").as("sum_price"))
      .orderBy("c_custkey")
  }

  /** Mergeable-sketch re-aggregation: per-(region, nation) HLL sketches
    * of customer keys, then a region rollup by sketch UNION — the
    * 100 TB pattern where fine-grained sketches are stored once and
    * every coarser rollup is computed by merging sketches instead of
    * re-scanning the fact table. NO oracle (approximate);
    * Pipeline3Spec bounds the estimate against the exact distinct
    * count (HLL lgK=12 is ±~2% at these cardinalities). */
  def aggSketchHllMerge(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
    graft.api.Sketch.hllRollup(joined, "c_custkey",
        fine = Seq("r_name", "n_name"), coarse = Seq("r_name"))
      .select(col("r_name"), col("estimate").as("est_customers"),
        col("n_groups").as("n_nations"))
      .orderBy("r_name")
  }

  /** Click->purchase attribution: per user, purchases landing within
    * [click_ts, click_ts + 1h) of a click by the same user. Batch twin
    * of a stream-stream time-interval join (watermarked MemoryStream
    * form asserted equal in StreamingSpec). The join is an equi-join on
    * user_id with a range residual — a partitioned hash/sort-merge
    * join, never a cross product. */
  def streamJoinAttribution(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        Det.dec2("value").as("p_value"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attributed"),
        sum(col("p_value")).cast("double").as("attributed_value"))
      .orderBy("user_id")
  }

  /** StringIndexer + OneHotEncoder semantics, engine-neutral: index =
    * rank by (frequency DESC, value ASC) — exactly MLlib's
    * frequencyDesc order with its alphabetical tie-break — then one
    * indicator column per category. The index table is an aggregation
    * of the 5-value segment domain (bounded: the global window sorts 5
    * rows, not the fact table) broadcast back onto customers. At 100 TB
    * the domain table stays tiny while the fact side never shuffles. */
  def mlFeatureOnehot(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val idx = graft.api.Ml.stringIndex(cust, "c_mktsegment")
    val oh = (0 until 5).map(i =>
      (col("sidx") === i).cast("long").as(s"oh_$i"))
    cust.join(broadcast(idx), "c_mktsegment")
      .select(Seq(col("c_custkey"), col("c_mktsegment"), col("sidx")) ++ oh: _*)
      .orderBy("c_custkey")
  }

  /** Deterministic stratified downsample: at most 50 docs per lang,
    * keeping the lowest doc_ids — the engine-neutral version of
    * sampleBy (seeded Bernoulli is partition-order sensitive). The
    * rn <= k filter compiles to WindowGroupLimit: each partition keeps
    * its local top-k before the shuffle, so the window never sorts a
    * whole stratum. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.api.Sample.stratifiedCap(
        Tables.documents(s, dir), "lang", "doc_id", 50)
      .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rn"))
      .orderBy("lang", "doc_id")

  /** Reproducible ~10% sample: multiplicative hash of the KEY decides
    * membership — re-running, re-partitioning, or re-ordering the input
    * never changes the sample (unlike rand(seed), which is
    * partition-order sensitive), and train/eval pipelines can re-derive
    * the same split from the key alone. Pure projection + filter: no
    * shuffle, pushdown-friendly. */
  def sampleHash(s: SparkSession, dir: String): DataFrame =
    graft.api.Sample.byKeyHash(Tables.documents(s, dir), "doc_id", 10)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  /** Sequence packing: documents into 256-token bins per lang (linear
    * packing with overflow — graft.api.Text.packBins), then per-bin
    * stats. The training-batch construction step of a pre-training
    * pipeline, as a pure windowed plan. */
  def textPack(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(graft.api.Text.tokenArray("text")).cast("long").as("n_tokens"))
    graft.api.Text.packBins(toks, "doc_id", "lang", "n_tokens", 256)
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang", "bin")
  }

  /** Theta-sketch set intersection (native TypedImperativeAggregate,
    * functions.ThetaSketchAgg): distinct users who BOTH clicked AND
    * purchased per day, from per-day sketches — no fact-table
    * self-join. Exact distinct counts per side ride along (one pass).
    * Below ~4k distinct users/day the sketch is in exact mode, so
    * est_both is exactly the true intersection at test SFs — SketchSpec
    * pins est == exact-join count. NO oracle (sketch binary is
    * engine-specific). */
  def aggThetaIntersect(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("day")
      .agg(
        expr("graft_theta_agg(CASE WHEN event_type = 'click' THEN user_id END)")
          .as("sk_c"),
        expr("graft_theta_agg(CASE WHEN event_type = 'purchase' THEN user_id END)")
          .as("sk_p"),
        countDistinct(when(col("event_type") === "click", col("user_id")))
          .as("n_click"),
        countDistinct(when(col("event_type") === "purchase", col("user_id")))
          .as("n_purchase"))
      .select(col("day"),
        round(expr("graft_theta_intersect_est(sk_c, sk_p)"))
          .cast("long").as("est_both"),
        round(expr("graft_theta_diff_est(sk_c, sk_p)"))
          .cast("long").as("est_click_only"),
        col("n_click"), col("n_purchase"))
      .orderBy("day")
  }

  /** Column profiling ("analyze table" before training) over orders —
    * fixture binding of graft.api.Profile.columns with approx=false
    * (exact countDistinct, oracle-verifiable; decimal column through
    * DECIMAL(12,2) so both engines render identically). The 100 TB
    * swap is now a PARAMETER, not a rewrite: approx=true profiles via
    * approx_count_distinct with no Expand — ApiSpec bounds it within
    * rsd of exact. */
  def profileColumns(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.columns(Tables.orders(s, dir), Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_orderdate" -> col("o_orderdate"),
        "o_totalprice" -> Det.dec2("o_totalprice"),
        "o_orderpriority" -> col("o_orderpriority")),
      approx = false)
      .orderBy("col_name")

  /** Multimodal frame sampling: the payload treated as fixed-size
    * 32-byte frames, every 4th frame sampled and featurized (ascii
    * byte-sum — the decoder stub; a real video pipeline decodes the
    * frame bytes at exactly this point), then per-doc stats. One
    * generate per doc, feature computed where the frame lives — the
    * same plumbing shape (explode → per-frame map → agg) a real
    * frame-sampler uses at 100 TB. */
  def multimodalFrameSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        (ceil(length(col("text")) / lit(32.0))).cast("long").as("n_frames"))
      .select(col("doc_id"), col("text"), col("n_frames"),
        explode(expr("sequence(0, cast(n_frames - 1 AS INT), 4)")).as("frame_no"))
      .withColumn("frame", expr("substring(text, frame_no * 32 + 1, 32)"))
      .withColumn("frame_feat", expr(
        "aggregate(sequence(1, length(frame)), 0L, " +
          "(a, i) -> a + ascii(substring(frame, i, 1)))"))
      .groupBy("doc_id")
      .agg(max(col("n_frames")).as("n_frames"),
        count(lit(1)).as("n_sampled"),
        sum(col("frame_feat")).as("feat_sum"))
      .orderBy("doc_id")

  /** Mergeable-QUANTILE rollup (graft.api.Sketch.kllRollup): per-day
    * KLL sketches of events.value, merged per event_type, p50/p90/p99
    * estimates — percentile dashboards from stored sketches with no
    * fact re-scan and no global sort anywhere (vs percentile_approx,
    * which answers one grouping per scan). NO oracle (KLL compaction
    * is randomized, so the sketch is engine- AND run-specific beyond
    * capacity); Pipeline3Spec bounds every estimate's realized rank
    * within KLL's error band of the requested rank. */
  def aggKllQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.api.Sketch.kllRollup(
        Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
        "value", fine = Seq("event_type", "day"), coarse = Seq("event_type"),
        ranks = Seq(0.5, 0.9, 0.99))
      .select(col("event_type"), col("p50"), col("p90"), col("p99"),
        col("n_groups").as("n_days"))
      .orderBy("event_type")

  /** Mergeable TOP-K rollup (graft.api.Sketch.freqTopkRollup): top-10
    * tokens per language from frequent-items sketches — one sketch per
    * (lang, source) fine group, merged per lang. The heavy-hitters
    * answer over 100 TB of text where the exact (lang, token) count
    * table is itself huge: per-group state is a fixed-size binary
    * (Misra-Gries family via DataSketches), not an unbounded count
    * map. Runs in the EXACT regime here (maxMapSize 128 holds the
    * fixture's 31-word vocabulary without purges), so the DuckDB
    * oracle checks true equality with the exact counts; FreqSpec
    * bounds the capacity-constrained regime separately. */
  def aggFreqTopk(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        explode(graft.api.Text.tokenArray("text")).as("token"))
    graft.api.Sketch.freqTopkRollup(toks, "token",
        fine = Seq("lang", "source"), coarse = Seq("lang"), k = 10)
      .withColumnRenamed("item", "token")
      .orderBy("lang", "rank")
  }

  /** Data-mixture sampling (graft.api.Sample.mixtureCap): downsample
    * the corpus to a target language mixture — en:4 de:2 es:2 fr:1 zh:1
    * parts of a 300-doc budget, per-lang quota = min(n_lang,
    * 300*part div 10), rows chosen by deterministic hash order. The
    * training-mix construction step of an LLM data pipeline: the SAME
    * rows are picked on any engine, partitioning, or re-run. */
  def sampleMixture(s: SparkSession, dir: String): DataFrame =
    graft.api.Sample.mixtureCap(Tables.documents(s, dir), "lang", "doc_id",
        parts = Seq("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L,
          "zh" -> 1L),
        total = 300L)
      .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rn"))
      .orderBy("lang", "doc_id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sample_mixture" -> sampleMixture,
    "q_agg_kll_quantiles" -> aggKllQuantiles,
    "q_agg_freq_topk" -> aggFreqTopk,
    "q_multimodal_framesample" -> multimodalFrameSample,
    "q_profile_columns" -> profileColumns,
    "q_agg_theta_intersect" -> aggThetaIntersect,
    "q_text_pack" -> textPack,
    "q_ml_feature_onehot" -> mlFeatureOnehot,
    "q_sample_stratified" -> sampleStratified,
    "q_sample_hash" -> sampleHash,
    "q_dedup_cluster" -> dedupCluster,
    "q_join_bloom_prefilter" -> joinBloomPrefilter,
    "q_agg_sketch_hll_merge" -> aggSketchHllMerge,
    "q_stream_join" -> ((s, d) => streamJoinAttribution(Tables.events(s, d))))

  def oracleSql: Map[String, String] = Map(
    "q_agg_freq_topk" ->
      """SELECT lang, CAST(rn AS BIGINT) AS rank, token, cnt AS est
        |FROM (
        |  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY COUNT(*) DESC, token ASC) AS rn
        |  FROM (
        |    SELECT lang, tokens[s] AS token
        |    FROM (SELECT lang, tokens, unnest(range(1, len(tokens)+1)) AS s
        |          FROM (SELECT lang, str_split(lower(text), ' ') AS tokens
        |                FROM documents))
        |    WHERE tokens[s] <> '')
        |  GROUP BY lang, token)
        |WHERE rn <= 10
        |ORDER BY lang, rank""".stripMargin,
    "q_multimodal_framesample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(ceil(length(text) / 32.0) AS BIGINT) AS n_frames
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, n_frames,
        |    substring(text, CAST(fn * 32 + 1 AS BIGINT), 32) AS frame
        |  FROM (SELECT doc_id, n_frames, text,
        |          unnest(range(0, n_frames, 4)) AS fn
        |        FROM f)),
        |feat AS (
        |  SELECT doc_id, n_frames,
        |    list_sum(list_transform(range(1, length(frame) + 1),
        |      j -> ascii(substring(frame, j, 1)))) AS frame_feat
        |  FROM e)
        |SELECT doc_id, MAX(n_frames) AS n_frames, COUNT(*) AS n_sampled,
        |  CAST(SUM(frame_feat) AS BIGINT) AS feat_sum
        |FROM feat GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_profile_columns" -> Seq(
        ("o_orderkey", "o_orderkey"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_orderdate", "o_orderdate"),
        ("o_totalprice", "CAST(o_totalprice AS DECIMAL(12,2))"),
        ("o_orderpriority", "o_orderpriority"))
      .map { case (n, e) =>
        s"""SELECT '$n' AS col_name, COUNT(*) AS n_rows,
          |  COUNT($e) AS n_nonnull, COUNT(DISTINCT $e) AS n_distinct,
          |  CAST(MIN($e) AS VARCHAR) AS min_val,
          |  CAST(MAX($e) AS VARCHAR) AS max_val FROM orders""".stripMargin }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q_text_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(str_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT lang, CAST(cum_before // 256 AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens, MIN(doc_id) AS first_doc
        |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "q_ml_feature_onehot" ->
      """WITH idx AS (
        |  SELECT c_mktsegment,
        |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c_mktsegment ASC) - 1
        |      AS BIGINT) AS sidx
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_custkey, c_mktsegment, sidx,
        |  CAST(sidx = 0 AS BIGINT) AS oh_0, CAST(sidx = 1 AS BIGINT) AS oh_1,
        |  CAST(sidx = 2 AS BIGINT) AS oh_2, CAST(sidx = 3 AS BIGINT) AS oh_3,
        |  CAST(sidx = 4 AS BIGINT) AS oh_4
        |FROM customer c JOIN idx USING (c_mktsegment)
        |ORDER BY c_custkey""".stripMargin,
    "q_sample_mixture" ->
      """WITH w(lang, part) AS (VALUES ('en', 4), ('de', 2), ('es', 2),
        |                             ('fr', 1), ('zh', 1)),
        |n AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY lang),
        |k AS (SELECT w.lang, LEAST(ns, (300 * part) // 10) AS ks
        |      FROM w JOIN n USING (lang)),
        |r AS (SELECT lang, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY (doc_id * 1103515245 + 12345) % 1000000007 ASC,
        |                   doc_id ASC) AS rn
        |      FROM documents)
        |SELECT r.lang, doc_id, CAST(rn AS BIGINT) AS rn
        |FROM r JOIN k ON r.lang = k.lang AND rn <= ks
        |ORDER BY r.lang, doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE (doc_id * 1103515245 + 12345) % 1000000007 % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM (${TextOps.shinglesSql})),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms GROUP BY doc_id, perm),
        |pairs AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |          FROM sig s1 JOIN sig s2
        |            ON s1.perm = s2.perm AND s1.minh = s2.minh
        |           AND s1.doc_id < s2.doc_id
        |          GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |walk(node, label) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
        |  WHERE w.label < e.b),
        |cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id
        |       FROM walk GROUP BY node)
        |SELECT doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM cc ORDER BY cluster_id, doc_id""".stripMargin,
    "q_join_bloom_prefilter" ->
      """SELECT c_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_stream_join" ->
      """SELECT c.user_id, COUNT(*) AS n_attributed,
        |  CAST(SUM(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_value
        |FROM (SELECT user_id, ts AS click_ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
        | AND p.ts < c.click_ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)
}
