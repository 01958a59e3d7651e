package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.16 round-6 additions: the pipeline operators a training-data
  * engineer reaches for next after dedup/mixture landed in r5 —
  * chunk-level dedup (C4-style boilerplate removal), ordered-funnel
  * conversion, PMI collocations (phrase mining before tokenizer
  * training), temperature-scaled mixture (sqrt rebalance), and a PSI
  * drift profile (new-shard data-quality gate). All five have exact
  * DuckDB oracle twins.
  */
object Pipeline4 extends graft.QueryModule {

  /** Chunk-level exact dedup over documents, 32-word chunks: per doc,
    * how many of its chunks are first occurrences corpus-wide
    * (graft.api.Dedup.chunkDedup — md5 shuffle key, row_number
    * window, one agg; no pair space). */
  def dedupChunk(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.chunkDedup(Tables.documents(s, dir), "doc_id", "text", 32)
      .orderBy("doc_id")

  /** Ordered funnel view -> click -> purchase over events with
    * first-qualifying-time semantics (graft.api.Events.funnel). */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame =
    graft.api.Events.funnel(Tables.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("step")

  /** PMI collocations over the document corpus: top-50 adjacent
    * bigrams by count (integer-keyed cut), PMI as the scored column
    * (graft.api.Text.collocations). */
  def textCollocations(s: SparkSession, dir: String): DataFrame =
    graft.api.Text.collocations(Tables.documents(s, dir), "doc_id", "text",
      minCount = 3L, k = 50)

  /** Temperature-scaled (alpha=0.5) language mixture of documents,
    * total budget 300 (graft.api.Sample.temperatureCap). */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame =
    graft.api.Sample.temperatureCap(Tables.documents(s, dir), "lang",
        "doc_id", total = 300L)
      .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rn"))
      .orderBy("lang", "doc_id")

  /** PSI drift decomposition of events.value per event_type vs the
    * pooled distribution, 10 equal-width buckets on integer cents
    * (graft.api.Profile.drift). */
  def profileDrift(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.drift(Tables.events(s, dir), "event_type", "value", 10)
      .orderBy("side", "bucket")

  /** Key-skew diagnostics on orders.o_custkey — max / exact-discrete
    * p50/p99 group sizes, heaviest key, max/mean ppm
    * (graft.api.Profile.keySkew: histogram + tiny broadcast self-join,
    * no global sort). */
  def profileSkew(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.keySkew(Tables.orders(s, dir), "o_custkey")

  /** Leakage-safe train/val/test split of documents: near-dup cluster
    * members (same MinHash-candidate components as q_dedup_cluster,
    * read from the stored signature frame) always share a split;
    * singletons hash on their own id (graft.api.Ml.leakageSafeSplit,
    * 80/10/10). */
  def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    // r8: the cluster map comes from the STORED full-corpus frame
    // (TextOps.fullCc) — in production the map must be frozen
    // storage (a re-derived map could re-label a cluster and move docs
    // across splits); deterministic, so the output is unchanged
    val cc = Tables.read(s, TextOps.fullCc(s, dir))
    graft.api.Ml.leakageSafeSplit(
        Tables.documents(s, dir).select("doc_id", "lang"), "doc_id", cc)
      .select(col("doc_id"), col("lang"), col("rep"), col("split"))
      .orderBy("doc_id")
  }

  /** Exact join-output cardinality of lineitem ⋈ orders on orderkey
    * WITHOUT running the join (graft.api.Profile.joinCardinality):
    * two per-key count aggs + a key-cardinality-sized join; 1 row. */
  def profileJoinCard(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.joinCardinality(
      Tables.lineitem(s, dir), "l_orderkey",
      Tables.orders(s, dir), "o_orderkey")

  /** Rare-token inverted index over documents, df in [3, 10]
    * (graft.api.Text.invertedIndex — df band BEFORE list collection,
    * so posting lists are bounded by maxDf at any corpus size). */
  def textInvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.api.Text.invertedIndex(Tables.documents(s, dir), "doc_id",
        "text", minDf = 3L, maxDf = 10L)
      .orderBy("token")

  /** Blocklist hits over documents for {dup, the} — the removed set a
    * bad-words filter would drop, with occurrence counts and the first
    * blocked token as evidence (graft.api.Text.blocklistHits —
    * broadcast token probe, no corpus-keyed shuffle). */
  def textBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val block = Seq("dup", "the").toDF("word")
    graft.api.Text.blocklistHits(Tables.documents(s, dir), "doc_id",
        "text", block)
      .orderBy("doc_id")
  }

  /** 16-way output-shard balance of documents weighted by text length
    * (graft.api.Profile.shardBalance — the stable-hash shard writer's
    * pre-materialization check). */
  def profileShardBalance(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.shardBalance(
        Tables.documents(s, dir).withColumn("n_chars", length(col("text"))),
        "doc_id", "n_chars", 16)
      .orderBy("shard")

  /** Winsorized mean of events.value per event_type, p05/p95 value
    * bounds on exact cents (graft.api.Profile.trimmedMean). */
  def aggTrimmed(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.trimmedMean(Tables.events(s, dir), "event_type",
        "value")
      .orderBy("event_type")

  /** KLL twin of q_agg_trimmed — same winsorized mean, bounds from the
    * mergeable KLL sketch instead of a per-group sort window (the
    * 100 TB path: one hash agg, no sort; graded no-oracle, bounded by
    * ApiSpec's rank-band test against the exact twin). */
  def aggTrimmedKll(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.trimmedMean(Tables.events(s, dir), "event_type",
        "value", approx = true)
      .orderBy("event_type")

  /** Cross-corpus 3-shingle overlap between documents sources src0 and
    * src1 (graft.api.Profile.corpusOverlap): set sizes, shared count,
    * directed containment + Jaccard in exact ppm. */
  def profileCorpusOverlap(s: SparkSession, dir: String): DataFrame =
    graft.api.Profile.corpusOverlap(Tables.documents(s, dir), "source",
      "text", "src0", "src1")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_chunk" -> dedupChunk,
    "q_events_funnel" -> eventsFunnel,
    "q_text_collocations" -> textCollocations,
    "q_sample_temperature" -> sampleTemperature,
    "q_profile_drift" -> profileDrift,
    "q_profile_skew" -> profileSkew,
    "q_split_leakage_safe" -> splitLeakageSafe,
    "q_profile_join_card" -> profileJoinCard,
    "q_text_inverted_index" -> textInvertedIndex,
    "q_text_blocklist" -> textBlocklist,
    "q_profile_shard_balance" -> profileShardBalance,
    "q_agg_trimmed" -> aggTrimmed,
    "q_agg_trimmed_kll" -> aggTrimmedKll,
    "q_profile_corpus_overlap" -> profileCorpusOverlap)

  /** Tokens with the raw-split ordinal (gaps where empty tokens were
    * dropped) — must match graft.api.Text.tokens' pos+1 numbering. */
  private val tokOrdSql =
    """SELECT doc_id, s AS ord, tokens[s] AS token
      |FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens)+1)) AS s
      |      FROM (SELECT doc_id, str_split(lower(text), ' ') AS tokens
      |            FROM documents))
      |WHERE tokens[s] <> ''""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_dedup_chunk" ->
      s"""WITH tok AS ($tokOrdSql),
        |ch AS (SELECT doc_id, (ord - 1) // 32 AS chunk_idx,
        |         string_agg(token, ' ' ORDER BY ord) AS chunk_text
        |       FROM tok GROUP BY doc_id, chunk_idx),
        |r AS (SELECT doc_id, chunk_idx, row_number() OVER (
        |        PARTITION BY md5(chunk_text)
        |        ORDER BY doc_id, chunk_idx) AS rk
        |      FROM ch),
        |agg AS (SELECT doc_id, COUNT(*) AS n_chunks,
        |          SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS n_kept
        |        FROM r GROUP BY doc_id)
        |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST((1000000 * n_kept) // n_chunks AS BIGINT) AS kept_ppm
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |       GROUP BY e.user_id),
        |c AS (SELECT 1 AS step, 'view' AS event_type,
        |        (SELECT COUNT(*) FROM s1) AS users
        |      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
        |SELECT CAST(step AS BIGINT) AS step, event_type,
        |  CAST(users AS BIGINT) AS users,
        |  CAST(CASE WHEN LAG(users) OVER (ORDER BY step) IS NULL
        |              THEN 1000000
        |            WHEN LAG(users) OVER (ORDER BY step) = 0 THEN 0
        |            ELSE (1000000 * users)
        |              // LAG(users) OVER (ORDER BY step) END
        |    AS BIGINT) AS conv_from_prev_ppm
        |FROM c ORDER BY step""".stripMargin,
    "q_text_collocations" ->
      s"""WITH tok AS ($tokOrdSql),
        |pr AS (SELECT doc_id, token AS w1,
        |         lead(token) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
        |       FROM tok),
        |pc AS (SELECT w1, w2, COUNT(*) AS pair_count FROM pr
        |       WHERE w2 IS NOT NULL GROUP BY w1, w2),
        |uni AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT COUNT(*) AS n_tok FROM tok),
        |bt AS (SELECT SUM(pair_count) AS n_pair FROM pc)
        |SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
        |  ROUND(LN((CAST(pair_count AS DOUBLE) * n_tok * n_tok)
        |    / (CAST(n_pair AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
        |FROM pc JOIN uni u1 ON pc.w1 = u1.token
        |JOIN uni u2 ON pc.w2 = u2.token
        |CROSS JOIN tot CROSS JOIN bt
        |WHERE pair_count >= 3
        |ORDER BY pair_count DESC, w1, w2 LIMIT 50""".stripMargin,
    "q_sample_temperature" ->
      """WITH n AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY lang),
        |w AS (SELECT lang, ns, CAST(FLOOR(SQRT(ns)) AS BIGINT) AS wgt FROM n),
        |sw AS (SELECT SUM(wgt) AS sum_w FROM w),
        |k AS (SELECT lang, LEAST(ns, (300 * wgt) // sum_w) AS ks
        |      FROM w CROSS JOIN sw),
        |r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY (doc_id * 1103515245 + 12345) % 1000000007 ASC,
        |                 doc_id ASC) AS rn
        |      FROM documents)
        |SELECT r.lang, doc_id, CAST(rn AS BIGINT) AS rn
        |FROM r JOIN k ON r.lang = k.lang AND rn <= ks
        |ORDER BY r.lang, doc_id""".stripMargin,
    "q_profile_drift" ->
      """WITH c AS (SELECT event_type AS side,
        |             CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |mm AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c),
        |b AS (SELECT side, ((cents - mn) * 10) // (mx - mn + 1) AS bucket
        |      FROM c CROSS JOIN mm),
        |nsb0 AS (SELECT side, bucket, COUNT(*) AS n_raw FROM b
        |         GROUP BY side, bucket),
        |grid AS (SELECT s.side, g.bucket
        |         FROM (SELECT DISTINCT side FROM nsb0) s
        |         CROSS JOIN (SELECT bucket FROM range(10) t(bucket)) g),
        |dense AS (SELECT g.side, g.bucket, COALESCE(n_raw, 0) AS n_sb
        |          FROM grid g LEFT JOIN nsb0
        |          ON g.side = nsb0.side AND g.bucket = nsb0.bucket),
        |ns AS (SELECT side, SUM(n_sb) AS n_s FROM dense GROUP BY side),
        |nb AS (SELECT bucket, SUM(n_sb) AS n_b FROM dense GROUP BY bucket),
        |t AS (SELECT SUM(n_sb) AS n FROM dense)
        |SELECT d.side, d.bucket, CAST(d.n_sb AS BIGINT) AS n,
        |  ROUND(((CAST(n_sb AS DOUBLE) + 1) / (n_s + 10)
        |      - (CAST(n_b AS DOUBLE) + 1) / (n + 10))
        |    * LN(((CAST(n_sb AS DOUBLE) + 1) / (n_s + 10))
        |      / ((CAST(n_b AS DOUBLE) + 1) / (n + 10))), 6) AS psi_contrib
        |FROM dense d JOIN ns ON d.side = ns.side
        |JOIN nb ON d.bucket = nb.bucket CROSS JOIN t
        |ORDER BY d.side, d.bucket""".stripMargin,
    "q_profile_skew" ->
      """WITH c AS (SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders
        |           GROUP BY o_custkey),
        |d AS (SELECT cnt, COUNT(*) AS freq FROM c GROUP BY cnt),
        |t AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows,
        |        MAX(cnt) AS max_cnt FROM c),
        |cum AS (SELECT a.cnt, SUM(b.freq) AS cumk FROM d a
        |        JOIN d b ON b.cnt <= a.cnt GROUP BY a.cnt),
        |p50 AS (SELECT MIN(cnt) AS p50_cnt FROM cum CROSS JOIN t
        |        WHERE cumk >= (1 * n_keys + 2 - 1) // 2),
        |p99 AS (SELECT MIN(cnt) AS p99_cnt FROM cum CROSS JOIN t
        |        WHERE cumk >= (99 * n_keys + 100 - 1) // 100),
        |tk AS (SELECT MIN(key) AS top_key FROM c CROSS JOIN t
        |       WHERE cnt = max_cnt)
        |SELECT CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(max_cnt AS BIGINT) AS max_cnt,
        |  CAST(p50_cnt AS BIGINT) AS p50_cnt,
        |  CAST(p99_cnt AS BIGINT) AS p99_cnt,
        |  CAST(top_key AS BIGINT) AS top_key,
        |  CAST((1000000 * max_cnt * n_keys) // n_rows AS BIGINT)
        |    AS skew_ratio_ppm
        |FROM t CROSS JOIN p50 CROSS JOIN p99 CROSS JOIN tk""".stripMargin,
    "q_split_leakage_safe" ->
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
        |       FROM walk GROUP BY node),
        |r AS (SELECT d.doc_id, d.lang,
        |        COALESCE(cc.cluster_id, d.doc_id) AS rep
        |      FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
        |SELECT doc_id, lang, rep,
        |  CASE WHEN (rep * 1103515245 + 12345) % 1000000007 % 100 < 80
        |         THEN 'train'
        |       WHEN (rep * 1103515245 + 12345) % 1000000007 % 100 < 90
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_profile_join_card" ->
      """WITH ca AS (SELECT l_orderkey AS key, COUNT(*) AS cnt_a
        |            FROM lineitem GROUP BY 1),
        |cb AS (SELECT o_orderkey AS key, COUNT(*) AS cnt_b
        |       FROM orders GROUP BY 1),
        |contrib AS (SELECT ca.key, cnt_a * cnt_b AS rows_k
        |            FROM ca JOIN cb USING (key)),
        |t AS (SELECT COUNT(*) AS n_keys_common, SUM(rows_k) AS join_rows,
        |        MAX(rows_k) AS max_key_rows FROM contrib),
        |sa AS (SELECT COUNT(*) AS n_keys_a FROM ca),
        |sb AS (SELECT COUNT(*) AS n_keys_b FROM cb),
        |tk AS (SELECT MIN(key) AS top_key FROM contrib CROSS JOIN t
        |       WHERE rows_k = max_key_rows)
        |SELECT CAST(n_keys_a AS BIGINT) AS n_keys_a,
        |  CAST(n_keys_b AS BIGINT) AS n_keys_b,
        |  CAST(n_keys_common AS BIGINT) AS n_keys_common,
        |  CAST(join_rows AS BIGINT) AS join_rows,
        |  CAST(max_key_rows AS BIGINT) AS max_key_rows,
        |  CAST(top_key AS BIGINT) AS top_key,
        |  CAST((1000000 * max_key_rows) // join_rows AS BIGINT)
        |    AS top_key_share_ppm
        |FROM sa CROSS JOIN sb CROSS JOIN t CROSS JOIN tk""".stripMargin,
    "q_text_inverted_index" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id AS doc, token
        |             FROM ($tokOrdSql)),
        |d AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token
        |      HAVING COUNT(*) BETWEEN 3 AND 10)
        |SELECT t.token, CAST(d.df AS BIGINT) AS df,
        |  string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS postings
        |FROM tok t JOIN d ON t.token = d.token
        |GROUP BY t.token, d.df
        |ORDER BY t.token""".stripMargin,
    "q_text_blocklist" ->
      s"""WITH tok AS ($tokOrdSql)
        |SELECT doc_id, COUNT(*) AS n_blocked,
        |  MIN(token) AS first_blocked
        |FROM tok WHERE token IN ('dup', 'the')
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_profile_shard_balance" ->
      """WITH sh AS (SELECT (doc_id * 1103515245 + 12345) % 1000000007 % 16
        |              AS shard,
        |            CAST(length(text) AS BIGINT) AS w FROM documents),
        |agg AS (SELECT shard, COUNT(*) AS n_rows, SUM(w) AS weight
        |        FROM sh GROUP BY shard),
        |t AS (SELECT SUM(weight) AS tot_w FROM agg)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(weight AS BIGINT) AS weight,
        |  CAST((1000000 * weight) // tot_w AS BIGINT) AS share_ppm
        |FROM agg CROSS JOIN t ORDER BY shard""".stripMargin,
    "q_agg_trimmed" ->
      """WITH c AS (SELECT event_type AS g,
        |             CAST(ROUND(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |n AS (SELECT g, COUNT(*) AS n FROM c GROUP BY g),
        |r AS (SELECT c.g, cents, n,
        |        ROW_NUMBER() OVER (PARTITION BY c.g ORDER BY cents) AS rk
        |      FROM c JOIN n ON c.g = n.g),
        |b AS (SELECT g, n,
        |        MIN(CASE WHEN rk = (5 * n + 99) // 100 THEN cents END)
        |          AS lo_cents,
        |        MIN(CASE WHEN rk = (95 * n + 99) // 100 THEN cents END)
        |          AS hi_cents
        |      FROM r GROUP BY g, n),
        |k AS (SELECT c.g, n, lo_cents, hi_cents, COUNT(*) AS n_kept,
        |        SUM(cents) AS s
        |      FROM c JOIN b ON c.g = b.g
        |      WHERE cents >= lo_cents AND cents <= hi_cents
        |      GROUP BY c.g, n, lo_cents, hi_cents)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(lo_cents AS BIGINT) AS lo_cents,
        |  CAST(hi_cents AS BIGINT) AS hi_cents,
        |  CAST(n_kept AS BIGINT) AS n_kept,
        |  ROUND(CAST(s AS DOUBLE) / n_kept / 100, 6) AS trimmed_mean
        |FROM k ORDER BY event_type""".stripMargin,
    "q_profile_corpus_overlap" ->
      s"""WITH sh AS (SELECT d.source AS grp, s.shingle
        |           FROM (${TextOps.shinglesSql}) s
        |           JOIN documents d USING (doc_id)
        |           WHERE d.source IN ('src0', 'src1')),
        |dist AS (SELECT DISTINCT grp, shingle FROM sh),
        |pres AS (SELECT shingle,
        |           MAX(CASE WHEN grp = 'src0' THEN 1 ELSE 0 END) AS in_a,
        |           MAX(CASE WHEN grp = 'src1' THEN 1 ELSE 0 END) AS in_b
        |         FROM dist GROUP BY shingle),
        |t AS (SELECT SUM(in_a) AS n_a, SUM(in_b) AS n_b,
        |        SUM(in_a * in_b) AS n_common FROM pres)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  CAST((1000000 * n_common) // n_a AS BIGINT) AS a_in_b_cover_ppm,
        |  CAST((1000000 * n_common) // n_b AS BIGINT) AS b_in_a_cover_ppm,
        |  CAST((1000000 * n_common) // (n_a + n_b - n_common) AS BIGINT)
        |    AS jaccard_ppm
        |FROM t""".stripMargin)
}
