package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.8 text / LLM-pipeline operators, part 1: tokenization, n-grams,
  * TF-IDF, corpus stats, lexicon scoring, dedup (exact + MinHash +
  * exact-Jaccard verification).
  *
  * Design facts probed from the fixtures (see FIXTURES.md): 31-word
  * vocabulary; 3-word-shingle Jaccard is ~0 between random docs but
  * >0.5 for planted near-duplicates (a rare `dup` token marks them) —
  * so shingle k=3 and threshold 0.5 separate signal from noise, while
  * token-SET Jaccard (median 0.67) would not.
  *
  * 100 TB notes: everything is explode -> hash-agg -> hash-join on
  * token/shingle keys — no driver-side collection, no cross join of
  * docs. MinHash turns the all-pairs problem into an equi-join on
  * (perm, min-hash) buckets, the standard LSH-banding scale path.
  */
object TextOps extends graft.QueryModule {

  /** Tokens with 1-based ordinal per doc — fixture binding of the
    * parametric graft.api.Text.tokens. */
  def tokens(s: SparkSession, dir: String): DataFrame =
    graft.api.Text.tokens(Tables.documents(s, dir), "doc_id", "text")

  /** Distinct 3-word shingles per doc (graft.api.Text.shingles). */
  def shingles(s: SparkSession, dir: String): DataFrame =
    graft.api.Text.shingles(Tables.documents(s, dir), "doc_id", "text", 3)

  /** (source, token) occurrence stream — the shared scan of the
    * stylometry keys (js_divergence, burrows_delta, hapax,
    * heaps_law). r17: `source` rides the tokenize explode directly
    * (it is a column of the same documents row), replacing the old
    * token-scale tokens⋈documents join — one narrow projection, no
    * join anywhere (guide §2.4). Same (source, token) multiset: the
    * join was on the explode's own doc_id. */
  private[operators] def sourceTokens(s: SparkSession, dir: String): DataFrame =
    graft.api.Text.tokens(Tables.documents(s, dir), "source", "text")
      .select(col("source"), col("token"))

  private val tokensSql =
    """SELECT doc_id, tokens[s] AS token
      |FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens)+1)) AS s
      |      FROM (SELECT doc_id, str_split(lower(text), ' ') AS tokens FROM documents))
      |WHERE tokens[s] <> ''""".stripMargin

  private[graft] val shinglesSql =
    """SELECT doc_id, unnest(list_distinct(
      |  [l[i] || ' ' || l[i+1] || ' ' || l[i+2] for i in range(1, len(l)-1)])) AS shingle
      |FROM (SELECT doc_id, str_split(lower(text), ' ') AS l FROM documents)
      |WHERE len(l) >= 3""".stripMargin

  /** Per-doc token count + average token length (Tokenizer semantics).
    * Average as EXACT ppm (integer div; positive operands) — rounding a
    * computed double ratio is the §2.0.2 exact-half trap. */
  def textTokenize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", graft.api.Text.tokenArray("text"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("(1000000 * aggregate(toks, 0L, (a, x) -> a + length(x))) " +
          "div size(toks)").as("avg_tok_len_ppm"))
      .orderBy("doc_id")

  /** StopWordsRemover semantics with a DATA-DERIVED stop list (top-10
    * corpus frequency, ties by token) — the fixture langs are
    * en/es/fr/de/zh so a fixed English list would be wrong. */
  def textStopwords(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(s, dir)
    val stop = t.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(10)
      .select("token")
    t.join(broadcast(stop), Seq("token"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_total"),
        countDistinct(col("token")).as("kept_distinct"))
      .orderBy("doc_id")
  }

  /** NGram semantics: word bigrams, global top-50 frequencies. */
  def textNgram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", graft.api.Text.tokenArray("text"))
      .select(explode(graft.api.Text.ngrams("toks", 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(50)

  /** Term frequency per (doc, term). */
  def textTf(s: SparkSession, dir: String): DataFrame =
    tokens(s, dir)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "token")

  /** TF-IDF with MLlib's smoothed formula idf = ln((N+1)/(df+1))
    * (differs from the ln(N/df) textbook form — documented).
    * Fixture binding of graft.api.Text.tfidf. */
  def textTfidf(s: SparkSession, dir: String): DataFrame =
    graft.api.Text.tfidf(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id", "token")

  /** Corpus profile per language — fixture binding of
    * graft.api.Text.corpusStats with the exact (oracle-verifiable)
    * vocab; `approx = true` is the 100 TB dial (constant-state HLL±
    * distinct per lang instead of an exact vocab-sized distinct —
    * ApiSpec bounds it within rsd). One tokenize total: n_docs /
    * sum_chars are plain column aggs, sum_tokens falls out of the
    * vocab explode (the former second per-doc tokenize pass cost
    * ~10 -> ~6 CPU-s at sf0.1). */
  def textStats(s: SparkSession, dir: String): DataFrame =
    graft.api.Text.corpusStats(Tables.documents(s, dir), "lang", "text",
        "n_chars", approx = false)
      .orderBy("lang")

  /** Lexicon scoring (sentiment-style): inline {token: weight} table
    * joined against the token stream; exact decimal weights. */
  def textLexiconScore(s: SparkSession, dir: String): DataFrame = {
    val lex = s.createDataFrame(Seq(
      ("fast", BigDecimal("2.0")), ("slow", BigDecimal("-2.0")),
      ("small", BigDecimal("-1.0")), ("big", BigDecimal("1.0")),
      ("dup", BigDecimal("-3.0")), ("query", BigDecimal("1.5"))))
      .toDF("token", "weight")
      .withColumn("weight", col("weight").cast("decimal(4,1)"))
    tokens(s, dir).join(broadcast(lex), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
        round(sum(col("weight")).cast("double") / count(lit(1)), 4).as("score"))
      .orderBy("doc_id")
  }

  /** Exact dedup on (lang, text): deterministic survivor = min(doc_id).
    * Implemented as groupBy+min, NOT dropDuplicates (whose survivor is
    * partition-order dependent — §2.0). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.exact(Tables.documents(s, dir), "doc_id",
        Seq("lang", "text"))
      .select(col("lang"), col("survivor"), col("dup_cnt"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("survivor")

  /** MinHash near-dup candidates — ENGINE-NEUTRAL arithmetic hashing
    * (§2.0.7): shingle ids are a per-char Horner polynomial hash of the
    * shingle STRING (no vocabulary table at all), 16 affine
    * permutations (a*id + b) mod p with literal constants, candidate
    * pairs = docs agreeing on >= 8 of 16 signature slots.
    *
    * 100 TB: the id assignment is a pure projection computed where the
    * shingle row lives — round 2's dense_rank vocabulary funneled every
    * distinct shingle through ONE task (Window.orderBy with no
    * partition = SinglePartition sort; a straggler/OOM at a corpus with
    * billions of shingles). The signature join is the standard LSH band
    * join (equi-join on (perm, minhash)) — never an all-pairs cross
    * join. sid < 1e9+7, so a*sid < 1.7e18 stays inside int64. */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    // all 16 signature slots come from ONE aggregation pass inside
    // minhashSignatures (a perms cross join would 16x the pre-agg row
    // count: 3M vs 190k rows at sf0.1); candidates from the band
    // equi-join in minhashCandidates. localCheckpoint (eager): the band
    // join consumes sig TWICE (s1/s2 branches) — materialize the
    // signature pipeline once instead of re-running explode+agg per
    // branch (leak-free; ContextCleaner frees the RDD).
    val sig = graft.api.Dedup.minhashSignatures(
        shingles(s, dir), "doc_id", TextOps.permTable)
      .localCheckpoint(true)
    graft.api.Dedup.minhashCandidates(sig, "doc_id", minMatches = 8)
      .select(col("d1"), col("d2"), col("matches"),
        round(col("matches") / lit(16.0), 4).as("agreement"))
      .orderBy(col("matches").desc, col("d1").asc, col("d2").asc)
      .limit(100)
  }

  /** Full-corpus MinHash signatures, STORED to parquet once per
    * (session, sfDir) — the one-time ingest product every signature
    * consumer reads (same pattern as the incremental-dedup corpus
    * store and the HLL sketch store; Bench warms it untimed). */
  private[graft] val fullSigs = Store.files("full_sigs") { (s, dir, out) =>
    graft.api.Dedup.minhashSignatures(shingles(s, dir), "doc_id",
        TextOps.permTable)
      .write.mode("overwrite").parquet(out)
  }

  /** Full-corpus MinHash band-candidate PAIRS (>=4/16 agreement, with
    * the match count), STORED once per (session, sfDir) — the third
    * one-time ingest product next to the signatures and the cluster
    * map: every pair consumer (the jaccard/containment verify front,
    * the cluster map, PageRank) filters the stored frame to its own
    * threshold instead of re-running the corpus-wide band self-join.
    * Stored at the LOWEST consumed threshold (4); `matches` is the
    * full 16-perm agreement count, so `matches >= k` reproduces any
    * k-threshold band join exactly — deterministic, no consumer
    * output changes. */
  private[graft] val fullPairs = Store.files("full_pairs") { (s, dir, out) =>
    val sig = Tables.read(s, fullSigs(s, dir))
    graft.api.Dedup.minhashCandidates(sig, "doc_id", minMatches = 4)
      .write.mode("overwrite").parquet(out)
  }

  /** The near-duplicate pair set: stored full pairs agreeing on >= 8
    * of the 16 MinHash bands (the oracle's `Pipeline23.pairsHead`).
    * Every near-dup graph and pair-metric key reads it. Output: (d1,
    * d2), d1 < d2. */
  private[graft] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")

  /** [[nearDupPairs]] as an undirected edge list: both directions of
    * every pair. Output: (src, dst). */
  private[operators] def nearDupEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
    pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
  }

  /** The shared front of the pair n-gram metrics (q_text_bleu_pairs,
    * q_text_rouge_pairs): the near-dup pairs, the token arrays of only
    * the docs they mention, per-doc n-gram counts and the clipped
    * per-pair overlap Σ min(count_d1, count_d2). The pairs and each
    * count frame localCheckpoint (eager): each feeds several joins.
    *
    * 100 TB: r16 restricts the corpus to the pair docs BEFORE
    * tokenizing (broadcast semi-join on the tiny pair-doc set), and
    * the n-grams are assembled at the ARRAY level — a token-frame
    * self-join on (doc, ord+1) would re-shuffle the exploded corpus
    * just to look one element left. The clip joins are (pair, gram)
    * equi-joins bounded by the stored pair list. */
  private[operators] final class PairGrams(s: SparkSession, dir: String) {
    val pairs: DataFrame = nearDupPairs(s, dir).localCheckpoint(true)
    val docToks: DataFrame = Tables.documents(s, dir)
      .join(broadcast(pairs
        .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
        .distinct()), "doc_id")
      .select(col("doc_id"), graft.api.Text.tokenArray("text").as("toks"))

    /** (doc_id, gram, c) for the n-grams of each pair doc. */
    def counts(n: Int): DataFrame = docToks
      .select(col("doc_id"), explode(graft.api.Text.ngrams("toks", n)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)

    /** (d1, d2, clip<n>) for the pairs sharing at least one gram. */
    def clip(c: DataFrame, n: Int): DataFrame = pairs
      .join(c.select(col("doc_id").as("d1"), col("gram"),
        col("c").as("ch")), Seq("d1"))
      .join(c.select(col("doc_id").as("d2"), col("gram"),
        col("c").as("cr")), Seq("d2", "gram"))
      .groupBy("d1", "d2")
      .agg(sum(expr("least(ch, cr)")).as(s"clip$n"))
  }

  /** Full-corpus near-dup CLUSTER MAP (min-label connected components
    * over the >=8/16-band MinHash candidate pairs), STORED once per
    * (session, sfDir) — like the signatures, the map is a one-time
    * ingest product: the leakage-safe split and the pipeline output
    * leg both key on it, and in production it must be FROZEN storage
    * anyway (a re-derived map could re-label a cluster and silently
    * move docs across train/test). Deterministic, so storing cannot
    * change any consumer's output. */
  private[graft] val fullCc = Store.files("full_cc") { (s, dir, out) =>
    graft.api.Dedup.connectedComponents(nearDupPairs(s, dir), "d1", "d2")
      .write.mode("overwrite").parquet(out)
  }

  /** The q_dedup_incremental corpus side (doc_id % 5 != 0), signed and
    * STORED once: the one-time ingest product each new batch joins. */
  private val corpusSigs = Store.files("corpus_sigs") { (s, dir, out) =>
    incrementalSigs(Tables.documents(s, dir).where(pmod(col("doc_id"), lit(5)) =!= 0))
      .write.mode("overwrite").parquet(out)
  }

  private def incrementalSigs(side: DataFrame): DataFrame =
    graft.api.Dedup.minhashSignatures(
      graft.api.Text.shingles(side, "doc_id", "text", 3), "doc_id",
      TextOps.permTable)

  override def artifacts: Seq[Store.Artifact[_]] =
    Seq(fullSigs, fullPairs, fullCc, corpusSigs)

  /** Band candidates (from the stored signatures) + the shingles of
    * exactly the docs they mention — the shared front half of the
    * verify-family queries. Both frames localCheckpoint (eager): the
    * candidates feed the doc-id semi-join and both verify broadcasts,
    * the shingles feed sizes + both join sides (leak-free;
    * ContextCleaner frees the RDDs). */
  private def candidateShingles(s: SparkSession, dir: String,
      minMatches: Int): (DataFrame, DataFrame) = {
    val cand = Tables.read(s, fullPairs(s, dir))
      .where(col("matches") >= minMatches)
      .localCheckpoint(true)
    val candIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val candDocs = Tables.documents(s, dir)
      .join(broadcast(candIds), "doc_id")
    val sh = graft.api.Text.shingles(candDocs, "doc_id", "text", 3)
      .localCheckpoint(true)
    (cand, sh)
  }

  /** Exact Jaccard on MinHash band candidates — SURVEY §2.8's "exact
    * Jaccard on candidate pairs (verify MinHash)", the second stage of
    * the two-stage near-dup pipeline, in its production shape: the
    * band join proposes pairs from the STORED full-corpus signatures
    * ([[fullSigs]] — at ingest a pipeline signs each doc once;
    * re-deriving signatures per verify query re-pays the corpus-wide
    * shingle explode, ~2/3 of this query's r5 CPU), and the exact
    * intersection count re-shingles ONLY docs that appear in some
    * candidate pair (broadcast semi-join): the explode is proportional
    * to the near-dup rate, not the corpus — at 100 TB, re-shingling
    * everything to verify <1% of it would dwarf the band join. Same
    * arithmetic hashing as q_dedup_minhash, so the oracle twin stays
    * pure SQL (VERDICT r5 #2: ~9 -> <=5 CPU-s). */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame = {
    val (cand, sh) = candidateShingles(s, dir, minMatches = 8)
    graft.api.Dedup.jaccardVerify(sh, "doc_id", cand, threshold = 0.5)
      .orderBy(col("jaccard").desc, col("d1").asc, col("d2").asc)
      .limit(100)
  }

  /** Asymmetric containment dedup (graft.api.Dedup.containmentVerify):
    * |A∩B| / min(|A|,|B|) over a WIDER candidate band (≥4/16 slots —
    * a subsumed short doc agrees on fewer MinHash slots than a
    * symmetric near-dup, since Jaccard, which MinHash estimates,
    * dilutes with the size gap). Catches boilerplate blocks and
    * quoted snippets that q_dedup_jaccard's symmetric measure misses.
    * Same stored-signature + candidate-restricted topology. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val (cand, sh) = candidateShingles(s, dir, minMatches = 4)
    graft.api.Dedup.containmentVerify(sh, "doc_id", cand, threshold = 0.7)
      .orderBy(col("containment").desc, col("d1").asc, col("d2").asc)
      .limit(100)
  }

  /** Incremental dedup (graft.api.Dedup.newVsCorpus): the "new batch"
    * (fixture binding: doc_id ≡ 0 mod 5, ~20% of the corpus) checked
    * against the existing corpus (the rest) — the ingestion-pipeline
    * shape: corpus signatures are precomputed and STORED (written to
    * parquet once per (session, sfDir), the one-time ingest product;
    * Bench warms it untimed), and each incoming batch signs only
    * itself and band-joins against the stored frame — the corpus text
    * is never re-shingled (PlanShapeSpec pins a single corpus-free
    * explode) and no within-side pairs exist. Same engine-neutral
    * arithmetic hashing as q_dedup_minhash, so the oracle twin is pure
    * SQL. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val newBatch = Tables.documents(s, dir).where(pmod(col("doc_id"), lit(5)) === 0)
    graft.api.Dedup.newVsCorpus(incrementalSigs(newBatch),
        Tables.read(s, corpusSigs(s, dir)), "doc_id", minMatches = 8)
      .select(col("new_id"), col("corpus_id"), col("matches"),
        round(col("matches") / lit(16.0), 4).as("agreement"))
      .orderBy(col("matches").desc, col("new_id").asc, col("corpus_id").asc)
      .limit(100)
  }

  /** LSH BAND-QUALITY curve — the dedup pipeline's own eval readout
    * ("is the 8-of-16 band threshold right for this corpus"): per
    * band-match count m, the number of candidate pairs proposed at
    * exactly m agreeing slots (with nonzero lexical overlap — the
    * verify join is intersection-driven on both engines) and the
    * exact-Jaccard precision of those pairs at the 0.5 near-dup bar,
    * in ppm. Reuses the STORED full-corpus signatures and the
    * candidate-restricted shingle frame — the curve costs one extra
    * support-frame aggregation over machinery the verify keys already
    * run.
    *
    * 100 TB: identical topology to q_dedup_jaccard (band join on
    * stored signatures + candidate-restricted exact verify); the
    * curve itself is a ≤9-row aggregation. */
  def dedupBandQuality(s: SparkSession, dir: String): DataFrame = {
    val (cand, sh) = candidateShingles(s, dir, minMatches = 8)
    val ver = graft.api.Dedup.jaccardVerify(sh, "doc_id", cand,
        threshold = 0.0)
      .select(col("d1"), col("d2"), col("jaccard"))
    cand.join(ver, Seq("d1", "d2"))
      .groupBy(col("matches").cast("long").as("matches"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L))
          .as("n_verified"))
      .select(col("matches"), col("n_pairs"), col("n_verified"),
        expr("(1000000 * n_verified) div n_pairs").as("precision_ppm"))
      .orderBy("matches")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_band_quality" -> dedupBandQuality,
    "q_dedup_incremental" -> dedupIncremental,
    "q_text_tokenize" -> textTokenize,
    "q_text_stopwords" -> textStopwords,
    "q_text_ngram" -> textNgram,
    "q_text_tf" -> textTf,
    "q_text_tfidf" -> textTfidf,
    "q_text_stats" -> textStats,
    "q_text_lexicon_score" -> textLexiconScore,
    "q_dedup_exact" -> dedupExact,
    "q_dedup_minhash" -> dedupMinhash,
    "q_dedup_jaccard" -> dedupJaccard,
    "q_dedup_containment" -> dedupContainment)

  def oracleSql: Map[String, String] = Map(
    "q_dedup_band_quality" ->
      s"""WITH sh AS ($shinglesSql),
        |shid AS (SELECT doc_id, shingle, ${TextOps.polyHashSql("shingle")} AS sid FROM sh),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM shid CROSS JOIN perms
        |        GROUP BY doc_id, perm),
        |cand AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2,
        |           CAST(COUNT(*) AS BIGINT) AS matches
        |         FROM sig s1 JOIN sig s2
        |           ON s1.perm = s2.perm AND s1.minh = s2.minh AND s1.doc_id < s2.doc_id
        |         GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.d1, c.d2, COUNT(*) AS inter
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.d1
        |          JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
        |          GROUP BY c.d1, c.d2),
        |j AS (SELECT c.matches,
        |        ROUND(CAST(i.inter AS DOUBLE)
        |          / (z1.sz + z2.sz - i.inter), 6) AS jac
        |      FROM cand c
        |      JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
        |      JOIN sizes z1 ON z1.doc_id = c.d1
        |      JOIN sizes z2 ON z2.doc_id = c.d2)
        |SELECT matches, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_verified,
        |  CAST((1000000 * SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END))
        |    // COUNT(*) AS BIGINT) AS precision_ppm
        |FROM j GROUP BY matches ORDER BY matches""".stripMargin,
    "q_text_tokenize" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  (1000000 * CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)) // len(toks) AS avg_tok_len_ppm
        |FROM (SELECT doc_id, list_filter(str_split(lower(text), ' '), x -> x <> '') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_text_stopwords" ->
      s"""WITH tok AS ($tokensSql),
        |stop AS (SELECT token FROM (
        |  SELECT token, count(*) AS c FROM tok GROUP BY token
        |  ORDER BY c DESC, token ASC LIMIT 10))
        |SELECT doc_id, COUNT(*) AS kept_total,
        |  COUNT(DISTINCT token) AS kept_distinct
        |FROM tok WHERE token NOT IN (SELECT token FROM stop)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_ngram" ->
      """SELECT l[i] || ' ' || l[i+1] AS bigram, COUNT(*) AS cnt
        |FROM (SELECT l, unnest(range(1, len(l))) AS i
        |      FROM (SELECT list_filter(str_split(lower(text), ' '), x -> x <> '') AS l
        |            FROM documents)
        |      WHERE len(l) >= 2)
        |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 50""".stripMargin,
    "q_text_tf" ->
      s"""WITH tok AS ($tokensSql)
        |SELECT doc_id, token, COUNT(*) AS tf
        |FROM tok GROUP BY doc_id, token ORDER BY doc_id, token""".stripMargin,
    "q_text_tfidf" ->
      s"""WITH tok AS ($tokensSql),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf,
        |  ROUND(ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)), 6) AS idf,
        |  ROUND(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)), 6) AS tfidf
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |ORDER BY doc_id, token""".stripMargin,
    "q_text_stats" ->
      s"""WITH tok AS ($tokensSql),
        |d AS (SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars,
        |        SUM(len(list_filter(str_split(lower(text), ' '), x -> x <> ''))) AS sum_tokens
        |      FROM documents GROUP BY lang),
        |v AS (SELECT lang, COUNT(DISTINCT token) AS vocab_size
        |      FROM tok JOIN documents USING (doc_id) GROUP BY lang)
        |SELECT lang, n_docs,
        |  CAST((1000000 * sum_chars) // n_docs AS BIGINT) AS avg_chars_ppm,
        |  vocab_size,
        |  CAST((1000000 * sum_chars) // sum_tokens AS BIGINT) AS chars_per_token_ppm
        |FROM d JOIN v USING (lang) ORDER BY lang""".stripMargin,
    "q_text_lexicon_score" ->
      s"""WITH tok AS ($tokensSql),
        |lex(token, weight) AS (VALUES
        |  ('fast', CAST(2.0 AS DECIMAL(4,1))), ('slow', CAST(-2.0 AS DECIMAL(4,1))),
        |  ('small', CAST(-1.0 AS DECIMAL(4,1))), ('big', CAST(1.0 AS DECIMAL(4,1))),
        |  ('dup', CAST(-3.0 AS DECIMAL(4,1))), ('query', CAST(1.5 AS DECIMAL(4,1))))
        |SELECT doc_id, COUNT(*) AS n_scored,
        |  ROUND(CAST(SUM(weight) AS DOUBLE) / COUNT(*), 4) AS score
        |FROM tok JOIN lex USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT lang, MIN(doc_id) AS survivor, COUNT(*) AS dup_cnt,
        |  CAST(length(text) AS BIGINT) AS text_len
        |FROM documents GROUP BY lang, text ORDER BY survivor""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH sh AS (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM ($shinglesSql)),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms
        |        GROUP BY doc_id, perm)
        |SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS matches,
        |  ROUND(COUNT(*) / 16.0, 4) AS agreement
        |FROM sig s1 JOIN sig s2
        |  ON s1.perm = s2.perm AND s1.minh = s2.minh AND s1.doc_id < s2.doc_id
        |GROUP BY d1, d2 HAVING COUNT(*) >= 8
        |ORDER BY matches DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH sh AS (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM ($shinglesSql)),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms
        |        GROUP BY doc_id, perm)
        |SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
        |  COUNT(*) AS matches, ROUND(COUNT(*) / 16.0, 4) AS agreement
        |FROM sig n JOIN sig c ON n.perm = c.perm AND n.minh = c.minh
        |WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
        |GROUP BY new_id, corpus_id HAVING COUNT(*) >= 8
        |ORDER BY matches DESC, new_id ASC, corpus_id ASC LIMIT 100""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH sh AS ($shinglesSql),
        |shid AS (SELECT doc_id, shingle, ${TextOps.polyHashSql("shingle")} AS sid FROM sh),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM shid CROSS JOIN perms
        |        GROUP BY doc_id, perm),
        |cand AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |         FROM sig s1 JOIN sig s2
        |           ON s1.perm = s2.perm AND s1.minh = s2.minh AND s1.doc_id < s2.doc_id
        |         GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.d1, c.d2, COUNT(*) AS inter
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.d1
        |          JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
        |          GROUP BY c.d1, c.d2)
        |SELECT d1, d2, inter,
        |  ROUND(CAST(inter AS DOUBLE) / (z1.sz + z2.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes z1 ON z1.doc_id = d1
        |JOIN sizes z2 ON z2.doc_id = d2
        |WHERE CAST(inter AS DOUBLE) / (z1.sz + z2.sz - inter) >= 0.5
        |ORDER BY jaccard DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH sh AS ($shinglesSql),
        |shid AS (SELECT doc_id, shingle, ${TextOps.polyHashSql("shingle")} AS sid FROM sh),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM shid CROSS JOIN perms
        |        GROUP BY doc_id, perm),
        |cand AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |         FROM sig s1 JOIN sig s2
        |           ON s1.perm = s2.perm AND s1.minh = s2.minh AND s1.doc_id < s2.doc_id
        |         GROUP BY d1, d2 HAVING COUNT(*) >= 4),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.d1, c.d2, COUNT(*) AS inter
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.d1
        |          JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
        |          GROUP BY c.d1, c.d2)
        |SELECT d1, d2, inter,
        |  ROUND(CAST(inter AS DOUBLE) / LEAST(z1.sz, z2.sz), 6) AS containment
        |FROM inter
        |JOIN sizes z1 ON z1.doc_id = d1
        |JOIN sizes z2 ON z2.doc_id = d2
        |WHERE CAST(inter AS DOUBLE) / LEAST(z1.sz, z2.sz) >= 0.7
        |ORDER BY containment DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin)

  /** Horner polynomial hash of a string column, base 131 mod 1e9+7 —
    * the engine-neutral replacement for dense_rank vocabulary ids
    * (§2.0.7). A pure per-row projection: no distinct, no global-sort
    * window, no vocab join — the id is computed where the row lives,
    * so the shape is identical at 5k docs and at 100 TB. Fold init 0
    * equals DuckDB list_reduce's first-element seed because
    * (0*131 + c1) % p == c1. Result < 1e9+7 keeps every downstream
    * affine map (a*sid + b, a <= 1.62e9) inside int64. */
  def polyHash(c: String): org.apache.spark.sql.Column =
    graft.api.Text.polyHash(c)

  /** DuckDB twin of [[polyHash]] — same fold, same integers. */
  def polyHashSql(c: String): String =
    s"list_reduce(list_transform(range(1, length($c)+1), " +
      s"i -> CAST(ascii(substring($c, i, 1)) AS BIGINT)), " +
      "(a, b) -> (a * 131 + b) % 1000000007)"

  /** 16 fixed affine permutation constants (perm, a, b), identical
    * literals on both engines. The multipliers MUST be large enough
    * that a*sid wraps mod p — with small a the map is monotone in sid,
    * every slot degenerates to the same min-shingle and the estimator
    * has the variance of ONE hash (found the hard way: Jaccard-0.99
    * pairs scored 0/16). a*sid stays < 2^63 up to ~5e9 vocabulary ids. */
  val permTable: Seq[(Int, Long, Long)] = Seq(
    (0, 1103515245L, 12345L), (1, 1234567891L, 911382323L),
    (2, 987654323L, 972663749L), (3, 805306457L, 429496751L),
    (4, 1610612741L, 858993463L), (5, 402653189L, 715827881L),
    (6, 201326611L, 145920007L), (7, 1479038593L, 104395303L),
    (8, 715827883L, 54018521L), (9, 1073807359L, 27644437L),
    (10, 536870923L, 13466917L), (11, 268435459L, 6700417L),
    (12, 134217757L, 3276509L), (13, 67108879L, 1594331L),
    (14, 33554467L, 786433L), (15, 16777259L, 433494437L))

  val permValuesSql: String =
    permTable.map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
}
