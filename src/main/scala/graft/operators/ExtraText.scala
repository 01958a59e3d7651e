package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data-pipeline text analysis beyond the SURVEY §2.8 core:
  * language-ID, quality scoring, BPE-ish token counting, document
  * fingerprinting, SimHash bucketing, word-4-gram Jaccard.
  *
  * All operators are explode/join/agg shapes (scale like the §2.8
  * core); every hash is arithmetic (§2.0.7) so the DuckDB oracle
  * computes identical integers.
  */
object ExtraText extends graft.QueryModule {

  /** Stop-list-overlap language ID (n-gram/stopword heuristic). The
    * fixture corpus is ASCII data-engineering words for every lang
    * label, so the interesting part is the OPERATOR (per-language
    * lexicon join + argmax with deterministic tie order), not accuracy. */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val lex = s.createDataFrame(Seq(
      ("en", "the"), ("en", "and"), ("en", "of"), ("en", "to"), ("en", "in"),
      ("es", "el"), ("es", "la"), ("es", "de"), ("es", "que"), ("es", "y"),
      ("fr", "le"), ("fr", "la"), ("fr", "de"), ("fr", "et"), ("fr", "les"),
      ("de", "der"), ("de", "die"), ("de", "und"), ("de", "das"), ("de", "ist"),
      ("zh", "de"), ("zh", "shi"), ("zh", "zai"), ("zh", "le"), ("zh", "he")))
      .toDF("cand", "token")
    val hits = TextOps.tokens(s, dir).join(broadcast(lex), "token")
      .groupBy("doc_id")
      .agg(
        sum(when(col("cand") === "en", 1).otherwise(0)).as("en_hits"),
        sum(when(col("cand") === "de", 1).otherwise(0)).as("de_hits"),
        sum(when(col("cand") === "es", 1).otherwise(0)).as("es_hits"),
        sum(when(col("cand") === "fr", 1).otherwise(0)).as("fr_hits"),
        sum(when(col("cand") === "zh", 1).otherwise(0)).as("zh_hits"))
    Tables.documents(s, dir).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L)
      .withColumn("pred",
        when(col("en_hits") === 0 && col("de_hits") === 0 &&
          col("es_hits") === 0 && col("fr_hits") === 0 &&
          col("zh_hits") === 0, "und")
          .when(col("en_hits") >= greatest(col("de_hits"), col("es_hits"),
            col("fr_hits"), col("zh_hits")), "en")
          .when(col("de_hits") >= greatest(col("es_hits"), col("fr_hits"),
            col("zh_hits")), "de")
          .when(col("es_hits") >= greatest(col("fr_hits"), col("zh_hits")), "es")
          .when(col("fr_hits") >= col("zh_hits"), "fr")
          .otherwise("zh"))
      .orderBy("doc_id")
  }

  /** Heuristic quality score: length cap x non-stopword mass x lexical
    * diversity — the filters an LLM-corpus pipeline runs per document. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    // ratios as EXACT parts-per-million via integer division (operands
    // positive, so Spark `div` == DuckDB `//`): rounding a computed
    // double ratio hits exact-half boundaries where the engines round
    // differently — quality diverged by 1 ulp at sf0.1 (§2.0.2).
    graft.api.Text.qualityScore(TextOps.tokens(s, dir), "doc_id", "token", 10)
      .orderBy("doc_id")

  /** Token counting three ways: whitespace split, BPE-ish regex pieces,
    * and a ceil(len/4) subword estimate. */
  def textTokensBpe(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", expr("filter(split(text, '\\\\s+'), x -> x <> '')"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .cast("long").as("re_tokens"),
        expr("aggregate(toks, 0L, (a, x) -> a + ((length(x) + 3) div 4))")
          .as("bpe_est"))
      .orderBy("doc_id")

  private val P = 1000000007L
  private val B = 131L
  /** B^i mod P for i in 0..31, shared literal on both engines. */
  val powTable: IndexedSeq[Long] =
    (0 until 32).scanLeft(1L)((acc, _) => acc * B % P).take(32).toIndexedSeq
  private val powValuesSql =
    powTable.zipWithIndex.map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")

  /** Document fingerprinting: Karp-Rabin polynomial hash over the first
    * 32 chars (rolling-hash family) + a position-weighted full-text sum
    * hash. Pure int64 arithmetic -> identical across engines.
    *
    * r17 (guide §4, §2.3): both hashes are pure per-document functions
    * of the text, so the [[graft.functions.Fingerprint]] kernel
    * computes them in ONE map-side pass per doc — the old exploded
    * form materialized one row PER CHARACTER, scanned that frame
    * twice (prefix agg + full agg), broadcast-joined the power table
    * and hash-joined the halves back. Bit-identical longs
    * (TextExprsSpec pins the kernel against the exploded reference);
    * the null filter keeps the old inner-join semantics (empty/null
    * text emits no char rows, so the doc drops out). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), expr("graft_fingerprint(text)").as("f"))
      .where(col("f").isNotNull)
      .select(col("doc_id"), col("f.fp_prefix").as("fp_prefix"),
        col("f.fp_full").as("fp_full"))
      .orderBy("doc_id")
  }

  /** SimHash (16-bit) over tf-weighted token hashes; docs sharing a
    * simhash form near-dup buckets. Emits buckets with >= 2 docs —
    * bounded output at any scale (pair listing is the downstream step).
    * Token ids are the per-char polynomial hash (TextOps.polyHash) — a
    * pure projection; round 2's dense_rank vocabulary was a
    * SinglePartition sort of the whole vocabulary. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val tf = TextOps.tokens(s, dir)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val sig = graft.api.Dedup.simhash(tf, "doc_id", "token", "tf", bits = 16)
    sig.groupBy("simhash")
      .agg(count(lit(1)).as("bucket_size"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .where(col("bucket_size") >= 2)
      .orderBy(col("bucket_size").desc, col("simhash").asc)
  }

  /** Word-4-gram Jaccard near-dup pairs — a sparser feature than the
    * §2.8 3-shingles (31^4 possible grams): only true near-dups share
    * mass, so the shingle equi-join stays tiny even at 100 TB. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint (eager): the gram frame feeds THREE consumers
    // (sizes + both self-join sides) — without it the explode executes
    // once per branch (measured ~11 CPU-s at sf0.1, vs ~4 with one
    // materialized pass). Same leak-free pattern as dedupJaccard /
    // connectedComponents; ContextCleaner frees the checkpoint RDD.
    val g = Tables.documents(s, dir)
      .withColumn("l", graft.api.Text.words("text"))
      .where(size(col("l")) >= 4)
      .select(col("doc_id"),
        explode(graft.api.Dedup.shingleArray("l", 4)).as("gram"))
      .localCheckpoint(true)
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // plain equi-join here, NOT the group-then-pair shape used by
    // TextOps.dedupJaccard: 4-grams are ~90% singletons (sparse 31^4
    // feature space), so a posting-list build materializes ~700k tiny
    // lists for nothing, while the hash join drops singletons in the
    // probe. Measured 3.7 vs 20 CPU-s at sf0.1.
    val inter = g.select(col("doc_id").as("d1"), col("gram"))
      .join(g.select(col("doc_id").as("d2"), col("gram")), "gram")
      .where(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter")), 6))
      .where(col("jaccard") >= 0.6)
      .select("d1", "d2", "inter", "jaccard")
      .orderBy(col("jaccard").desc, col("d1").asc, col("d2").asc)
      .limit(100)
  }

  /** Benchmark decontamination (graft.api.Dedup.contamination): the
    * probe/benchmark set (fixture binding: doc_id ≡ 0 mod 7, ~14%)
    * checked for exact 8-gram leakage into the training split (the
    * rest). 8 words per gram: accidental overlap between independent
    * docs is ~impossible, so every hit is a genuine leak — the hygiene
    * pass a pre-training pipeline runs against its eval suites. The
    * probe side is tiny, so the gram join is a broadcast; the train
    * corpus streams through one explode+join scan. */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def grams(side: DataFrame) =
      graft.api.Text.shingles(side, "doc_id", "text", 8)
        .withColumnRenamed("shingle", "gram")
    val probes = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val train = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    graft.api.Dedup.contamination(grams(train), grams(probes), "doc_id")
      .select(col("train_id"), col("probe_id"), col("shared_grams"))
      .orderBy(col("shared_grams").desc, col("train_id").asc,
        col("probe_id").asc)
      .limit(100)
  }

  /** Corpus vocabulary table with dense ids — the tokenizer-building
    * step of a training pipeline: token -> corpus count, id = rank by
    * (count desc, token asc), truncated to the top 1000. Scale shape:
    * the global ranking problem is solved DISTRIBUTED by the count agg
    * + TakeOrdered(1000) (never a full sort); the id-assigning window
    * runs over at most 1000 surviving rows, so its single partition is
    * bounded by the vocab cap, not the corpus. */
  def textVocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = graft.api.Text
      .tokens(Tables.documents(s, dir), "doc_id", "text")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(1000)
    top.withColumn("vocab_id", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)))
      .select(col("vocab_id").cast("long").as("vocab_id"),
        col("token"), col("cnt"))
      .orderBy("vocab_id")
  }

  /** Token-id encoding (the tokenized-export step): every token of
    * every doc mapped to its [[textVocab]] id, keeping the token's
    * 1-based position — the (doc_id, ord, vocab_id) triples a training
    * exporter packs into id sequences. OOV tokens (outside the top-1000
    * vocab) get id 0. Scale shape: the vocab is <=1000 rows by
    * construction, so the id assignment is a broadcast join onto the
    * token projection — per-row work, no shuffle of the token stream. */
  def textTokenIds(s: SparkSession, dir: String): DataFrame = {
    val vocab = textVocab(s, dir).select("token", "vocab_id")
    graft.api.Text.tokens(Tables.documents(s, dir), "doc_id", "text")
      .join(broadcast(vocab), Seq("token"), "left")
      .na.fill(0L, Seq("vocab_id"))
      .select(col("doc_id"), col("ord"), col("token"), col("vocab_id"))
      .orderBy("doc_id", "ord")
  }

  /** Gopher-style repetition ratios per document — the repetition
    * family of LLM-corpus quality filters: duplicate-token fraction
    * (1 - distinct/total), most-frequent-token fraction, and
    * duplicate-2-gram fraction, all as EXACT parts-per-million via
    * integer division (§2.0.2: rounding computed doubles diverges
    * between engines at exact-half boundaries). Two explode+agg
    * passes (unigrams, 2-grams) joined on doc_id — per-doc work, no
    * cross-doc shuffle beyond the doc_id agg, so it scales like every
    * other per-document text operator. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val uni = graft.api.Text.tokens(docs, "doc_id", "text")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tok"),
        count(lit(1)).as("nd_tok"),
        max(col("c")).as("top_c"))
    val bi = docs
      .withColumn("l", graft.api.Text.tokenArray("text"))
      .select(col("doc_id"), explode(graft.api.Text.ngrams("l", 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c2"))
      .groupBy("doc_id")
      .agg(sum(col("c2")).as("n_bi"), count(lit(1)).as("nd_bi"))
    uni.join(bi, "doc_id")
      .select(col("doc_id"), col("n_tok"),
        expr("(1000000 * (n_tok - nd_tok)) div n_tok").as("dup_token_ppm"),
        expr("(1000000 * top_c) div n_tok").as("top_token_ppm"),
        expr("(1000000 * (n_bi - nd_bi)) div n_bi").as("dup_2gram_ppm"))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_vocab" -> textVocab,
    "q_text_token_ids" -> textTokenIds,
    "q_text_repetition" -> textRepetition,
    "q_text_decontaminate" -> textDecontaminate,
    "q_text_langid" -> textLangid,
    "q_text_quality" -> textQuality,
    "q_text_tokens_bpe" -> textTokensBpe,
    "q_text_fingerprint" -> textFingerprint,
    "q_dedup_simhash" -> dedupSimhash,
    "q_dedup_ngram_jaccard" -> dedupNgramJaccard)

  private[operators] val tokensSql =
    """SELECT doc_id, tokens[s] AS token
      |FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens)+1)) AS s
      |      FROM (SELECT doc_id, str_split(lower(text), ' ') AS tokens FROM documents))
      |WHERE tokens[s] <> ''""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_text_vocab" ->
      s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT)
        |    AS vocab_id, token, cnt
        |FROM (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ($tokensSql) GROUP BY token
        |  ORDER BY cnt DESC, token ASC LIMIT 1000)
        |ORDER BY vocab_id""".stripMargin,
    "q_text_token_ids" ->
      """WITH tok AS (
        |  SELECT doc_id, CAST(s AS BIGINT) AS ord, tokens[s] AS token
        |  FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens)+1)) AS s
        |        FROM (SELECT doc_id, str_split(lower(text), ' ') AS tokens
        |              FROM documents))
        |  WHERE tokens[s] <> ''),
        |vocab AS (
        |  SELECT token, CAST(ROW_NUMBER() OVER
        |      (ORDER BY cnt DESC, token ASC) AS BIGINT) AS vocab_id
        |  FROM (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
        |        ORDER BY cnt DESC, token ASC LIMIT 1000))
        |SELECT t.doc_id, t.ord, t.token, COALESCE(v.vocab_id, 0) AS vocab_id
        |FROM tok t LEFT JOIN vocab v USING (token)
        |ORDER BY doc_id, ord""".stripMargin,
    "q_text_repetition" ->
      s"""WITH uni AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS nd_tok, CAST(MAX(c) AS BIGINT) AS top_c
        |  FROM (SELECT doc_id, token, COUNT(*) AS c
        |        FROM ($tokensSql) GROUP BY doc_id, token)
        |  GROUP BY doc_id),
        |bi AS (
        |  SELECT doc_id, CAST(SUM(c2) AS BIGINT) AS n_bi,
        |    CAST(COUNT(*) AS BIGINT) AS nd_bi
        |  FROM (
        |    SELECT doc_id, g, COUNT(*) AS c2
        |    FROM (
        |      SELECT doc_id, l[s] || ' ' || l[s+1] AS g
        |      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS s
        |            FROM (SELECT doc_id,
        |                    list_filter(str_split(lower(text), ' '),
        |                                x -> x <> '') AS l
        |                  FROM documents))
        |      WHERE len(l) >= 2)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT uni.doc_id AS doc_id, n_tok,
        |  (1000000 * (n_tok - nd_tok)) // n_tok AS dup_token_ppm,
        |  (1000000 * top_c) // n_tok AS top_token_ppm,
        |  (1000000 * (n_bi - nd_bi)) // n_bi AS dup_2gram_ppm
        |FROM uni JOIN bi ON uni.doc_id = bi.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_text_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
        |     l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7]
        |     for i in range(1, len(l)-6)])) AS gram
        |  FROM (SELECT doc_id, str_split(lower(text), ' ') AS l FROM documents)
        |  WHERE len(l) >= 8)
        |SELECT t.doc_id AS train_id, p.doc_id AS probe_id,
        |  COUNT(*) AS shared_grams
        |FROM g t JOIN g p ON t.gram = p.gram
        |WHERE t.doc_id % 7 <> 0 AND p.doc_id % 7 = 0
        |GROUP BY train_id, probe_id
        |ORDER BY shared_grams DESC, train_id ASC, probe_id ASC
        |LIMIT 100""".stripMargin,
    "q_text_langid" ->
      s"""WITH tok AS ($tokensSql),
        |lex(cand, token) AS (VALUES
        |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
        |  ('es','el'),('es','la'),('es','de'),('es','que'),('es','y'),
        |  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),('fr','les'),
        |  ('de','der'),('de','die'),('de','und'),('de','das'),('de','ist'),
        |  ('zh','de'),('zh','shi'),('zh','zai'),('zh','le'),('zh','he')),
        |hits AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN cand='en' THEN 1 ELSE 0 END) AS en_hits,
        |    SUM(CASE WHEN cand='de' THEN 1 ELSE 0 END) AS de_hits,
        |    SUM(CASE WHEN cand='es' THEN 1 ELSE 0 END) AS es_hits,
        |    SUM(CASE WHEN cand='fr' THEN 1 ELSE 0 END) AS fr_hits,
        |    SUM(CASE WHEN cand='zh' THEN 1 ELSE 0 END) AS zh_hits
        |  FROM tok JOIN lex USING (token) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(en_hits, 0) AS BIGINT) AS en_hits,
        |  CAST(COALESCE(de_hits, 0) AS BIGINT) AS de_hits,
        |  CAST(COALESCE(es_hits, 0) AS BIGINT) AS es_hits,
        |  CAST(COALESCE(fr_hits, 0) AS BIGINT) AS fr_hits,
        |  CAST(COALESCE(zh_hits, 0) AS BIGINT) AS zh_hits,
        |  CASE
        |    WHEN COALESCE(en_hits,0)=0 AND COALESCE(de_hits,0)=0
        |     AND COALESCE(es_hits,0)=0 AND COALESCE(fr_hits,0)=0
        |     AND COALESCE(zh_hits,0)=0 THEN 'und'
        |    WHEN COALESCE(en_hits,0) >= GREATEST(COALESCE(de_hits,0),
        |      COALESCE(es_hits,0), COALESCE(fr_hits,0), COALESCE(zh_hits,0)) THEN 'en'
        |    WHEN COALESCE(de_hits,0) >= GREATEST(COALESCE(es_hits,0),
        |      COALESCE(fr_hits,0), COALESCE(zh_hits,0)) THEN 'de'
        |    WHEN COALESCE(es_hits,0) >= GREATEST(COALESCE(fr_hits,0),
        |      COALESCE(zh_hits,0)) THEN 'es'
        |    WHEN COALESCE(fr_hits,0) >= COALESCE(zh_hits,0) THEN 'fr'
        |    ELSE 'zh' END AS pred
        |FROM documents d LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH tok AS ($tokensSql),
        |stop AS (SELECT token FROM (
        |  SELECT token, count(*) AS c FROM tok GROUP BY token
        |  ORDER BY c DESC, token ASC LIMIT 10)),
        |pd AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |         COUNT(DISTINCT token) AS n_distinct FROM tok GROUP BY doc_id),
        |sh AS (SELECT doc_id, COUNT(*) AS stop_hits FROM tok
        |       WHERE token IN (SELECT token FROM stop) GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  (1000000 * COALESCE(stop_hits, 0)) // n_tokens AS stop_ppm,
        |  (1000000 * n_distinct) // n_tokens AS uniq_ppm,
        |  (1000000 * LEAST(n_tokens, 100) * (n_tokens - COALESCE(stop_hits, 0)) * n_distinct)
        |    // (100 * n_tokens * n_tokens) AS quality_ppm
        |FROM pd LEFT JOIN sh USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens,
        |  CAST(list_sum(list_transform(
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
        |    x -> (length(x) + 3) // 4)) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      s"""WITH chars AS (
        |  SELECT doc_id, i, CAST(ascii(substring(text, i, 1)) AS BIGINT) AS code
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i
        |        FROM documents)),
        |pw(i, pw) AS (VALUES $powValuesSql),
        |kr AS (SELECT doc_id, CAST(SUM(code * pw.pw) % 1000000007 AS BIGINT) AS fp_prefix
        |       FROM chars JOIN pw USING (i) WHERE chars.i <= 32 GROUP BY doc_id),
        |fl AS (SELECT doc_id, CAST(SUM(code * ((i % 64) + 1)) % 1000000007 AS BIGINT) AS fp_full
        |       FROM chars GROUP BY doc_id)
        |SELECT doc_id, fp_prefix, fp_full FROM kr JOIN fl USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" -> {
      val bitSumsSql = (0 until 16).map { j =>
        s"SUM(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN tf ELSE -tf END) AS s$j"
      }.mkString(",\n        |    ")
      val simhashSql = (0 until 16).map { j =>
        s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH tok AS ($tokensSql),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |hashed AS (SELECT doc_id, tf,
        |             (1103515245 * ${TextOps.polyHashSql("token")} + 12345) % 2147483647 AS h
        |           FROM tf),
        |bits AS (SELECT doc_id,
        |    $bitSumsSql
        |  FROM hashed GROUP BY doc_id),
        |sig AS (SELECT doc_id, $simhashSql AS simhash FROM bits)
        |SELECT simhash, COUNT(*) AS bucket_size,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM sig GROUP BY simhash HAVING COUNT(*) >= 2
        |ORDER BY bucket_size DESC, simhash ASC""".stripMargin
    },
    "q_dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
        |     for i in range(1, len(l)-2)])) AS gram
        |  FROM (SELECT doc_id, str_split(lower(text), ' ') AS l FROM documents)
        |  WHERE len(l) >= 4),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY d1, d2)
        |SELECT d1, d2, inter,
        |  ROUND(CAST(inter AS DOUBLE) / (z1.sz + z2.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes z1 ON z1.doc_id = d1
        |JOIN sizes z2 ON z2.doc_id = d2
        |WHERE CAST(inter AS DOUBLE) / (z1.sz + z2.sz - inter) >= 0.6
        |ORDER BY jaccard DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin)
}
