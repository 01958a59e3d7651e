package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.64b round-14 batch 20 — evaluation-metric closers: the DeLong
  * AUC confidence interval (the uncertainty q_ml_auc's point
  * estimate lacks — placements are exact rank integers, so the CI is
  * deterministic) and corpus BLEU-2 over the stored near-dup
  * candidate pairs (the n-gram-precision text-similarity metric
  * every generation-eval harness runs, here grading the dedup
  * candidates' actual overlap).
  */
object Pipeline52 extends graft.QueryModule {

  /** DeLONG AUC CONFIDENCE INTERVAL — AUC with its standard error
    * from the DeLong placement variances: V10 (per positive, the
    * fraction of negatives ranked below, ties half) and V01 (per
    * negative, symmetric). Placements come from the banded score
    * cumsums in exact DOUBLED integer units (2·nN·V10 = 2·cum_neg +
    * ties_neg — all integers), so S10/S01 are exact integer moments
    * and the Wald CI renders in one dag. The uncertainty readout
    * q_ml_auc's point estimate can't give.
    *
    * 100 TB: one map-side-partial score agg; placements/variances on
    * the ≤16k-score domain frame. */
  def mlAucDelong(s: SparkSession, dir: String): DataFrame = {
    val g = Pipeline12.scored(s, dir).groupBy("score")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      .withColumn("sh", expr("score + 8192L"))
    val tot = g.agg(sum("np").as("n_pos"), sum("nn").as("n_neg"))
    // exclusive cumsums over the score order: below-counts
    graft.api.Dist.bandedCumSum(g, Seq(), "sh", bandWidth = 128L,
        sumCols = Seq("np", "nn"), inclusive = false)
      .crossJoin(broadcast(tot))
      // v10d = 2*nN*V10 per positive at this score; v01d = 2*nP*V01
      .select(col("np"), col("nn"), col("n_pos"), col("n_neg"),
        (lit(2L) * col("cum_nn") + col("nn")).as("v10d"),
        (lit(2L) * (col("n_pos") - col("cum_np") - col("np")) +
          col("np")).as("v01d"))
      .agg(max("n_pos").as("npos"), max("n_neg").as("nneg"),
        sum(expr("np * cast(v10d as decimal(38,0))")).as("s10_1"),
        sum(expr("np * cast(v10d as decimal(38,0)) * v10d")).as("s10_2"),
        sum(expr("nn * cast(v01d as decimal(38,0))")).as("s01_1"),
        sum(expr("nn * cast(v01d as decimal(38,0)) * v01d")).as("s01_2"))
      .selectExpr("npos", "nneg",
        // AUC = mean(V10) = s10_1 / (nP * 2nN)
        "cast(s10_1 as double) / npos / (2.0D * nneg) as auc",
        // var over positives of V10 (sample var, doubled units)
        "(cast(s10_2 as double) - cast(s10_1 as double) * s10_1 / npos)" +
          " / (npos - 1) / (4.0D * nneg * nneg) as v10",
        "(cast(s01_2 as double) - cast(s01_1 as double) * s01_1 / nneg)" +
          " / (nneg - 1) / (4.0D * npos * npos) as v01")
      .selectExpr("npos", "nneg", "round(auc, 6) as auc",
        "round(sqrt(v10 / npos + v01 / nneg), 6) as se",
        "round(auc - 1.959963984540054D * sqrt(v10 / npos + v01 / nneg)," +
          " 6) as ci_lo",
        "round(auc + 1.959963984540054D * sqrt(v10 / npos + v01 / nneg)," +
          " 6) as ci_hi")
  }

  /** CORPUS BLEU-2 over the stored ≥8-band near-dup candidate pairs —
    * modified (clipped) unigram/bigram precision of d1 against d2 +
    * the brevity penalty, the generation-eval metric applied to the
    * dedup shortlist (a high-BLEU candidate is a true near-dup; a
    * low-BLEU one shares shingles but not phrasing). All clipped
    * counts are exact integers off per-doc n-gram count joins; BP and
    * the geometric mean render once, rounded.
    *
    * 100 TB: n-gram counts are one tokenize pass; the clip joins are
    * (pair, gram) equi-joins bounded by the stored candidate list —
    * never all-pairs. */
  def textBleuPairs(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .localCheckpoint(true)
    // r16: only the candidate-pair docs' n-grams/lengths are ever
    // consumed — restrict the corpus BEFORE tokenizing/exploding
    // (broadcast semi-join on the tiny pair-doc set)
    val pairDocs = pairs
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
    val docToks = Tables.documents(s, dir)
      .join(broadcast(pairDocs), "doc_id")
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), x -> x <> '')").as("toks"))
    // n-grams assembled at the ARRAY level (one narrow pass per n) —
    // a token-frame self-join on (doc, ord+1) would re-shuffle the
    // exploded corpus just to look one element left
    def grams(n: Int): DataFrame =
      if (n == 1) docToks
        .select(col("doc_id"), explode(col("toks")).as("gram"))
      else docToks
        .select(col("doc_id"), explode(expr(
          "case when size(toks) < 2 then array()" +
            " else transform(sequence(1, size(toks) - 1)," +
            " i -> concat(toks[i - 1], ' ', toks[i])) end")).as("gram"))
    def clipped(n: Int, name: String): DataFrame = {
      val c = grams(n).groupBy("doc_id", "gram")
        .agg(count(lit(1)).as("c")).localCheckpoint(true)
      pairs
        .join(c.select(col("doc_id").as("d1"), col("gram"),
          col("c").as("ch")), Seq("d1"))
        .join(c.select(col("doc_id").as("d2"), col("gram"),
          col("c").as("cr")), Seq("d2", "gram"))
        .groupBy("d1", "d2")
        .agg(sum(expr("least(ch, cr)")).as(s"clip$name"))
    }
    val lens = docToks.select(col("doc_id"),
      expr("cast(size(toks) as bigint)").as("len"))
    pairs
      .join(lens.select(col("doc_id").as("d1"), col("len").as("c_len")),
        Seq("d1"))
      .join(lens.select(col("doc_id").as("d2"), col("len").as("r_len")),
        Seq("d2"))
      .join(clipped(1, "1"), Seq("d1", "d2"), "left")
      .join(clipped(2, "2"), Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"), col("c_len"), col("r_len"),
        coalesce(col("clip1"), lit(0L)).as("m1"),
        coalesce(col("clip2"), lit(0L)).as("m2"))
      .selectExpr("d1", "d2", "c_len", "r_len", "m1", "m2",
        "round(case when m1 = 0 or m2 = 0 then 0.0D else" +
          " least(1.0D, exp(1.0D - cast(r_len as double) / c_len))" +
          " * sqrt((m1 / cast(c_len as double))" +
          " * (m2 / cast(c_len - 1 as double))) end, 6) as bleu2")
      .orderBy("d1", "d2")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_auc_delong" -> mlAucDelong,
    "q_text_bleu_pairs" -> textBleuPairs)

  def oracleSql: Map[String, String] = Map(
    "q_ml_auc_delong" ->
      """WITH sc AS (
        |  SELECT (label >= 5) AS pos,
        |    CAST(list_sum(list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 127.0) AS BIGINT))) AS BIGINT) AS score
        |  FROM embeddings),
        |g AS (SELECT score,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY score),
        |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |    CAST(SUM(nn) AS BIGINT) AS n_neg FROM g),
        |cum AS (SELECT score, np, nn,
        |    CAST(COALESCE(SUM(np) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_np,
        |    CAST(COALESCE(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_nn
        |  FROM g),
        |v AS (SELECT np, nn, n_pos, n_neg,
        |    2 * cum_nn + nn AS v10d,
        |    2 * (n_pos - cum_np - np) + np AS v01d
        |  FROM cum CROSS JOIN tot),
        |mm AS (SELECT MAX(n_pos) AS npos, MAX(n_neg) AS nneg,
        |    SUM(np * CAST(v10d AS HUGEINT)) AS s10_1,
        |    SUM(np * CAST(v10d AS HUGEINT) * v10d) AS s10_2,
        |    SUM(nn * CAST(v01d AS HUGEINT)) AS s01_1,
        |    SUM(nn * CAST(v01d AS HUGEINT) * v01d) AS s01_2
        |  FROM v),
        |d AS (SELECT npos, nneg,
        |    CAST(s10_1 AS DOUBLE) / npos / (2.0 * nneg) AS auc,
        |    (CAST(s10_2 AS DOUBLE)
        |      - CAST(s10_1 AS DOUBLE) * s10_1 / npos)
        |      / (npos - 1) / (4.0 * nneg * nneg) AS v10,
        |    (CAST(s01_2 AS DOUBLE)
        |      - CAST(s01_1 AS DOUBLE) * s01_1 / nneg)
        |      / (nneg - 1) / (4.0 * npos * npos) AS v01
        |  FROM mm)
        |SELECT npos, nneg, ROUND(auc, 6) AS auc,
        |  ROUND(sqrt(v10 / npos + v01 / nneg), 6) AS se,
        |  ROUND(auc - 1.959963984540054 * sqrt(v10 / npos + v01 / nneg),
        |    6) AS ci_lo,
        |  ROUND(auc + 1.959963984540054 * sqrt(v10 / npos + v01 / nneg),
        |    6) AS ci_hi
        |FROM d""".stripMargin,
    "q_text_bleu_pairs" -> (Pipeline23.pairsHead + ",\n" +
      """toks AS (SELECT doc_id, s AS ord, tokens[s] AS token
        |  FROM (SELECT doc_id, tokens,
        |        unnest(range(1, len(tokens)+1)) AS s
        |      FROM (SELECT doc_id, str_split(lower(text), ' ') AS tokens
        |            FROM documents))
        |  WHERE tokens[s] <> ''),
        |g1 AS (SELECT doc_id, token AS gram,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, gram),
        |g2 AS (SELECT a.doc_id, a.token || ' ' || b.token AS gram,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
        |    AND a.ord + 1 = b.ord
        |  GROUP BY a.doc_id, gram),
        |lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM toks GROUP BY doc_id),
        |c1 AS (SELECT p.d1, p.d2,
        |    CAST(SUM(least(h.c, r.c)) AS BIGINT) AS m1
        |  FROM pairs p JOIN g1 h ON h.doc_id = p.d1
        |  JOIN g1 r ON r.doc_id = p.d2 AND r.gram = h.gram
        |  GROUP BY p.d1, p.d2),
        |c2 AS (SELECT p.d1, p.d2,
        |    CAST(SUM(least(h.c, r.c)) AS BIGINT) AS m2
        |  FROM pairs p JOIN g2 h ON h.doc_id = p.d1
        |  JOIN g2 r ON r.doc_id = p.d2 AND r.gram = h.gram
        |  GROUP BY p.d1, p.d2),
        |f AS (SELECT p.d1, p.d2, lc.len AS c_len, lr.len AS r_len,
        |    COALESCE(c1.m1, 0) AS m1, COALESCE(c2.m2, 0) AS m2
        |  FROM pairs p
        |  JOIN lens lc ON lc.doc_id = p.d1
        |  JOIN lens lr ON lr.doc_id = p.d2
        |  LEFT JOIN c1 ON c1.d1 = p.d1 AND c1.d2 = p.d2
        |  LEFT JOIN c2 ON c2.d1 = p.d1 AND c2.d2 = p.d2)
        |SELECT d1, d2, c_len, r_len,
        |  CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2,
        |  ROUND(CASE WHEN m1 = 0 OR m2 = 0 THEN 0.0 ELSE
        |    least(1.0, exp(1.0 - CAST(r_len AS DOUBLE) / c_len))
        |    * sqrt((m1 / CAST(c_len AS DOUBLE))
        |    * (m2 / CAST(c_len - 1 AS DOUBLE))) END, 6) AS bleu2
        |FROM f ORDER BY d1, d2""".stripMargin))
}
