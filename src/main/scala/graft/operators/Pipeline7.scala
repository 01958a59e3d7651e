package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.20 round-8 additions: the OUTPUT leg of the corpus pipeline —
  * q_pipeline_corpus chains the gates (length → blocklist → repetition
  * → near-dup → decontaminate); this module chains what a training run
  * does NEXT with the survivors: temperature-rebalanced mixture quota →
  * leakage-safe train/val/test split → per-(split, shard) write-balance
  * report. Composition is where stage contracts actually break (a
  * survivor resurrected by a later join, a quota computed off the wrong
  * population, a split that re-hashes the doc instead of its cluster),
  * so the whole leg is ONE graded key with an exact DuckDB oracle.
  */
object Pipeline7 extends graft.QueryModule {

  /** Survivors → temperatureCap(600, by lang) → leakageSafeSplit (near-
    * dup cluster representative decides the split) → shard balance:
    * per (split, shard-of-8) row count, char weight, and weight share
    * ppm within the split (graft.api: Profile.pipelineSurvivors +
    * Sample.temperatureCap + Ml.leakageSafeSplit + the shardBalance
    * projection).
    *
    * 100 TB: every stage keeps the corpus un-collected — survivors
    * come from the STORED gated-corpus frame ([[survivors]], the
    * one-time materialization a production pipeline writes anyway),
    * the quota is a |langs|-row broadcast, the split is one equi-join
    * against the (small) cluster map, and the report is a
    * |splits×shards|-row agg. The quota window partitions by lang (the
    * natural shard); the final frame is what a writer would
    * partitionBy(split, shard). */
  /** Per-doc stage-membership map of the gate pipeline
    * (graft.api.Profile.pipelineStageMap: (doc_id, last_stage)),
    * STORED to parquet once per (session, sfDir) — THE pipeline
    * bookkeeping artifact: the chain executes once per session, and
    * both the graded report (q_pipeline_corpus, r9 — previously it
    * re-derived the chain in-query) and the survivor corpus below are
    * scans of this frame. Deterministic, so storing cannot change any
    * consumer's output. */
  private[graft] val stageMap = Store.files("pipeline_stage_map") { (s, dir, out) =>
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val train = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val probes = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val block = Seq("slow", "error").toDF("word")
    val sigs = Tables.read(s, TextOps.fullSigs(s, dir))
    graft.api.Profile.pipelineStageMap(train, "doc_id", "text",
        block, probes, TextOps.permTable,
        precomputedSigs = Some(sigs))
      .withColumnRenamed("id", "doc_id")
      .write.mode("overwrite").parquet(out)
  }

  /** Survivor corpus of the gate pipeline, STORED to parquet once per
    * (session, sfDir) — in production the gated corpus IS a
    * materialized artifact. Since r9 it derives from the stored stage
    * map (survivor = last_stage = 5, text re-attached by id join), so
    * the 5-stage chain runs once per session total. */
  private val survivors = Store.files("pipeline_survivors") { (s, dir, out) =>
    val keep = Tables.read(s, stageMap(s, dir))
      .where(col("last_stage") === 5L).select("doc_id")
    Tables.documents(s, dir).select("doc_id", "text")
      .join(keep, "doc_id")
      .write.mode("overwrite").parquet(out)
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(stageMap, survivors)

  def pipelineOutput(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val surv = Tables.read(s, survivors(s, dir))
    // survivors carry (doc_id, text); lang comes back via the id join
    val sv = surv.join(docs.select("doc_id", "lang"), "doc_id")
    val mixed = graft.api.Sample.temperatureCap(sv, "lang", "doc_id",
      total = 600L)
    // split by near-dup cluster representative — the STORED full-corpus
    // cluster map (TextOps.fullCc), so a near-dup of a kept doc
    // that arrives tomorrow lands in the same split
    val cc = Tables.read(s, TextOps.fullCc(s, dir))
    val assigned = graft.api.Ml.leakageSafeSplit(mixed, "doc_id", cc)
    val shards = assigned.select(col("split"),
        (pmod(col("doc_id") * lit(1103515245L) + lit(12345L),
          lit(1000000007L)) % 8).as("shard"),
        length(col("text")).cast("long").as("w"))
      .groupBy("split", "shard")
      .agg(count(lit(1)).as("n_rows"), sum("w").as("weight"))
    val tots = shards.groupBy("split").agg(sum("weight").as("tot_w"))
    shards.join(broadcast(tots), "split")
      .select(col("split"), col("shard"), col("n_rows"), col("weight"),
        // decimal(38,0) numerator (corpusStats rule): 1e6 * weight
        // overflows int64 past ~9.2e12 chars per shard
        expr("cast((1000000 * cast(weight as decimal(38,0)))" +
          " div tot_w as bigint)").as("share_ppm"))
      .orderBy("split", "shard")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_output" -> pipelineOutput)

  def oracleSql: Map[String, String] = Map(
    "q_pipeline_output" ->
      s"""WITH RECURSIVE
        |input AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |tok AS MATERIALIZED (SELECT doc_id, t AS token FROM
        |          (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t
        |           FROM input) WHERE t <> ''),
        |ntok AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
        |s1 AS MATERIALIZED (SELECT i.doc_id, i.text FROM input i JOIN ntok USING (doc_id)
        |       WHERE n_tok >= 25),
        |bl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_blocked FROM tok
        |       WHERE token IN ('slow', 'error')
        |         AND doc_id IN (SELECT doc_id FROM s1) GROUP BY doc_id),
        |s2 AS MATERIALIZED (SELECT s1.doc_id, s1.text FROM s1 LEFT JOIN bl USING (doc_id)
        |       WHERE COALESCE(n_blocked, 0) < 5),
        |rep AS MATERIALIZED (SELECT doc_id, SUM(c) AS n_tok, COUNT(*) AS nd_tok FROM
        |          (SELECT doc_id, token, COUNT(*) AS c FROM tok
        |           WHERE doc_id IN (SELECT doc_id FROM s2)
        |           GROUP BY doc_id, token) GROUP BY doc_id),
        |s3 AS MATERIALIZED (SELECT s2.doc_id, s2.text FROM s2 JOIN rep USING (doc_id)
        |       WHERE (1000000 * (n_tok - nd_tok)) // n_tok <= 650000),
        |sh3 AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
        |          [l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |           for i in range(1, len(l)-1)])) AS shingle
        |        FROM (SELECT doc_id, str_split(lower(text), ' ') AS l
        |              FROM s3) WHERE len(l) >= 3),
        |shid AS MATERIALIZED (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |         FROM sh3),
        |perms(perm, a, b) AS MATERIALIZED (VALUES ${TextOps.permValuesSql}),
        |sig AS MATERIALIZED (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM shid CROSS JOIN perms GROUP BY doc_id, perm),
        |pairs AS MATERIALIZED (SELECT x.doc_id AS d1, y.doc_id AS d2 FROM sig x
        |          JOIN sig y ON x.perm = y.perm AND x.minh = y.minh
        |            AND x.doc_id < y.doc_id
        |          GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |walk(node, label) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
        |  WHERE w.label < e.b),
        |cc AS MATERIALIZED (SELECT node AS doc_id, MIN(label) AS cid FROM walk
        |       GROUP BY node),
        |s4 AS MATERIALIZED (SELECT s3.doc_id, s3.text FROM s3 LEFT JOIN cc USING (doc_id)
        |       WHERE COALESCE(cid, doc_id) = doc_id),
        |g4 AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
        |         [array_to_string(l[i:i+7], ' ')
        |          for i in range(1, len(l)-6)])) AS gram
        |       FROM (SELECT doc_id, str_split(lower(text), ' ') AS l
        |             FROM s4) WHERE len(l) >= 8),
        |gp AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
        |         [array_to_string(l[i:i+7], ' ')
        |          for i in range(1, len(l)-6)])) AS gram
        |       FROM (SELECT doc_id, str_split(lower(text), ' ') AS l
        |             FROM documents WHERE doc_id % 7 = 0)
        |       WHERE len(l) >= 8),
        |cont AS MATERIALIZED (SELECT DISTINCT g4.doc_id FROM g4 JOIN gp USING (gram)),
        |sv AS MATERIALIZED (SELECT s4.doc_id, s4.text, d.lang
        |       FROM s4 JOIN documents d USING (doc_id)
        |       WHERE s4.doc_id NOT IN (SELECT doc_id FROM cont)),
        |shF AS MATERIALIZED (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |        FROM (${TextOps.shinglesSql})),
        |sigF AS MATERIALIZED (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |         FROM shF CROSS JOIN perms GROUP BY doc_id, perm),
        |pairsF AS MATERIALIZED (SELECT x.doc_id AS d1, y.doc_id AS d2 FROM sigF x
        |           JOIN sigF y ON x.perm = y.perm AND x.minh = y.minh
        |             AND x.doc_id < y.doc_id
        |           GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |edgesF AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairsF
        |           UNION ALL SELECT d2, d1 FROM pairsF),
        |walkF(node, label) AS (
        |  SELECT DISTINCT a, a FROM edgesF
        |  UNION
        |  SELECT e.b, w.label FROM walkF w JOIN edgesF e ON e.a = w.node
        |  WHERE w.label < e.b),
        |ccF AS MATERIALIZED (SELECT node AS doc_id, MIN(label) AS cid FROM walkF
        |        GROUP BY node),
        |ns AS MATERIALIZED (SELECT lang, COUNT(*) AS ns FROM sv GROUP BY lang),
        |ws AS MATERIALIZED (SELECT lang, ns, CAST(FLOOR(SQRT(ns)) AS BIGINT) AS wgt
        |       FROM ns),
        |sw AS MATERIALIZED (SELECT SUM(wgt) AS sum_w FROM ws),
        |ks AS MATERIALIZED (SELECT lang, LEAST(ns, (600 * wgt) // sum_w) AS ks
        |       FROM ws CROSS JOIN sw),
        |rk AS MATERIALIZED (SELECT sv.*, ROW_NUMBER() OVER (PARTITION BY lang
        |         ORDER BY (doc_id * 1103515245 + 12345) % 1000000007 ASC,
        |                  doc_id ASC) AS rn
        |       FROM sv),
        |mixed AS MATERIALIZED (SELECT rk.doc_id, rk.text FROM rk JOIN ks USING (lang)
        |          WHERE rn <= ks),
        |asg AS MATERIALIZED (SELECT m.doc_id, m.text,
        |          COALESCE(ccF.cid, m.doc_id) AS rep
        |        FROM mixed m LEFT JOIN ccF USING (doc_id)),
        |rows_ AS MATERIALIZED (SELECT
        |    CASE WHEN (rep * 1103515245 + 12345) % 1000000007 % 100 < 80
        |           THEN 'train'
        |         WHEN (rep * 1103515245 + 12345) % 1000000007 % 100 < 90
        |           THEN 'val'
        |         ELSE 'test' END AS split,
        |    (doc_id * 1103515245 + 12345) % 1000000007 % 8 AS shard,
        |    length(text) AS w
        |  FROM asg),
        |sh AS MATERIALIZED (SELECT split, shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(SUM(w) AS BIGINT) AS weight
        |       FROM rows_ GROUP BY split, shard),
        |tw AS MATERIALIZED (SELECT split, SUM(weight) AS tot_w FROM sh GROUP BY split)
        |SELECT sh.split, sh.shard, sh.n_rows, sh.weight,
        |  CAST((1000000 * CAST(sh.weight AS HUGEINT)) // tw.tot_w
        |    AS BIGINT) AS share_ppm
        |FROM sh JOIN tw USING (split)
        |ORDER BY sh.split, sh.shard""".stripMargin)
}
