package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity / multimodal operators beyond the SURVEY §2.8 core:
  * blocked embedding near-dup, IVF-style ANN, and binary-column
  * multimodal plumbing with a stubbed decoder.
  *
  * Dot products are interpreted higher-order functions (round-2
  * decision): per-row they are ~6x slower than an unrolled 64-term
  * GetArrayItem tree, but the unrolled tree costs ~10 CPU-s of
  * driver-side Janino compile per distinct plan — which dominates a
  * run-once bench and starves a throttled driver. Both forms fold in
  * ascending index order, matching DuckDB's list functions
  * bit-for-bit.
  */
object ExtraVector extends graft.QueryModule {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("e", expr("transform(embedding, x -> cast(x AS double))"))

  /** Embedding near-dup pairs, BLOCKED by label (the blocked-dedup
    * shape: at 100 TB the block key comes from a coarse quantizer so
    * the pair space is per-block, never all-pairs global).
    *
    * The pair dot product is the native loop-codegen graft_dot
    * expression (VectorExprs, SURVEY §4.3) — small generated code
    * (no unrolled-tree Janino blowup), no per-element lambda dispatch.
    * Norms are still computed once per vector, never per pair. */
  def dedupEmbedCosine(s: SparkSession, dir: String): DataFrame = {
    val v = emb(s, dir).select(col("label"), col("vec_id"), col("e"))
      .withColumn("n", expr("sqrt(graft_dot(e, e))"))
    val a = v.select(col("label"), col("vec_id").as("d1"),
      col("e").as("e1"), col("n").as("n1"))
    val b = v.select(col("label"), col("vec_id").as("d2"),
      col("e").as("e2"), col("n").as("n2"))
    a.join(b, "label").where(col("d1") < col("d2"))
      .withColumn("cos", round(expr("graft_dot(e1, e2)") / (col("n1") * col("n2")), 6))
      .where(col("cos") >= 0.4)
      .select("label", "d1", "d2", "cos")
      .orderBy(col("cos").desc, col("d1").asc, col("d2").asc)
      .limit(100)
  }

  /** IVF-style ANN: coarse cells = per-label centroids (deterministic
    * quantizer), every vector assigned to its NEAREST cell, probes scan
    * the 3 nearest cells and re-rank exactly. NO oracle (approx by
    * design); ExtraSpec bounds recall vs q_sim_cosine_topk.
    *
    * Plan shape (round-2 rewrite; the round-1 version was the driver
    * bench's worst query at 128 s): the centroid table is tiny by
    * construction (k cells x d dims), so it is COLLECTED and re-emitted
    * as literal arrays — the standard k-means broadcast pattern. Cell
    * assignment and probe-cell choice then happen in ONE projection per
    * vector (array_sort over k (sim, cell) structs), replacing two
    * row_number windows over a vectors-x-cells cross join and ~6 copies
    * of a 64-term unrolled dot/norm expression tree (a codegen-compile
    * blowup). Distances use interpreted higher-order-function dots: at
    * candidate scale (probes x 3 cells x cell-size) that is millions of
    * fused multiply-adds, never a compile-time hazard; norms are
    * computed once per vector, never per pair. */
  /** Coarse-quantizer literal — the k×d per-label centroid table
    * collected and re-emitted as an array of (cell, centroid, norm)
    * structs (tiny by construction; the standard k-means broadcast
    * pattern). Shared by [[simAnnIvf]] and Pipeline29's combined
    * IVF-PQ index. */
  private[operators] def ivfCentroidsLit(s: SparkSession,
      dir: String): Column = {
    val centRows = emb(s, dir)
      .select(col("label"), posexplode(col("e")))
      .groupBy(col("label").cast("long").as("cell"), col("pos").as("dim"))
      .agg(avg(col("col")).as("c"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("pairs"))
      .select(col("cell"), expr("transform(pairs, p -> p.c)").as("ce"))
      .collect()
    array(centRows.map { r =>
      val ce = r.getSeq[Double](1)
      struct(lit(r.getLong(0)).as("cell"),
        array(ce.map(lit(_)): _*).as("ce"),
        lit(math.sqrt(ce.map(x => x * x).sum)).as("cn"))
    }.toIndexedSeq: _*)
  }

  /** The IVF cell ranking expression over a `cells` literal column —
    * per vector, cells sorted by cosine desc with cell tie-break
    * (shared by [[simAnnIvf]] and Pipeline29). */
  private[operators] val ivfRankedExpr: String =
    "array_sort(transform(cells, c -> struct(" +
      "graft_dot(e, c.ce) / (n * c.cn) AS s, c.cell AS cell)), " +
      "(l, r) -> CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1 " +
      "WHEN l.cell < r.cell THEN -1 WHEN l.cell > r.cell THEN 1 ELSE 0 END)"

  def simAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val dotHof = "graft_dot(%s, %s)"
    val normHof = "sqrt(graft_dot(%s, %s))"
    // 1) coarse quantizer: per-label mean vector (k x d doubles) ->
    //    driver -> literal array of (cell, centroid, norm) structs
    val centsLit = ivfCentroidsLit(s, dir)
    // 2) one pass per vector: norm + cells ranked by cosine (ties: cell)
    val ranked = emb(s, dir)
      .withColumn("n", expr(normHof.format("e", "e")))
      .withColumn("cells", centsLit)
      .withColumn("ranked", expr(ivfRankedExpr))
    val assigned = ranked
      .select(col("vec_id"), col("e"), col("n"),
        expr("ranked[0].cell").as("cell"))
    // 3) probes visit their 3 nearest cells; exact re-rank on candidates
    val probes = ranked.where(col("vec_id") <= 20)
      .select(col("vec_id").as("probe_id"), col("e").as("e1"),
        col("n").as("n1"),
        explode(expr("transform(slice(ranked, 1, 3), x -> x.cell)")).as("cell"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    assigned.join(broadcast(probes), "cell")
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        round(expr(dotHof.format("e1", "e")) / (col("n1") * col("n")), 6))
      .select("probe_id", "vec_id", "cos")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .orderBy("probe_id", "rn")
  }

  /** PRODUCT-QUANTIZATION ANN — the compressed-scan scale path next to
    * [[simAnnIvf]]'s cell-pruned one: 64 dims split into m=8
    * subspaces of 8; per subspace a small codebook (the per-label
    * subvector means — the same deterministic label quantizer IVF's
    * cells use, k=10 codes); every vector is ENCODED as 8 codes + its
    * exact norm (the stored representation: ~8 bytes + 1 float per
    * vector instead of 256 bytes — what makes a 100 TB corpus fit a
    * memory-speed scan). Probes score ALL vectors by ADC (asymmetric
    * distance: Σ_m probe_subvec · codebook[m][code_m], over the
    * stored codes only — the raw vector is never touched), shortlist
    * top-50 by approx cosine, then re-rank the shortlist EXACTLY.
    * NO oracle (approx by design); ExtraSpec bounds recall vs
    * q_sim_cosine_topk and pins the compression contract (codes in
    * [0, k), shortlist scored from codes alone).
    *
    * Plan shape: the codebook is tiny by construction (m x k x 8
    * doubles) -> COLLECTED and re-emitted as a literal (the IVF
    * centroid pattern); encode and ADC are each ONE projection using
    * interpreted HOF dots (no unrolled-tree Janino blowup); the
    * shortlist is a per-probe WindowGroupLimit top-50; only <= 50
    * candidates per probe ever read their raw vector again. */
  private[operators] val pqM = 8
  private[operators] val pqSub = 8

  /** PQ codebook literal — CB[sp][code] = 8-dim per-(label, subspace)
    * mean subvector, collected and re-emitted (the IVF centroid
    * pattern; codes are 0-based and dense: label domain is 0..9).
    * Shared by [[simAnnPq]] and Pipeline29's combined IVF-PQ index. */
  private[operators] def pqCodebookLit(s: SparkSession,
      dir: String): Column = {
    val (m, sub) = (pqM, pqSub)
    val cbRows = emb(s, dir)
      .select(col("label"), posexplode(col("e")))
      .groupBy(col("label").cast("long").as("code"),
        expr(s"pos div $sub").as("sp"), expr(s"pos % $sub").as("dim"))
      .agg(avg(col("col")).as("c"))
      .groupBy("sp", "code")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("ps"))
      .select(col("sp"), col("code"),
        expr("transform(ps, p -> p.c)").as("ce"))
      .collect()
    val codes = cbRows.map(r => (r.getLong(0), r.getLong(1))).distinct
    array((0 until m).map { sp =>
      val k = codes.count(_._1 == sp)
      array((0 until k).map { c =>
        val ce = cbRows.find(r => r.getLong(0) == sp && r.getLong(1) == c)
          .get.getSeq[Double](2)
        array(ce.map(lit(_)): _*)
      }: _*)
    }: _*)
  }

  /** PQ per-vector encode expression (codes argmin-L2 per subspace,
    * ties to the lower code) and the ADC scoring expression —
    * the single sources Pipeline29's combined index reuses. */
  private[operators] val pqDistsExpr: String = {
    val (m, sub) = (pqM, pqSub)
    s"""transform(sequence(0, ${m - 1}), sp ->
       |  transform(element_at(cb, sp + 1), cc -> round(
       |    aggregate(sequence(1, $sub), 0D, (acc, i) ->
       |      acc + (element_at(e, sp * $sub + i) - element_at(cc, i))
       |          * (element_at(e, sp * $sub + i) - element_at(cc, i))),
       |    9)))""".stripMargin
  }

  private[operators] val pqAdcExpr: String = {
    val (m, sub) = (pqM, pqSub)
    s"""aggregate(sequence(0, ${m - 1}), 0D, (acc, sp) ->
       |  acc + graft_dot(slice(pe, sp * $sub + 1, $sub),
       |    element_at(element_at(cb, sp + 1),
       |      cast(element_at(codes, sp + 1) + 1 as int))))""".stripMargin
  }

  def simAnnPq(s: SparkSession, dir: String): DataFrame = {
    val m = pqM
    val sub = pqSub
    // 1) codebook: per-(label, subspace) mean subvector, collected
    val cbLit = pqCodebookLit(s, dir)
    // 2) encode: per vector, per subspace, argmin L2 over the codebook
    //    (ties to the lower code) + exact norm — the stored PQ row
    // the per-(subspace, code) distance lists materialize in their own
    // projection: `dists` is referenced twice below (argmin position +
    // min value) and is not cheap, so CollapseProject keeps it computed
    // ONCE per vector rather than inlining two copies
    val enc = emb(s, dir)
      .withColumn("cb", cbLit)
      .withColumn("dists", expr(pqDistsExpr))
      .select(col("vec_id"), col("e"),
        expr("sqrt(graft_dot(e, e))").as("n"),
        expr("transform(dists, ds -> array_position(ds, array_min(ds)) - 1)")
          .as("codes"))
    val stored = enc.select(col("vec_id"), col("codes"), col("n"))
    // 3) ADC scan: probes score the stored codes only
    val probes = enc.where(col("vec_id") <= 20)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"),
        col("n").as("pn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = stored.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cb", cbLit)
      .withColumn("approx_cos",
        round(expr(pqAdcExpr) / (col("pn") * col("n")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 50)
      .select("probe_id", "pe", "pn", "vec_id")
    // 4) exact re-rank of the shortlist
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    shortlist.join(emb(s, dir).select(col("vec_id"), col("e"),
        expr("sqrt(graft_dot(e, e))").as("cn")), "vec_id")
      .withColumn("cos",
        round(expr("graft_dot(pe, e)") / (col("pn") * col("cn")), 6))
      .select("probe_id", "vec_id", "cos")
      .withColumn("rn", row_number().over(w2))
      .where(col("rn") <= 5)
      .orderBy("probe_id", "rn")
  }

  /** Multimodal binary plumbing: text payload as an opaque binary
    * column + typed metadata, "decoded" by a partition-batched stub.
    * The mapPartitions hook is where a real image/audio decoder would
    * run (per-partition batch shape, no driver collect); the stub
    * computes a deterministic byte checksum so the pipeline is
    * oracle-checkable end-to-end (ASCII corpus: bytes == ascii codes). */
  def multimodalBinary(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val payloads = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    val decoded = payloads.mapPartitions { it =>
      // decoder stub: real multimodal impl decodes the payload here
      it.map { case (id, bytes) =>
        val head = bytes.take(16).map(b => (b & 0xff).toLong).sum
        (id, bytes.length.toLong, head + bytes.length)
      }
    }.toDF("doc_id", "n_bytes", "feat")
    decoded
      .withColumn("mime", lit("text/plain"))
      .select("doc_id", "mime", "n_bytes", "feat")
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_embed_cosine" -> dedupEmbedCosine,
    "q_sim_ann_ivf" -> simAnnIvf,
    "q_sim_ann_pq" -> simAnnPq,
    "q_multimodal_binary" -> multimodalBinary)

  def oracleSql: Map[String, String] = Map(
    "q_dedup_embed_cosine" ->
      """WITH v AS (SELECT label, vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT label, d1, d2, cos FROM (
        |  SELECT a.label, a.vec_id AS d1, b.vec_id AS d2,
        |    ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.4
        |ORDER BY cos DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,
    "q_multimodal_binary" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN i <= 16 THEN ascii(substring(text, i, 1)) ELSE 0 END) AS BIGINT) AS head
        |  FROM (SELECT doc_id, text, unnest(range(1, strlen(text)+1)) AS i
        |        FROM documents)
        |  GROUP BY doc_id)
        |SELECT c.doc_id, 'text/plain' AS mime,
        |  CAST(strlen(d.text) AS BIGINT) AS n_bytes,
        |  CAST(c.head + strlen(d.text) AS BIGINT) AS feat
        |FROM ch c JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin)
}
