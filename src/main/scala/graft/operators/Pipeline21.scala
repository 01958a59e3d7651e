package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.34 round-11 batch — the helper-library operability closers from
  * VERDICT r10's missing list: the feature-prep assembler as a graded
  * oracle key, PrefixSpan sequence mining (the sequential sibling of
  * q_ml_freq_itemsets), the FULL-Pipeline persistence round-trip
  * (save/load of the composed scaler->LR PipelineModel, not just a
  * bare model), and the model-registry metadata readout that makes
  * the memoized wrapper family queryable — plus the family-closer
  * batch: Normalizer+Binarizer and PolynomialExpansion (the last
  * pure-projection feature transformers, both oracle-exact),
  * PowerIterationClustering over an LSH candidate graph (the spectral
  * clustering family), and hub-safe exact triangle counting over the
  * stored near-dup candidate graph.
  */
object Pipeline21 extends graft.QueryModule {

  /** FEATURE ASSEMBLER (spark.ml VectorAssembler — the single
    * most-used MLlib prep call: glue N numeric columns into one
    * feature vector): [c_acctbal, c_nationkey, length(c_name)] per
    * customer, through the REAL VectorAssembler transformer, rendered
    * per §2.0.8 discipline (vector_to_array -> exact centi-scaled
    * bigints, comma-joined — acctbal is a raw 2-dp column so x*100
    * rounds exactly on both engines). Deterministic projection —
    * fully oracle-checkable, unlike the seeded fits downstream of it.
    *
    * 100 TB: pure narrow projection, no shuffle, no fit. */
  def mlFeatureAssemble(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.functions.vector_to_array
    val base = Tables.customer(s, dir).select(col("c_custkey"),
      col("c_acctbal"),
      col("c_nationkey").cast("double").as("nat"),
      length(col("c_name")).cast("double").as("name_len"))
    val asm = new VectorAssembler()
      .setInputCols(Array("c_acctbal", "nat", "name_len"))
      .setOutputCol("f")
    val arr = vector_to_array(col("f"), "float64")
    asm.transform(base)
      .select(col("c_custkey"),
        array_join(transform(arr,
          x => round(x * 100).cast("long").cast("string")), ",")
          .as("features"),
        size(arr).cast("long").as("n_features"))
      .orderBy("c_custkey")
  }

  /** PREFIXSPAN sequence mining (spark.ml PrefixSpan — the
    * sequential-pattern sibling of q_ml_freq_itemsets' FPGrowth):
    * per-user event-type sequences ordered by (ts, event_id),
    * patterns up to length 2 at minSupport 0.5. Support of <a,b> =
    * #users with an occurrence of a strictly before an occurrence of
    * b — with singleton itemsets that is exactly a before/after
    * self-join, so length<=2 patterns are EXACTLY oracle-checkable
    * (both engines evaluate the identical ceil(0.5 * n_users)
    * threshold the way the FPGrowth oracle does).
    *
    * 100 TB: the sequence build is one groupBy-collect (the shape any
    * PrefixSpan run needs); mining distributes over projected
    * databases with suffix-locality, the same PFP-style scale story
    * as FPGrowth — state per task is the local projected DB, never
    * the corpus. */
  def mlPrefixspan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.fpm.PrefixSpan
    val seqs = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("event_type")))).as("ord"))
      .select(expr("transform(ord, x -> array(x.event_type))")
        .as("sequence"))
    new PrefixSpan().setMinSupport(0.5).setMaxPatternLength(2)
      .setSequenceCol("sequence")
      .findFrequentSequentialPatterns(seqs)
      .select(
        expr("array_join(transform(sequence, x -> x[0]), '>')")
          .as("pattern"),
        size(col("sequence")).cast("long").as("plen"),
        col("freq"))
      .orderBy("plen", "pattern")
  }

  /** FULL-PIPELINE PERSISTENCE round-trip (VERDICT r10 missing #1):
    * save the composed Pipeline(StandardScaler -> LogisticRegression)
    * model — the shared memoized fit behind q_ml_pipeline_scaler_lr —
    * with the native ML writer, load it back as a PipelineModel, and
    * emit per-predicted-class sizes with an exact-agreement flag of
    * reloaded vs original predictions on every vector. Unconditional
    * overwrite save (O(d) scaler stats + O(d*k) LR weights), the same
    * self-healing discipline as q_ml_model_persist. NO oracle (the
    * predictions are the seeded fit's); Pipeline21Spec pins
    * reloaded == original on every vector.
    *
    * 100 TB: model files are size-independent of the corpus; only the
    * two transforms touch rows. */
  def mlPipelinePersist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.PipelineModel
    val path = Store.path(s, "models/" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString +
      "/scaler_lr")
    val orig = VectorOps.scalerLrModel(s, dir)
    orig.write.overwrite().save(path)
    val reloaded = PipelineModel.load(path)
    val feats = VectorOps.lrFeats(s, dir)
    val a = orig.transform(feats)
      .select(col("vec_id"), col("prediction").cast("long").as("p_orig"))
    val b = reloaded.transform(feats)
      .select(col("vec_id"), col("prediction").cast("long").as("p_re"))
    a.join(b, "vec_id")
      .groupBy(col("p_re").as("pred_class"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p_orig") === col("p_re"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("pred_class"), col("n"),
        (col("n") === col("n_agree")).as("reload_exact"))
      .orderBy("pred_class")
  }

  /** MODEL-REGISTRY METADATA readout (VERDICT r10 missing #4): the
    * params + deterministic train metrics of the three memoized
    * seeded fits (KMeans target, RandomForest, scaler->LR pipeline)
    * as one queryable (model, item, value) frame — the registry
    * surface that turns the wrapper family into an operable helper
    * library. Every value is deterministic across refits (seeded
    * fits, fixed caps): params echo the builder settings, metrics are
    * structural (node/class/feature counts) or the seeded KMeans
    * training cost in milli. NO oracle (model internals);
    * Pipeline21Spec pins determinism and the expected key set.
    *
    * 100 TB: driver-side readout of already-memoized fits — O(1)
    * rows, no row-scale work beyond the one-time shared fits. */
  def mlModelMetadata(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val km = VectorOps.kmeansTarget(s, dir)
    val rf = Pipeline10.rfModel(s, dir)
    val pl = VectorOps.scalerLrModel(s, dir)
    val lr = pl.stages(1)
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val kmCost =
      if (km.hasSummary) math.rint(km.summary.trainingCost * 1000).toLong
      else -1L
    val rows = Seq(
      ("kmeans_target", "k", km.getK.toString),
      ("kmeans_target", "seed", km.getSeed.toString),
      ("kmeans_target", "max_iter", km.getMaxIter.toString),
      ("kmeans_target", "num_features", km.clusterCenters.head.size.toString),
      ("kmeans_target", "training_cost_milli", kmCost.toString),
      ("rf_eval", "num_trees", rf.getNumTrees.toString),
      ("rf_eval", "seed", rf.getSeed.toString),
      ("rf_eval", "num_classes", rf.numClasses.toString),
      ("rf_eval", "num_features", rf.numFeatures.toString),
      ("rf_eval", "total_num_nodes", rf.totalNumNodes.toString),
      ("scaler_lr", "stages",
        pl.stages.map(_.getClass.getSimpleName).mkString(",")),
      ("scaler_lr", "reg_param", lr.getRegParam.toString),
      ("scaler_lr", "max_iter", lr.getMaxIter.toString),
      ("scaler_lr", "num_classes", lr.numClasses.toString),
      ("scaler_lr", "num_features", lr.numFeatures.toString))
    rows.toDF("model", "item", "value").orderBy("model", "item")
  }

  /** VECTOR NORMALIZER + BINARIZER (spark.ml Normalizer p=2 and
    * Binarizer threshold=0 — the two pure-projection feature
    * transformers still unwrapped after r10): unit-L2 embeddings
    * through the REAL transformers, graded as the first 4 normalized
    * dims floor-scaled to exact micro-ints (the q_vec_quantize_int8
    * discipline: both engines compute the identical IEEE double
    * x/||v|| — sequential square-sum, correctly-rounded sqrt and
    * divide — so the floor is engine-exact), plus the 6-dp L2 norm
    * and the Binarizer's positive-dimension count.
    *
    * 100 TB: pure narrow projection per vector, no shuffle, no fit. */
  def vecNormalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.{Binarizer, Normalizer}
    import org.apache.spark.ml.functions.vector_to_array
    val toVec = udf((a: Seq[Double]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.toArray))
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        toVec(expr("transform(embedding, x -> cast(x as double))")).as("v"))
    val unit = new Normalizer().setP(2.0)
      .setInputCol("v").setOutputCol("u").transform(base)
    val bin = new Binarizer().setThreshold(0.0)
      .setInputCol("u").setOutputCol("b").transform(unit)
    val u = vector_to_array(col("u"), "float64")
    val b = vector_to_array(col("b"), "float64")
    bin.select(col("vec_id"),
        floor(element_at(u, 1) * 1e6).cast("long").as("u0"),
        floor(element_at(u, 2) * 1e6).cast("long").as("u1"),
        floor(element_at(u, 3) * 1e6).cast("long").as("u2"),
        floor(element_at(u, 4) * 1e6).cast("long").as("u3"),
        round(sqrt(aggregate(transform(vector_to_array(col("v"), "float64"),
          x => x * x), lit(0.0), (acc, x) => acc + x)), 6).as("l2_norm"),
        aggregate(b, lit(0L), (acc, x) => acc + x.cast("long")).as("n_pos"))
      .orderBy("vec_id")
  }

  /** POLYNOMIAL EXPANSION (spark.ml PolynomialExpansion degree=2 —
    * the interaction-features transformer): expand the exact-integer
    * pair [acctbal cents, nationkey] into the documented
    * (x, x², y, x·y, y²) basis through the REAL transformer. All
    * five terms stay exact integers under 2^53, so the rendering is
    * engine-exact bigint strings — fully oracle-checkable.
    *
    * 100 TB: pure narrow projection, no shuffle, no fit. */
  def mlPolyExpand(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.{PolynomialExpansion, VectorAssembler}
    import org.apache.spark.ml.functions.vector_to_array
    val base = Tables.customer(s, dir).select(col("c_custkey"),
      expr("cast(round(c_acctbal * 100) as bigint)").cast("double").as("cc"),
      col("c_nationkey").cast("double").as("nk"))
    val asm = new VectorAssembler().setInputCols(Array("cc", "nk"))
      .setOutputCol("xy")
    val poly = new PolynomialExpansion().setDegree(2)
      .setInputCol("xy").setOutputCol("f")
    val arr = vector_to_array(col("f"), "float64")
    poly.transform(asm.transform(base))
      .select(col("c_custkey"),
        array_join(transform(arr, x => x.cast("long").cast("string")), ",")
          .as("features"),
        size(arr).cast("long").as("n_features"))
      .orderBy("c_custkey")
  }

  /** POWER ITERATION CLUSTERING (spark.ml PowerIterationClustering —
    * the spectral family, last unwrapped clustering beside
    * KMeans/Bisecting/GMM/LDA): affinity graph = LSH-bucket candidate
    * pairs (4 tables x 7 sign-bits over the embeddings — the
    * q_sim_lsh_bucketed machinery, NEVER all-pairs; 128 buckets/table
    * keeps the pair blowup ~3x smaller than the 6x6 search config
    * while the union of 4 tables still connects the graph) weighted
    * by positive exact cosine; PIC k=4 with deterministic degree init.
    * Readout: cluster sizes by size rank (rank, not the internal
    * cluster id, so the output is label-permutation stable). NO
    * oracle (iterative eigenvector + k-means step); Pipeline21Spec
    * pins determinism, node conservation and the k bound.
    *
    * 100 TB: candidates from bucket equi-joins; each PIC iteration is
    * an edge-list join + aggregate (the Pregel shape of
    * q_graph_pagerank) — state is the node vector, never the corpus. */
  def mlPic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.PowerIterationClustering
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
    val buckets = graft.api.Sim.lshBuckets(e, "vec_id", "e",
      dim = 64, tables = 4, bits = 7, seed = 42L)
    val pairs = buckets.select(col("tbl"), col("bkt"), col("vec_id").as("a"))
      .join(buckets.select(col("tbl"), col("bkt"), col("vec_id").as("b")),
        Seq("tbl", "bkt"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    val vecs = e.select(col("vec_id"),
      col("e").as("ve"), expr("sqrt(graft_dot(e, e))").as("nrm"))
    val edges = pairs
      .join(vecs.select(col("vec_id").as("a"), col("ve").as("ea"),
        col("nrm").as("na")), "a")
      .join(vecs.select(col("vec_id").as("b"), col("ve").as("eb"),
        col("nrm").as("nb")), "b")
      .select(col("a").as("src"), col("b").as("dst"),
        expr("graft_dot(ea, eb)") / (col("na") * col("nb")) as "weight")
      .where(col("weight") > 0)
    val assigned = new PowerIterationClustering().setK(4).setMaxIter(8)
      .setInitMode("degree").setWeightCol("weight")
      .assignClusters(edges)
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"), min("id").as("min_node"))
      .select(col("cluster_size"), col("min_node"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cluster_size").desc, col("min_node").asc))
          .cast("long").as("size_rank"))
      .select(col("size_rank"), col("cluster_size"), col("min_node"))
      .orderBy("size_rank")
  }

  /** EXACT TRIANGLE COUNT over the stored near-dup candidate graph
    * (the q_graph_pagerank / components edge list: >=8/16-band MinHash
    * pairs, d1 < d2 unique) — the clustering-coefficient readout that
    * says whether near-dup neighborhoods are cliquish (one big
    * community) or chained (bridge docs). DEGREE-ORDERED orientation
    * (the standard distributed algorithm): each edge points from its
    * lower-(degree, id) endpoint to the higher, every triangle forms
    * exactly one out-wedge at its lowest-ranked vertex, and the wedge
    * blowup is bounded by Σ out-deg² = O(m^1.5) on ANY graph — an
    * id-ordered wedge join would instead square a boilerplate hub's
    * degree (a 10^5-copy template doc → 10^10 wedges). The closing
    * (b, c) edge is an id-ordered pairs lookup because out-neighbors
    * are paired in id order. One row: edges, nodes, oriented wedges,
    * triangles and the wedge-closure ratio in ppm.
    *
    * 100 TB: the graph is the SUPPORT-sized stored pair frame (LSH
    * band candidates — never corpus-scale); degree, orientation,
    * wedge and closure are all hash equi-joins. No BNLJ beyond the
    * 1-row total attaches. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .localCheckpoint() // support-sized; five consumers below
    val deg = pairs.select(col("d1").as("n"))
      .union(pairs.select(col("d2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val lowFirst = pairs
      .join(deg.select(col("n").as("d1"), col("dg").as("dg1")), "d1")
      .join(deg.select(col("n").as("d2"), col("dg").as("dg2")), "d2")
      .select(expr("dg1 < dg2 or (dg1 = dg2 and d1 < d2)").as("lo1"),
        col("d1"), col("d2"))
    val oriented = lowFirst.select(
        when(col("lo1"), col("d1")).otherwise(col("d2")).as("src"),
        when(col("lo1"), col("d2")).otherwise(col("d1")).as("dst"))
      .localCheckpoint() // two wedge-side consumers
    val wedges = oriented.select(col("src").as("a"), col("dst").as("b"))
      .join(oriented.select(col("src").as("a"), col("dst").as("c")), "a")
      .where(col("b") < col("c"))
    val tri = wedges
      .join(pairs.select(col("d1").as("b"), col("d2").as("c")),
        Seq("b", "c"))
      .agg(count(lit(1)).as("triangles"))
    val nw = wedges.agg(count(lit(1)).as("wedges"))
    val ne = pairs.agg(count(lit(1)).as("n_edges"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    ne.crossJoin(broadcast(nn)).crossJoin(broadcast(nw))
      .crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_nodes"), col("wedges"),
        col("triangles"),
        expr("case when wedges = 0 then 0L" +
          " else (1000000 * triangles) div wedges end")
          .as("closure_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_feature_assemble" -> mlFeatureAssemble,
    "q_ml_prefixspan" -> mlPrefixspan,
    "q_ml_pipeline_persist" -> mlPipelinePersist,
    "q_ml_model_metadata" -> mlModelMetadata,
    "q_vec_normalize" -> vecNormalize,
    "q_ml_poly_expand" -> mlPolyExpand,
    "q_ml_pic" -> mlPic,
    "q_graph_triangles" -> graphTriangles)

  def oracleSql: Map[String, String] = Map(
    "q_graph_triangles" ->
      s"""WITH sh AS (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM (${TextOps.shinglesSql})),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms GROUP BY doc_id, perm),
        |pairs AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |          FROM sig s1 JOIN sig s2
        |            ON s1.perm = s2.perm AND s1.minh = s2.minh
        |           AND s1.doc_id < s2.doc_id
        |          GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
        |        FROM (SELECT d1 AS n FROM pairs
        |              UNION ALL SELECT d2 FROM pairs) GROUP BY n),
        |ori AS (SELECT CASE WHEN a.dg < b.dg
        |                 OR (a.dg = b.dg AND p.d1 < p.d2)
        |               THEN p.d1 ELSE p.d2 END AS src,
        |               CASE WHEN a.dg < b.dg
        |                 OR (a.dg = b.dg AND p.d1 < p.d2)
        |               THEN p.d2 ELSE p.d1 END AS dst
        |        FROM pairs p JOIN deg a ON a.n = p.d1
        |        JOIN deg b ON b.n = p.d2),
        |w AS (SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
        |      FROM ori o1 JOIN ori o2
        |        ON o2.src = o1.src AND o1.dst < o2.dst),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS triangles
        |      FROM w JOIN pairs p3 ON p3.d1 = w.b AND p3.d2 = w.c),
        |nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS wedges FROM w),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_edges, n_nodes, wedges, triangles,
        |  CAST(CASE WHEN wedges = 0 THEN 0
        |    ELSE (1000000 * triangles) // wedges END AS BIGINT)
        |    AS closure_ppm
        |FROM ne CROSS JOIN nn CROSS JOIN nw CROSS JOIN t""".stripMargin,
    "q_ml_feature_assemble" ->
      """SELECT c_custkey,
        |  CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS VARCHAR)
        |    || ',' || CAST(c_nationkey * 100 AS VARCHAR)
        |    || ',' || CAST(LENGTH(c_name) * 100 AS VARCHAR) AS features,
        |  CAST(3 AS BIGINT) AS n_features
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_vec_normalize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |      FROM e)
        |SELECT vec_id,
        |  CAST(FLOOR(v[1] / nrm * 1e6) AS BIGINT) AS u0,
        |  CAST(FLOOR(v[2] / nrm * 1e6) AS BIGINT) AS u1,
        |  CAST(FLOOR(v[3] / nrm * 1e6) AS BIGINT) AS u2,
        |  CAST(FLOOR(v[4] / nrm * 1e6) AS BIGINT) AS u3,
        |  ROUND(nrm, 6) AS l2_norm,
        |  CAST(list_sum(list_transform(v, x ->
        |    CASE WHEN x / nrm > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_pos
        |FROM n ORDER BY vec_id""".stripMargin,
    "q_ml_poly_expand" ->
      """WITH b AS (SELECT c_custkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cc,
        |    CAST(c_nationkey AS BIGINT) AS nk
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(cc AS VARCHAR) || ',' || CAST(cc * cc AS VARCHAR)
        |    || ',' || CAST(nk AS VARCHAR)
        |    || ',' || CAST(cc * nk AS VARCHAR)
        |    || ',' || CAST(nk * nk AS VARCHAR) AS features,
        |  CAST(5 AS BIGINT) AS n_features
        |FROM b ORDER BY c_custkey""".stripMargin,
    "q_ml_prefixspan" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS t, ts, event_id
        |            FROM events),
        |mc AS (SELECT CAST(CEIL(0.5 * COUNT(DISTINCT user_id)) AS BIGINT)
        |         AS m FROM events),
        |s1 AS (SELECT t AS pattern, CAST(1 AS BIGINT) AS plen,
        |         CAST(COUNT(DISTINCT u) AS BIGINT) AS freq
        |       FROM ev GROUP BY t
        |       HAVING COUNT(DISTINCT u) >= (SELECT m FROM mc)),
        |s2 AS (SELECT e1.t || '>' || e2.t AS pattern,
        |         CAST(2 AS BIGINT) AS plen,
        |         CAST(COUNT(DISTINCT e1.u) AS BIGINT) AS freq
        |       FROM ev e1 JOIN ev e2 ON e1.u = e2.u
        |         AND (e1.ts < e2.ts
        |           OR (e1.ts = e2.ts AND e1.event_id < e2.event_id))
        |       GROUP BY e1.t, e2.t
        |       HAVING COUNT(DISTINCT e1.u) >= (SELECT m FROM mc))
        |SELECT pattern, plen, freq
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |ORDER BY plen, pattern""".stripMargin)
}
