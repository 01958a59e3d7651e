package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.65 round-15 batch 38 — the VERDICT r14 closers: the recursive-
  * query surface (Spark 4 `WITH RECURSIVE` — hop-bounded reachability
  * over the stored near-dup candidate graph) and the last thin
  * ml.feature transformer twins (explicit-splits Bucketizer,
  * MaxAbsScaler, ElementwiseProduct), each exactly oracle-able
  * because its arithmetic is a fixed per-row double dag.
  */
object Pipeline70 extends graft.QueryModule {

  /** RECURSIVE CTE reachability (Spark 4 `WITH RECURSIVE`) — BFS from
    * the anchor docs (doc_id % 10 = 0) over the STORED >=8/16-band
    * MinHash candidate graph, hop-capped at 4: per reachable doc the
    * minimum hop distance and the number of distinct anchored walks
    * (<=4 edges) that reach it — the "how entangled is this doc with
    * the anchored set" readout a contamination audit wants, and the
    * declarative twin of the unrolled-superstep family (pagerank/
    * HITS/kcore). Spark executes the recursion as iterative
    * UnionLoop steps (one equi-join + filter per level); UNION ALL +
    * the hop cap bound the work — Spark 4 does not yet allow UNION
    * DISTINCT inside the recursion, so termination comes from the
    * `hops < 4` predicate, and the walk COUNT is well-defined
    * precisely because duplicates are kept.
    *
    * 100 TB: reads the one-time stored pair frame (never re-mines);
    * each recursion level is one partitioned equi-join of the
    * frontier onto the edge list — the pagerankMicro superstep shape,
    * but declared in SQL and bounded by the hop cap. Walk counts stay
    * polynomial because band-join buckets cap component degree (max
    * observed degree 3 at sf0.1). */
  def subRecursive(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .createOrReplaceTempView("graft_rec_pairs")
    s.sql(
      """WITH RECURSIVE
        |edges AS (SELECT d1 AS src, d2 AS dst FROM graft_rec_pairs
        |          UNION ALL
        |          SELECT d2, d1 FROM graft_rec_pairs),
        |anchors AS (SELECT DISTINCT src AS node FROM edges
        |            WHERE src % 10 = 0),
        |reach(node, hops) AS (
        |  SELECT node, 0 FROM anchors
        |  UNION ALL
        |  SELECT e.dst, r.hops + 1
        |  FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.hops < 4)
        |SELECT node AS doc_id, CAST(MIN(hops) AS BIGINT) AS hops,
        |  CAST(COUNT(*) AS BIGINT) AS n_walks
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)
  }

  /** EXPLICIT-SPLITS BUCKETIZER (spark.ml Bucketizer) — fixed
    * business-band splits over the raw order total, the non-learned
    * sibling of q_ml_quantile_discretizer (whose cutpoints come from
    * a sketch): [-inf,1k), [1k,50k), [50k,150k), [150k,300k),
    * [300k,inf). Left-closed/right-open Bucketizer semantics mirror
    * the oracle's CASE ladder exactly; the splits are integer-valued
    * doubles so the comparisons are bit-exact on both engines.
    *
    * 100 TB: the transform is a codegen'd projection; the profile agg
    * shuffles 5 groups. */
  def mlBucketizer(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.Bucketizer
    val b = new Bucketizer().setInputCol("price").setOutputCol("bucket")
      .setSplits(Array(Double.NegativeInfinity, 1000.0, 50000.0,
        150000.0, 300000.0, Double.PositiveInfinity))
    b.transform(Tables.orders(s, dir)
        .select(col("o_totalprice").cast("double").as("price")))
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(expr("cast(round(price * 100) as bigint)")).as("min_cents"),
        max(expr("cast(round(price * 100) as bigint)")).as("max_cents"))
      .orderBy("bucket")
  }

  /** MAXABS SCALER (spark.ml MaxAbsScaler) — per-dimension division
    * by the fitted max |x|, the scaling that preserves sparsity and
    * sign (MinMax/Standard twins already graded). The fit is one
    * Summarizer pass (exact per-dim max of |double|, order-
    * independent); the transform MULTIPLIES by the precomputed
    * reciprocal 1/maxAbs (MLlib's scale array — NOT a plain divide;
    * the two differ by 1 ulp exactly often enough to flip a floor
    * boundary, verified at sf0.01 row 233), mirrored as
    * x * (1.0/m) in the DuckDB twin, so the
    * floor(x*1e6) micro-ints match bit-for-bit (floor has no
    * half-way tie, the q_vec_quantize_int8 rule). Graded projection
    * flattens per §2.0.8: first 4 dims + the micro-int sum.
    *
    * 100 TB: fit = one mergeable max-agg pass; transform = a narrow
    * projection against the broadcast 64-double model. */
  def mlMaxabsScaler(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.MaxAbsScaler
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        array_to_vector(col("embedding").cast("array<double>")).as("f"))
    val m = new MaxAbsScaler().setInputCol("f").setOutputCol("scaled")
      .fit(base)
    m.transform(base)
      .select(col("vec_id").cast("long").as("vec_id"), col("label"),
        vector_to_array(col("scaled"), "float64").as("sc"))
      .select(col("vec_id"), col("label"),
        expr("transform(sc, x -> cast(floor(x * 1000000) as bigint))")
          .as("q"))
      .select(col("vec_id"), col("label"),
        expr("q[0]").as("s0"), expr("q[1]").as("s1"),
        expr("q[2]").as("s2"), expr("q[3]").as("s3"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("ssum"))
      .orderBy("vec_id")
  }

  /** ELEMENTWISE PRODUCT (spark.ml ElementwiseProduct) — Hadamard
    * product with a fixed 64-dim weight vector w_d = (d mod 7 + 1)/8:
    * the hand-tuned per-feature reweighting step (w is exact in
    * binary — eighths — so the product is ONE rounding per element,
    * identical on both engines). Same §2.0.8 flattening as the
    * scaler twin.
    *
    * 100 TB: a pure codegen'd projection against a 64-double
    * broadcast constant; no shuffle at all before the final sort. */
  def mlElementwiseProduct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.ElementwiseProduct
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.linalg.Vectors
    val w = Vectors.dense(Array.tabulate(64)(d => (d % 7 + 1) / 8.0))
    val ep = new ElementwiseProduct().setScalingVec(w)
      .setInputCol("f").setOutputCol("p")
    ep.transform(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          array_to_vector(col("embedding").cast("array<double>")).as("f")))
      .select(col("vec_id").cast("long").as("vec_id"), col("label"),
        vector_to_array(col("p"), "float64").as("pr"))
      .select(col("vec_id"), col("label"),
        expr("transform(pr, x -> cast(floor(x * 1000000) as bigint))")
          .as("q"))
      .select(col("vec_id"), col("label"),
        expr("q[0]").as("p0"), expr("q[1]").as("p1"),
        expr("q[2]").as("p2"), expr("q[3]").as("p3"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("psum"))
      .orderBy("vec_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sub_recursive" -> subRecursive,
    "q_ml_bucketizer" -> mlBucketizer,
    "q_ml_maxabs_scaler" -> mlMaxabsScaler,
    "q_ml_elementwise_product" -> mlElementwiseProduct)

  /** Materialized MinHash pair head (the hitsOracleSql discipline —
    * every CTE `AS MATERIALIZED` so DuckDB 1.0 never re-inlines the
    * signature pipeline into the recursion). */
  private val recPairsHead: String =
    s"""WITH RECURSIVE sh AS MATERIALIZED (
      |  SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
      |  FROM (${TextOps.shinglesSql})),
      |perms(perm, a, b) AS MATERIALIZED (VALUES ${TextOps.permValuesSql}),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
      |  FROM sh CROSS JOIN perms GROUP BY doc_id, perm),
      |pairs AS MATERIALIZED (
      |  SELECT s1.doc_id AS d1, s2.doc_id AS d2
      |  FROM sig s1 JOIN sig s2
      |    ON s1.perm = s2.perm AND s1.minh = s2.minh
      |   AND s1.doc_id < s2.doc_id
      |  GROUP BY d1, d2 HAVING COUNT(*) >= 8),
      |edges AS MATERIALIZED (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs),
      |anchors AS MATERIALIZED (
      |  SELECT DISTINCT src AS node FROM edges WHERE src % 10 = 0)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_sub_recursive" -> (recPairsHead + s""",
      |reach(node, hops) AS (
      |  SELECT node, 0 FROM anchors
      |  UNION ALL
      |  SELECT e.dst, r.hops + 1
      |  FROM reach r JOIN edges e ON e.src = r.node
      |  WHERE r.hops < 4)
      |SELECT node AS doc_id, CAST(MIN(hops) AS BIGINT) AS hops,
      |  CAST(COUNT(*) AS BIGINT) AS n_walks
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),
    "q_ml_bucketizer" ->
      """WITH b AS (SELECT
        |    CASE WHEN o_totalprice < 1000.0 THEN 0
        |         WHEN o_totalprice < 50000.0 THEN 1
        |         WHEN o_totalprice < 150000.0 THEN 2
        |         WHEN o_totalprice < 300000.0 THEN 3
        |         ELSE 4 END AS bucket,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(cents) AS BIGINT) AS min_cents,
        |  CAST(MAX(cents) AS BIGINT) AS max_cents
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_ml_maxabs_scaler" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT vec_id, label, i, v[i] AS x
        |  FROM (SELECT vec_id, label, v,
        |          unnest(range(1, len(v) + 1)) AS i FROM e)),
        |mx AS (SELECT i, MAX(ABS(x)) AS m FROM d GROUP BY i),
        |q AS (SELECT d.vec_id, d.label, d.i,
        |    CAST(FLOOR(d.x * (1.0 / mx.m) * 1000000) AS BIGINT) AS q
        |  FROM d JOIN mx ON mx.i = d.i)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, label,
        |  CAST(MAX(CASE WHEN i = 1 THEN q END) AS BIGINT) AS s0,
        |  CAST(MAX(CASE WHEN i = 2 THEN q END) AS BIGINT) AS s1,
        |  CAST(MAX(CASE WHEN i = 3 THEN q END) AS BIGINT) AS s2,
        |  CAST(MAX(CASE WHEN i = 4 THEN q END) AS BIGINT) AS s3,
        |  CAST(SUM(q) AS BIGINT) AS ssum
        |FROM q GROUP BY vec_id, label ORDER BY vec_id""".stripMargin,
    "q_ml_elementwise_product" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT vec_id, label, i,
        |    CAST(FLOOR(v[i] * ((CAST(i - 1 AS BIGINT) % 7 + 1) / 8.0)
        |      * 1000000) AS BIGINT) AS q
        |  FROM (SELECT vec_id, label, v,
        |          unnest(range(1, len(v) + 1)) AS i FROM e))
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, label,
        |  CAST(MAX(CASE WHEN i = 1 THEN q END) AS BIGINT) AS p0,
        |  CAST(MAX(CASE WHEN i = 2 THEN q END) AS BIGINT) AS p1,
        |  CAST(MAX(CASE WHEN i = 3 THEN q END) AS BIGINT) AS p2,
        |  CAST(MAX(CASE WHEN i = 4 THEN q END) AS BIGINT) AS p3,
        |  CAST(SUM(q) AS BIGINT) AS psum
        |FROM d GROUP BY vec_id, label ORDER BY vec_id""".stripMargin)
}
