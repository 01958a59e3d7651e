package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.79 round-16 batch 52 — the last thin ml.feature twins from
  * VERDICT r15 (#3/#4/#5): FeatureHasher (multi-column categorical +
  * numeric hashing with the §2.0.7 engine-neutral arithmetic hash),
  * type-II DCT over a plan-time literal cosine basis, the
  * VectorSlicer index projection, and the SQLTransformer statement
  * twin (the genuine MLlib transformer — its statement is plain
  * Spark SQL, so the oracle is the same statement).
  */
object Pipeline84 extends graft.QueryModule {

  /** FEATURE HASHER — MLlib FeatureHasher's semantics on an
    * engine-neutral hash (the q_text_hashing_tf discipline): each row
    * contributes one entry per feature column — categorical columns
    * hash "col=value" with weight 1.00, numeric columns hash the bare
    * column NAME (all of a numeric column's mass lands in one bucket,
    * exactly FeatureHasher's rule) with the value as weight — into 64
    * buckets via an affine map of the polynomial string hash. Weights
    * are exact cents so the bucket rollup is integer. Output: per
    * bucket, entry count and summed weight.
    *
    * 100 TB: hash-where-the-row-lives (a projection + stack), one
    * map-side-partial agg on the 64-value bucket domain — no
    * vocabulary table, no shuffle wider than 64 keys. */
  def mlFeatureHasher(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(expr(
        "stack(3, " +
          "concat('o_orderstatus=', o_orderstatus), 100L, " +
          "concat('o_orderpriority=', o_orderpriority), 100L, " +
          "'o_totalprice', cast(round(o_totalprice * 100) as bigint)" +
          ") AS (tok, cents)"))
      .withColumn("bucket",
        (lit(1103515245L) * TextOps.polyHash("tok") + lit(12345L)) % 64)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_entries"), sum("cents").as("sum_cents"))
      .orderBy("bucket")

  /** The 8×64 type-II DCT cosine basis, built once at PLAN time:
    * basis(k)(d) = cos(π/64 · (d+0.5) · k). The SAME literal doubles
    * are interpolated into the Spark expression and the DuckDB oracle
    * (Double.toString round-trips), so both engines fold an identical
    * fixed dag — no cross-engine cos() ulp hazard. */
  private val dctBasis: IndexedSeq[IndexedSeq[Double]] =
    (0 until 8).map(k => (0 until 64).map(d =>
      math.cos(math.Pi / 64.0 * (d + 0.5) * k)))

  /** TYPE-II DCT of the 64-dim embeddings — the energy-compaction
    * transform (the spectral sibling of q_ml_pca2_exact): the first 8
    * coefficients per vector, each one codegen'd graft_dot against a
    * literal basis row (the srp-fingerprint kernel pattern), rounded
    * once.
    *
    * 100 TB: a pure per-row projection (8 tight loops, no shuffle at
    * all until the consumer aggregates). */
  def vecDct(s: SparkSession, dir: String): DataFrame = {
    val cols = (0 until 8).map { k =>
      // the D suffix keeps Spark's parser in DOUBLE ("1.0" alone
      // parses as DECIMAL(2,1) and fails graft_dot's type check)
      val arr = dctBasis(k).map(_.toString + "D")
        .mkString("array(", ",", ")")
      round(expr(s"graft_dot(e, $arr)"), 6).as(s"c$k")
    }
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .select(col("vec_id") +: cols: _*)
      .orderBy("vec_id")
  }

  /** VECTOR SLICER — index/range projection out of the embedding
    * (MLlib VectorSlicer's named-index selection, re-expressed as the
    * element_at/slice projection it compiles to): three picked
    * coordinates and the sum of the [9..16] slice (ascending-index
    * fold on both engines).
    *
    * 100 TB: a narrow projection; column pruning reaches the scan. */
  def mlVectorSlicer(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .select(col("vec_id"),
        round(expr("e[0]"), 6).as("x0"),
        round(expr("e[31]"), 6).as("x31"),
        round(expr("e[63]"), 6).as("x63"),
        round(expr("aggregate(slice(e, 9, 8), 0D, (a, x) -> a + x)"), 6)
          .as("mid_sum"))
      .orderBy("vec_id")

  /** The SQLTransformer statement — plain Spark SQL over __THIS__, so
    * the oracle runs the identical statement (modulo the DuckDB
    * integer-cast spellings) against the orders table directly. */
  private val sqlTransformerStatement =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sum_cents
      |FROM __THIS__
      |GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** SQL TRANSFORMER — the genuine MLlib pipeline stage
    * (ml.feature.SQLTransformer): statement interpolation over a temp
    * view of the input frame. The transformer IS spark.sql, so this
    * is the declarative-plan path end-to-end — Catalyst sees exactly
    * the statement.
    *
    * 100 TB: whatever the statement's plan is — here one hash agg on
    * a 15-value composite domain. */
  def mlSqlTransformer(s: SparkSession, dir: String): DataFrame = {
    val st = new org.apache.spark.ml.feature.SQLTransformer()
      .setStatement(sqlTransformerStatement)
    st.transform(Tables.orders(s, dir))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_feature_hasher" -> mlFeatureHasher,
    "q_vec_dct" -> vecDct,
    "q_ml_vector_slicer" -> mlVectorSlicer,
    "q_ml_sql_transformer" -> mlSqlTransformer)

  def oracleSql: Map[String, String] = Map(
    "q_ml_feature_hasher" ->
      s"""WITH feat AS (
        |  SELECT 'o_orderstatus=' || o_orderstatus AS tok,
        |    CAST(100 AS BIGINT) AS cents FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority=' || o_orderpriority,
        |    CAST(100 AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice',
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) FROM orders)
        |SELECT (1103515245 * ${TextOps.polyHashSql("tok")} + 12345) % 64
        |    AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_entries,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM feat GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_vec_dct" -> {
      val coefs = (0 until 8).map { k =>
        val lits = dctBasis(k).mkString("[", ",", "]")
        s"""ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(range(0, 64),
           |      d -> e[d + 1] * ($lits)[d + 1])),
           |    (a, x) -> a + x), 6) AS c$k""".stripMargin
      }.mkString(",\n")
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |$coefs
         |FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         |ORDER BY vec_id""".stripMargin
    },
    "q_ml_vector_slicer" ->
      """SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |  ROUND(e[1], 6) AS x0,
        |  ROUND(e[32], 6) AS x31,
        |  ROUND(e[64], 6) AS x63,
        |  ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), e[9:16]),
        |    (a, x) -> a + x), 6) AS mid_sum
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |ORDER BY vec_id""".stripMargin,
    "q_ml_sql_transformer" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
}
