package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.35 round-11 batch 2 — graph-analytics closers (multi-source BFS
  * shortest paths, degree assortativity), the last pure-projection
  * feature transformer (Interaction), the distribution-window family
  * (cume_dist / percent_rank / ntile), corpus-diversity profiling
  * (Shannon entropy + Gini-Simpson), two exact-integer time-series
  * smoothers (fixed-point EWMA, lag-k autocorrelation), and the
  * MLlib euclidean-LSH ANN wrapper (BucketedRandomProjectionLSH).
  */
object Pipeline22 extends graft.QueryModule {

  /** MULTI-SOURCE BFS SHORTEST PATHS (hop distance) over the stored
    * ≥8-band near-dup candidate graph — "how far is every document
    * from the nearest audited seed" (seed set: doc_id % 97 == 0), the
    * reachability readout that complements q_graph_components_stats /
    * q_graph_pagerank. FOUR fixed supersteps (not convergence) keep
    * the oracle an unrolled CTE chain; unreached nodes are absent
    * (they'd be dist = ∞).
    *
    * FRONTIER-OPTIMIZED Pregel shape: in unweighted BFS a node's
    * first label is final, so each superstep expands ONLY from the
    * nodes settled in the previous round (the frontier), never from
    * the full settled set — per-round join work is O(frontier-adjacent
    * edges), the textbook 100 TB BFS plan. Settled set and frontier
    * are localCheckpoint'd so round k never re-executes rounds <k. */
  def graphShortestPath(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
    val und = pairs
      .select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint(true)
    val seeds = und.select(col("src").as("node")).distinct
      .where(pmod(col("node"), lit(97L)) === 0)
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var settled = seeds
    var frontier = seeds
    for (i <- 1 to 4) {
      val reached = und
        .join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct
      val newly = reached
        .join(settled.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(i.toLong).as("dist"))
        .localCheckpoint(true)
      settled = settled.union(newly).localCheckpoint(true)
      frontier = newly
    }
    settled.select(col("node").as("doc_id"), col("dist"))
      .orderBy("doc_id")
  }

  /** DEGREE ASSORTATIVITY of the same candidate graph — the
    * structure-quality scalar next to q_graph_triangles' closure:
    * Pearson correlation of (deg(u), deg(v)) over every DIRECTED edge
    * (both orientations, the standard symmetrization). Positive =
    * hubs pair with hubs (dedup "clique-of-templates" shape);
    * negative = star/hub shape. Moments are EXACT decimal sums over
    * integer degrees (the q_agg_corr discipline) with one final
    * double formula rounded to 6 dp — engine-neutral.
    *
    * 100 TB: degree frame is one hash agg over the support-sized
    * stored pair list; the moment pass is two broadcast-joinable
    * equi-joins of edges onto the degree frame + one global agg. */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
    val und = pairs
      .select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint(true)
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val m = und
      .join(deg.select(col("src"), col("deg").as("x")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), "dst")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(x as decimal(19,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(19,0)) * y")).as("syy"),
        sum(expr("cast(x as decimal(19,0)) * y")).as("sxy"))
    def ctr(prod: String, a: String, b: String): String =
      s"cast(cast(n as decimal(38,0)) * $prod" +
        s" - cast($a as decimal(38,0)) * $b as double)"
    m.select(col("n").as("n_dir_edges"),
      expr(s"round(case when ${ctr("sxx", "sx", "sx")} = 0" +
        s" or ${ctr("syy", "sy", "sy")} = 0 then null" +
        s" else ${ctr("sxy", "sx", "sy")}" +
        s" / (sqrt(${ctr("sxx", "sx", "sx")})" +
        s" * sqrt(${ctr("syy", "sy", "sy")})) end, 6)")
        .as("assortativity"))
  }

  /** FEATURE INTERACTION (spark.ml Interaction — the cross-term
    * transformer that completes the pure-projection prep family after
    * VectorAssembler / PolynomialExpansion / Normalizer): a 3-dim
    * deterministic one-hot of c_nationkey mod 3 crossed with the
    * 2-dim numeric vector [acctbal_cents, name_len] → 6 products,
    * exactly one (acctbal, name_len) pair live per row. Exact-integer
    * rendering per §2.0.8 (cents are already ints), so the real
    * transformer's output is byte-comparable against plain CASE SQL.
    *
    * 100 TB: pure narrow projection, no shuffle, no fit. */
  def mlInteraction(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.{Interaction, VectorAssembler}
    import org.apache.spark.ml.functions.vector_to_array
    val base = Tables.customer(s, dir).select(col("c_custkey"),
      expr("cast(case when c_nationkey % 3 = 0 then 1 else 0 end" +
        " as double)").as("g0"),
      expr("cast(case when c_nationkey % 3 = 1 then 1 else 0 end" +
        " as double)").as("g1"),
      expr("cast(case when c_nationkey % 3 = 2 then 1 else 0 end" +
        " as double)").as("g2"),
      expr("cast(cast(round(c_acctbal * 100) as bigint) as double)")
        .as("cents"),
      length(col("c_name")).cast("double").as("name_len"))
    val ohe = new VectorAssembler()
      .setInputCols(Array("g0", "g1", "g2")).setOutputCol("grp")
    val num = new VectorAssembler()
      .setInputCols(Array("cents", "name_len")).setOutputCol("num")
    val inter = new Interaction()
      .setInputCols(Array("grp", "num")).setOutputCol("f")
    val out = inter.transform(num.transform(ohe.transform(base)))
    val arr = vector_to_array(col("f"), "float64")
    out.select(col("c_custkey"),
      array_join(transform(arr,
        x => x.cast("long").cast("string")), ",").as("features"),
      size(arr).cast("long").as("n_features"))
      .orderBy("c_custkey")
  }

  /** DISTRIBUTION WINDOW functions (cume_dist / percent_rank /
    * ntile(4)) — the relative-standing family missing between
    * q_win_rank (rank/dense_rank) and q_win_distribution: per
    * order-priority partition, each order's cumulative distribution
    * and percent rank over (price cents, orderkey) — a TOTAL order,
    * so both ppm renderings are engine-exact (k/n and (r-1)/(n-1)
    * are single IEEE divisions of integers on both engines).
    *
    * 100 TB: windows are PARTITIONED on o_orderpriority — no global
    * single-partition funnel (the q_vec_bucketize lesson); skew is
    * bounded by the 5-priority domain × per-partition sort. */
  def winCumeDist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("cents"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("cast(round(cume_dist() over (partition by o_orderpriority" +
          " order by cents, o_orderkey) * 1000000) as bigint)")
          .as("cume_ppm"),
        expr("cast(round(percent_rank() over (partition by" +
          " o_orderpriority order by cents, o_orderkey) * 1000000)" +
          " as bigint)").as("pct_rank_ppm"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderkey")
  }

  /** CORPUS-DIVERSITY profile per document source — the
    * language-balance readout every multilingual training-data
    * pipeline reports: per source, doc count, language richness,
    * SHANNON ENTROPY of the language distribution in nats (computed
    * from exact integer counts via the deterministic sorted-fold of
    * q_text_perplexity — one left-fold over the ≤|langs| per-source
    * count vector, so summation order is engine-identical), and the
    * GINI-SIMPSON diversity index in EXACT integer ppm
    * (1e6 − 1e6·Σc² div n²).
    *
    * 100 TB: one (source, lang) hash agg over the corpus; everything
    * downstream runs on the support-sized count frame. */
  def aggEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n"), count(lit(1)).as("n_langs"),
        sum(expr("cast(c as decimal(19,0)) * c")).as("s2"),
        expr("aggregate(array_sort(collect_list(struct(lang, c)))," +
          " cast(0 as double), (a, x) -> a + x.c * ln(x.c))").as("slc"))
      .select(col("source"), col("n"), col("n_langs"),
        expr("round(ln(n) - slc / n, 6)").as("entropy_nats"),
        expr("cast(1000000 - (1000000 * s2)" +
          " div (cast(n as decimal(19,0)) * n) as bigint)")
          .as("simpson_ppm"))
      .orderBy("source")

  /** FIXED-POINT EWMA (α = 1/2, 32-day calendar window, absent days
    * count as zero revenue) over daily revenue cents per event type —
    * an exponentially-weighted smoother with NO floating point
    * anywhere: each day contributes v·2^(31−k) to the day k ahead,
    * the weighted sum is an exact bigint, and the normalizer is the
    * constant Σ 2^j = 2^32 − 1 — bit-identical on any engine UNDER
    * THE DOCUMENTED PRECONDITION (ADVICE r11): each per-(type, day)
    * cents sum v must stay below 2^31, else v·2^31 exceeds int64 —
    * where Spark wraps silently while DuckDB raises. The bound is
    * $21.4M revenue per type-day (daily cents < 2^22 at sf0.1, ~500×
    * headroom; a corpus past it would pre-scale v to dollars or
    * widen the contributions to decimal(38,0) before the shift).
    *
    * 100 TB: one full-data daily agg; the 32-way offset explode and
    * re-agg run on the support-sized (type × day) frame, the
    * q_events_forecast topology. */
  def timeEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
      .localCheckpoint()
    val contrib = daily
      .withColumn("k", explode(expr("sequence(0, 31)")))
      .groupBy(col("event_type"), expr("date_add(d, k)").as("d"))
      .agg(sum(expr("v * shiftleft(cast(1 as bigint), 31 - k)"))
        .as("num"))
    daily.join(contrib, Seq("event_type", "d"))
      .select(col("event_type"), col("d"), col("v").as("v_cents"),
        expr("num div 4294967295").as("ewma_cents"))
      .orderBy("event_type", "d")
  }

  /** LAG-7 AUTOCORRELATION of daily event counts per type — the
    * weekly-seasonality detector that motivates q_events_forecast's
    * seasonal-naive baseline: Pearson r between (count at d, count at
    * d−7), matched by CALENDAR equi-join (gap-robust, not a row
    * lag(7)). Moments exact-decimal, one final double formula
    * rounded to 6 dp — the q_agg_corr discipline.
    *
    * 100 TB: one full-data daily count agg; the shift join and moment
    * agg run on the support-sized (type × day) frame. */
  def eventsAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint()
    val lagged = daily.select(col("event_type"),
      expr("date_add(d, 7)").as("d"), col("x").as("y"))
    val m = daily.join(lagged, Seq("event_type", "d"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(x as decimal(19,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(19,0)) * y")).as("syy"),
        sum(expr("cast(x as decimal(19,0)) * y")).as("sxy"))
    def ctr(prod: String, a: String, b: String): String =
      s"cast(cast(n as decimal(38,0)) * $prod" +
        s" - cast($a as decimal(38,0)) * $b as double)"
    m.select(col("event_type"), col("n").as("n_pairs"),
      expr(s"round(case when ${ctr("sxx", "sx", "sx")} = 0" +
        s" or ${ctr("syy", "sy", "sy")} = 0 then null" +
        s" else ${ctr("sxy", "sx", "sy")}" +
        s" / (sqrt(${ctr("sxx", "sx", "sx")})" +
        s" * sqrt(${ctr("syy", "sy", "sy")})) end, 6)")
        .as("autocorr_lag7"))
      .orderBy("event_type")
  }

  /** EUCLIDEAN-LSH ANN via the REAL MLlib wrapper
    * (BucketedRandomProjectionLSH — the library twin of the
    * hand-rolled q_sim_lsh_bucketed/q_sim_ann_ivf/q_sim_ann_pq
    * family): seeded 4-table projection hash over the unit-norm
    * embedding corpus, approxSimilarityJoin of the 20-probe side at
    * distance ≤ 1.35, exact-distance re-rank to top-5 per probe.
    * Deterministic: hash functions derive from the fixed seed, the
    * candidate SET is threshold-defined (schedule-free), and the
    * re-rank orders by (dist_micro, neighbor) — a total order.
    *
    * 100 TB: the join is bucket-equi (OR-amplified across 4 tables),
    * NEVER all-pairs; the probe side is a bounded broadcast and the
    * per-probe top-5 a small window. Spec-bounded (Pipeline22Spec):
    * recall vs exact euclidean top-5 on the fixture corpus. */
  def simAnnBrp(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        array_to_vector(col("embedding").cast("array<double>")).as("f"))
      .localCheckpoint()
    val model = new BucketedRandomProjectionLSH()
      .setInputCol("f").setOutputCol("h")
      .setBucketLength(0.5).setNumHashTables(4).setSeed(42)
      .fit(corpus)
    val probes = corpus.where(pmod(col("vec_id"), lit(100L)) === 0)
    val joined = model
      .approxSimilarityJoin(broadcast(probes), corpus, 1.35, "dist")
      .select(col("datasetA.vec_id").as("probe_id"),
        col("datasetB.vec_id").as("neighbor_id"),
        expr("cast(floor(dist * 1000000) as bigint)").as("dist_micro"))
      .where(col("probe_id") =!= col("neighbor_id"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("dist_micro"), col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("dist_micro"))
      .orderBy("probe_id", "rank")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_shortest_path" -> graphShortestPath,
    "q_graph_assortativity" -> graphAssortativity,
    "q_ml_interaction" -> mlInteraction,
    "q_win_cume_dist" -> winCumeDist,
    "q_agg_entropy" -> aggEntropy,
    "q_time_ewma" -> timeEwma,
    "q_events_autocorr" -> eventsAutocorr,
    "q_sim_ann_brp" -> simAnnBrp)

  private val pairsHead: String =
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
      |und AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |        UNION ALL SELECT d2, d1 FROM pairs)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_graph_shortest_path" -> {
      val steps = (1 to 4).map { i =>
        s"""d$i AS (SELECT node, MIN(dist) AS dist FROM (
          |  SELECT node, dist FROM d${i - 1}
          |  UNION ALL
          |  SELECT u.dst AS node, p.dist + 1 AS dist
          |  FROM und u JOIN d${i - 1} p ON p.node = u.src)
          |  GROUP BY node)""".stripMargin
      }
      pairsHead + ",\n" +
        """d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
          |       FROM und WHERE src % 97 = 0),""".stripMargin + "\n" +
        steps.mkString(",\n") +
        "\nSELECT node AS doc_id, CAST(dist AS BIGINT) AS dist" +
        "\nFROM d4 ORDER BY doc_id"
    },
    "q_graph_assortativity" -> (pairsHead + ",\n" +
      """deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM und GROUP BY src),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(a.deg) AS sx, SUM(b.deg) AS sy,
        |        SUM(CAST(a.deg AS DECIMAL(19,0)) * a.deg) AS sxx,
        |        SUM(CAST(b.deg AS DECIMAL(19,0)) * b.deg) AS syy,
        |        SUM(CAST(a.deg AS DECIMAL(19,0)) * b.deg) AS sxy
        |      FROM und u JOIN deg a ON a.src = u.src
        |      JOIN deg b ON b.src = u.dst)
        |SELECT n AS n_dir_edges,
        |  ROUND(CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) = 0
        |      OR CAST(CAST(n AS DECIMAL(38,0)) * syy
        |        - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE) = 0
        |    THEN NULL
        |    ELSE CAST(CAST(n AS DECIMAL(38,0)) * sxy
        |        - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
        |      / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |          - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
        |       * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy
        |          - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)))
        |    END, 6) AS assortativity
        |FROM m""".stripMargin),
    "q_ml_interaction" ->
      """WITH b AS (SELECT c_custkey, c_nationkey % 3 AS g,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
        |    CAST(LENGTH(c_name) AS BIGINT) AS nl
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(CASE WHEN g = 0 THEN cents ELSE 0 END AS VARCHAR)
        |  || ',' || CAST(CASE WHEN g = 0 THEN nl ELSE 0 END AS VARCHAR)
        |  || ',' || CAST(CASE WHEN g = 1 THEN cents ELSE 0 END AS VARCHAR)
        |  || ',' || CAST(CASE WHEN g = 1 THEN nl ELSE 0 END AS VARCHAR)
        |  || ',' || CAST(CASE WHEN g = 2 THEN cents ELSE 0 END AS VARCHAR)
        |  || ',' || CAST(CASE WHEN g = 2 THEN nl ELSE 0 END AS VARCHAR)
        |    AS features,
        |  CAST(6 AS BIGINT) AS n_features
        |FROM b ORDER BY c_custkey""".stripMargin,
    "q_win_cume_dist" ->
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        |  CAST(ROUND(cume_dist() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents, o_orderkey) * 1000000) AS BIGINT)
        |    AS cume_ppm,
        |  CAST(ROUND(percent_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents, o_orderkey) * 1000000) AS BIGINT)
        |    AS pct_rank_ppm,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents, o_orderkey) AS BIGINT) AS quartile
        |FROM b ORDER BY o_orderkey""".stripMargin,
    "q_agg_entropy" ->
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        |           FROM documents GROUP BY source, lang)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_langs,
        |  ROUND(ln(SUM(c)) - list_reduce(
        |      list(c * ln(c) ORDER BY lang), (a, b) -> a + b)
        |    / SUM(c), 6) AS entropy_nats,
        |  CAST(1000000 - (1000000 * SUM(CAST(c AS DECIMAL(19,0)) * c))
        |    // (CAST(SUM(c) AS DECIMAL(19,0)) * SUM(c)) AS BIGINT)
        |    AS simpson_ppm
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q_time_ewma" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |contrib AS (SELECT event_type, d + CAST(k AS INTEGER) AS d,
        |    SUM(v * (CAST(1 AS BIGINT) << (31 - k))) AS num
        |  FROM daily CROSS JOIN range(0, 32) t(k)
        |  GROUP BY event_type, d + CAST(k AS INTEGER))
        |SELECT daily.event_type, daily.d,
        |  CAST(daily.v AS BIGINT) AS v_cents,
        |  CAST(num // 4294967295 AS BIGINT) AS ewma_cents
        |FROM daily JOIN contrib
        |  ON contrib.event_type = daily.event_type
        | AND contrib.d = daily.d
        |ORDER BY daily.event_type, daily.d""".stripMargin,
    "q_events_autocorr" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |m AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(a.x) AS sx, SUM(b.x) AS sy,
        |    SUM(CAST(a.x AS DECIMAL(19,0)) * a.x) AS sxx,
        |    SUM(CAST(b.x AS DECIMAL(19,0)) * b.x) AS syy,
        |    SUM(CAST(a.x AS DECIMAL(19,0)) * b.x) AS sxy
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND b.d + 7 = a.d
        |  GROUP BY a.event_type)
        |SELECT event_type, n AS n_pairs,
        |  ROUND(CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) = 0
        |      OR CAST(CAST(n AS DECIMAL(38,0)) * syy
        |        - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE) = 0
        |    THEN NULL
        |    ELSE CAST(CAST(n AS DECIMAL(38,0)) * sxy
        |        - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
        |      / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |          - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
        |       * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy
        |          - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)))
        |    END, 6) AS autocorr_lag7
        |FROM m ORDER BY event_type""".stripMargin)
}
