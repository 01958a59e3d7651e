package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.46 round-14 batch — the VERDICT r13 missing-list closers:
  * LATERAL correlated-subquery join (the one common join shape §2.3
  * lacked), wide→long UNPIVOT, HITS hubs/authorities over the stored
  * candidate graph, byte-shingle MinHash near-dup over the BINARY
  * payload column (the multimodal dedup rung), and the spark.ml
  * LinearRegression elastic-net wrapper beside the exact-moment
  * q_ml_linfit. */
object Pipeline33 extends graft.QueryModule {

  /** LATERAL JOIN — top-3 lineitems per order by (price desc,
    * linenumber asc) via a correlated LATERAL subquery with ORDER BY
    * + LIMIT, the "top-N related rows per outer row" idiom every SQL
    * engine ships. Spark 4 DECORRELATES it: the physical plan is
    * WindowGroupLimit (partial+final per-key top-k) feeding ONE hash
    * equi-join on l_orderkey — never a per-outer-row re-scan of
    * lineitem (Pipeline33Spec pins join + exactly-2-scans). Exact
    * integer cents, total (o_orderkey, price desc, linenumber) order.
    *
    * 100 TB: the group-limit prunes to ≤3 rows per orderkey BEFORE
    * the shuffle's merge side; the join is a plain partitioned
    * equi-join — the lateral form costs the same plan as the
    * hand-written window top-k. */
  def joinLateral(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_lj_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lj_lineitem")
    s.sql(
      """SELECT o.o_orderkey, t.l_linenumber, t.price_cents
        |FROM graft_lj_orders o,
        |LATERAL (SELECT l_linenumber,
        |           cast(round(l_extendedprice * 100) as bigint) AS price_cents
        |         FROM graft_lj_lineitem
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY price_cents DESC, l_linenumber ASC LIMIT 3) t
        |ORDER BY o.o_orderkey, t.price_cents DESC, t.l_linenumber""".stripMargin)
  }

  /** UNPIVOT (wide→long) — Dataset.unpivot over the per-status order
    * metrics frame: 3 metric columns melt into (metric, value) rows,
    * the reshape every reporting layer needs going INTO a long-format
    * sink. Exact integers only.
    *
    * 100 TB: unpivot is a flat projection (each input row emits k
    * rows, no shuffle); the metrics frame is a 3-row domain agg. */
  def fnUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("total_cents"),
        countDistinct(col("o_custkey")).as("n_custs"))
      .unpivot(Array(col("o_orderstatus")),
        Array(col("n_orders"), col("total_cents"), col("n_custs")),
        "metric", "value")
      .orderBy("o_orderstatus", "metric")

  /** HITS hubs/authorities over the STORED near-dup candidate graph
    * (≥8/16-band MinHash pairs, oriented d1→d2 by the d1 < d2 pair
    * convention) — the second eigen-centrality beside
    * q_graph_pagerank, distinguishing pointers-to-good-content (hubs)
    * from pointed-at content (authorities). Three fixed rounds of the
    * classic a ← Eᵀh, h ← Ea updates in the integer-mass discipline:
    * after each update the vector is rescaled to total mass 10¹²
    * by (10¹² · raw) div Σraw with the product formed in
    * decimal(38,0)/HUGEINT — identical integers on both engines, no
    * float drift, L1 normalization standing in for the usual L2
    * (ratios and ranking are what the analysis reads). Fixed rounds
    * keep the oracle an unrolled CTE chain.
    *
    * 100 TB: reads the one-time stored pair frame (never re-mines);
    * each half-round is one equi-join of the mass frame onto the
    * edge list + one hash agg — the pagerankMicro superstep shape,
    * localCheckpoint'd so lineage stays flat. */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8)
      .select(col("d1").cast("long").as("src"),
        col("d2").cast("long").as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    def rescale(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(sum("raw").as("t"))
      nodes.join(raw, Seq("node"), "left").crossJoin(broadcast(tot))
        .select(col("node"),
          expr("cast((cast(1000000000000 as decimal(38,0))" +
            " * coalesce(raw, 0L)) div t as bigint)").as(out))
        .localCheckpoint(true)
    }
    var h = nodes.select(col("node"), lit(1000000L).as("h"))
      .localCheckpoint(true)
    var a: DataFrame = null
    for (_ <- 1 to 3) {
      a = rescale(
        e.join(h.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum("h").as("raw")), "a")
      h = rescale(
        e.join(a.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(sum("a").as("raw")), "h")
    }
    h.join(a, "node")
      .select(col("node").as("doc_id"), col("h").as("hub_mass"),
        col("a").as("auth_mass"))
      .orderBy("doc_id")
  }

  /** The unrolled-CTE oracle for [[graphHits]] — the pagerank oracle
    * pattern: the pairs CTE recomputes the stored candidate graph in
    * SQL, then 3 rounds × 2 half-updates chain as CTEs, each the
    * HUGEINT-exact twin of one Spark superstep.
    *
    * Every CTE is `AS MATERIALIZED`: DuckDB 1.0 inlines plain CTEs,
    * and each half-round here references the previous one ~3× (the
    * equi-join plus the scalar-subquery mass normalizer), so the
    * un-materialized form re-evaluates the MinHash pipeline ≈3^6
    * times — measured 786.5 s at sf0.01 vs 0.15 s materialized
    * (identical 47-row result). That single key zeroed the r14
    * driver compare; materialization is semantics-preserving and
    * keeps the oracle inside the per-key runtime budget. */
  private def hitsOracleSql(iters: Int): String = {
    val head =
      s"""WITH sh AS MATERIALIZED (SELECT doc_id, ${TextOps.polyHashSql("shingle")} AS sid
        |            FROM (${TextOps.shinglesSql})),
        |perms(perm, a, b) AS MATERIALIZED (VALUES ${TextOps.permValuesSql}),
        |sig AS MATERIALIZED (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms GROUP BY doc_id, perm),
        |pairs AS MATERIALIZED (SELECT s1.doc_id AS d1, s2.doc_id AS d2
        |          FROM sig s1 JOIN sig s2
        |            ON s1.perm = s2.perm AND s1.minh = s2.minh
        |           AND s1.doc_id < s2.doc_id
        |          GROUP BY d1, d2 HAVING COUNT(*) >= 8),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
        |          (SELECT d1 AS node FROM pairs
        |           UNION ALL SELECT d2 FROM pairs)),
        |h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)""".stripMargin
    val steps = (1 to iters).flatMap { i =>
      Seq(
        s"""ar$i AS MATERIALIZED (SELECT e.d2 AS node, SUM(p.h) AS raw
          |  FROM pairs e JOIN h${i - 1} p ON p.node = e.d1 GROUP BY e.d2)""".stripMargin,
        s"""a$i AS MATERIALIZED (SELECT n.node,
          |  CAST(COALESCE((1000000000000::HUGEINT * r.raw)
          |    // (SELECT SUM(raw) FROM ar$i), 0) AS BIGINT) AS a
          |  FROM nodes n LEFT JOIN ar$i r ON r.node = n.node)""".stripMargin,
        s"""hr$i AS MATERIALIZED (SELECT e.d1 AS node, SUM(p.a) AS raw
          |  FROM pairs e JOIN a$i p ON p.node = e.d2 GROUP BY e.d1)""".stripMargin,
        s"""h$i AS MATERIALIZED (SELECT n.node,
          |  CAST(COALESCE((1000000000000::HUGEINT * r.raw)
          |    // (SELECT SUM(raw) FROM hr$i), 0) AS BIGINT) AS h
          |  FROM nodes n LEFT JOIN hr$i r ON r.node = n.node)""".stripMargin)
    }
    head + ",\n" + steps.mkString(",\n") +
      s"""\nSELECT h.node AS doc_id, h.h AS hub_mass, a.a AS auth_mass
        |FROM h$iters h JOIN a$iters a ON a.node = h.node
        |ORDER BY doc_id""".stripMargin
  }

  /** BYTE-SHINGLE MINHASH near-dup over the BINARY payload column —
    * the multimodal rung of the dedup family (VERDICT r13 #7): the
    * payload (text cast to binary — the q_multimodal_binary column;
    * a real pipeline feeds image/audio bytes here) is shingled as
    * sliding 8-BYTE grams inside a partition kernel (the decoder-stub
    * drop-in point: pure byte loops, no string decode), each gram
    * hashed with the §2.0.7 arithmetic polyHash (base 131 mod 1e9+7
    * over byte VALUES — on the ASCII corpus identical to the
    * character hash, which is what makes the oracle exact), then the
    * sid stream flows through the SAME one-pass 16-slot signature agg
    * and band equi-join as q_dedup_minhash. Output: candidate pairs
    * agreeing on ≥8/16 slots.
    *
    * 100 TB: NOTHING per-gram ever leaves the kernel — each task
    * folds its payloads' gram hashes straight into the 16 running
    * min-slots (min over the gram multiset equals min over the set,
    * so no distinct pass exists at all) and emits ONE signature row
    * per doc; candidates come from the (perm, minh) band equi-join,
    * never all-pairs. This is the rowMinhashSig streaming discipline:
    * the signature is computed where the payload lives. */
  def dedupPayload(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val perms = TextOps.permTable
    val pa = perms.map(_._2).toArray
    val pb = perms.map(_._3).toArray
    val sigRows = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        // byte-gram kernel: ROLLING 8-byte polynomial hash (drop the
        // leading byte's 131^7 term, shift, add the new byte — 2 mods
        // per position instead of 8, identical integers), folded
        // directly into the 16 affine min-slots via Mersenne-prime
        // reduction (x mod 2^31−1 by two shift-and-mask folds — no
        // division, same value as %)
        val P = 1000000007L
        val POW7 = { var w = 1L; for (_ <- 0 until 7) w = w * 131 % P; w }
        val M = 2147483647L
        val mins = Array.fill(16)(Long.MaxValue)
        val n = bytes.length
        if (n < 8) Iterator.empty // payload too short for one gram
        else {
          var acc = 0L
          var j = 0
          while (j < 8) { acc = (acc * 131 + (bytes(j) & 0xff)) % P; j += 1 }
          var i = 0
          var more = true
          while (more) {
            var p = 0
            while (p < 16) {
              var x = pa(p) * acc + pb(p)
              x = (x & M) + (x >>> 31)
              x = (x & M) + (x >>> 31)
              if (x >= M) x -= M
              if (x < mins(p)) mins(p) = x
              p += 1
            }
            i += 1
            if (i + 8 > n) more = false
            else {
              var t = (acc - (bytes(i - 1) & 0xff) * POW7) % P
              if (t < 0) t += P
              acc = (t * 131 + (bytes(i + 7) & 0xff)) % P
            }
          }
          Iterator.single((id, mins.toSeq))
        }
      }.toDF("doc_id", "m")
    // NOTE on the band join's cost: byte-grams collide far more than
    // word shingles on template-heavy corpora (~14M bucket row-pairs
    // at sf0.1, max bucket ~1.2k docs) — that expansion IS the
    // workload, and at this SF the broadcast-probe plan Catalyst
    // picks is CPU-optimal (a forced band-key exchange measured +40%
    // CPU for the sort). At 100 TB the sig frame exceeds the
    // broadcast threshold so the same code SMJs on (perm, minh)
    // across the cluster; the dial for pathological buckets is a
    // per-bucket pair cap (drop/flag buckets past ~10k members —
    // exact-clone families the cheaper q_dedup_exact path already
    // collapses).
    val sig = sigRows
      .select(col("doc_id"), posexplode(col("m")).as(Seq("perm", "minh")))
      .localCheckpoint(true)
    graft.api.Dedup.minhashCandidates(sig, "doc_id", minMatches = 8)
      .select(col("d1"), col("d2"), col("matches"),
        round(col("matches") / lit(16.0), 4).as("agreement"))
      .orderBy(col("matches").desc, col("d1").asc, col("d2").asc)
      .limit(100)
  }

  /** spark.ml LINEAR REGRESSION (elastic-net) wrapper beside the
    * exact-moment q_ml_linfit: per event type, the daily-revenue
    * trend refit through the REAL library estimator (regParam 0.01,
    * elasticNetParam 0.5 — the mixed L1/L2 production default) on the
    * same (epoch-day x, daily cents y) support frame. The helper
    * surface every spark.ml user calls for "fit me a trend with
    * regularization"; the unregularized point of the same estimator
    * agrees with q_ml_linfit's closed-form moments (Pipeline33Spec
    * pins it). NO oracle (iterative OWL-QN solve); the spec pins
    * rerun determinism, n_days totality, and the linfit agreement.
    *
    * 100 TB: the only full-data pass is the daily cents agg
    * (map-side partial); each fit runs over the ≤(types × days)
    * support frame — the fit cost is independent of corpus size. */
  def mlLinreg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.regression.LinearRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .select(col("event_type"),
        expr("cast(datediff(d, date '1970-01-01') as double)").as("x"),
        col("cents").cast("double").as("y"))
    val feats = new VectorAssembler().setInputCols(Array("x"))
      .setOutputCol("f")
    val types = daily.select("event_type").distinct()
      .orderBy("event_type").collect().map(_.getString(0)) // ≤5-type domain
    types.toSeq.map { t =>
      // coalesce(1): each OWL-QN iteration is a treeAggregate JOB over
      // this ≤(days)-row support frame — at 32 shuffle partitions that
      // is 32 near-empty tasks per iteration × ~100 iterations × type
      // (~10 CPU-s of pure task overhead measured at sf0.1); one
      // partition is the right layout for a ≤1k-row fit frame
      val frame = feats.transform(daily.where(col("event_type") === t))
        .coalesce(1).persist()
      try {
        val m = new LinearRegression().setFeaturesCol("f").setLabelCol("y")
          .setRegParam(0.01).setElasticNetParam(0.5)
          .setMaxIter(100).setTol(1e-9)
          .fit(frame)
        def r6(v: Double) = BigDecimal(v)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        s.range(1).select(lit(t).as("event_type"),
          lit(frame.count()).as("n_days"),
          lit(r6(m.coefficients(0))).as("slope"),
          lit(r6(m.intercept)).as("intercept"),
          lit(m.summary.totalIterations.toLong).as("iters"))
      } finally { frame.unpersist(false); () }
    }.reduce(_.unionAll(_)).orderBy("event_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_lateral" -> joinLateral,
    "q_fn_unpivot" -> fnUnpivot,
    "q_graph_hits" -> graphHits,
    "q_dedup_payload" -> dedupPayload,
    "q_ml_linreg" -> mlLinreg)

  def oracleSql: Map[String, String] = Map(
    "q_join_lateral" ->
      """SELECT o.o_orderkey, t.l_linenumber, t.price_cents
        |FROM orders o, LATERAL (
        |  SELECT l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |  FROM lineitem WHERE l_orderkey = o.o_orderkey
        |  ORDER BY price_cents DESC, l_linenumber ASC LIMIT 3) t
        |ORDER BY o.o_orderkey, t.price_cents DESC, t.l_linenumber""".stripMargin,
    "q_fn_unpivot" ->
      """WITH m AS (SELECT o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS total_cents,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, metric, value
        |FROM (UNPIVOT m ON n_orders, total_cents, n_custs
        |      INTO NAME metric VALUE value)
        |ORDER BY o_orderstatus, metric""".stripMargin,
    "q_graph_hits" -> hitsOracleSql(3),
    "q_dedup_payload" ->
      s"""WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    list_reduce(list_transform(range(i, i + 8),
        |      j -> CAST(ascii(substring(text, j, 1)) AS BIGINT)),
        |      (a, b) -> (a * 131 + b) % 1000000007) AS sid
        |  FROM (SELECT doc_id, text, unnest(range(1, strlen(text) - 6)) AS i
        |        FROM documents)),
        |perms(perm, a, b) AS (VALUES ${TextOps.permValuesSql}),
        |sig AS (SELECT doc_id, perm, MIN((a * sid + b) % 2147483647) AS minh
        |        FROM sh CROSS JOIN perms
        |        GROUP BY doc_id, perm)
        |SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS matches,
        |  ROUND(COUNT(*) / 16.0, 4) AS agreement
        |FROM sig s1 JOIN sig s2
        |  ON s1.perm = s2.perm AND s1.minh = s2.minh AND s1.doc_id < s2.doc_id
        |GROUP BY d1, d2 HAVING COUNT(*) >= 8
        |ORDER BY matches DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin)
}
