package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.40 round-13 batch 3 — the next rung on each established family:
  * classical seasonal DECOMPOSITION (trend/seasonal/residual — the
  * structural readout q_time_holt smooths over), per-node CLUSTERING
  * COEFFICIENT (the local closure score whose global twin is
  * q_graph_triangles), an ANOVA F-VALUE selector completing the
  * selector trio (chi² rank, variance threshold, F-test), a trailing
  * 7-day ROLLING ACTIVE-USERS profile (q_events_dau_mau's short-window
  * sibling), and an LR LEARNING CURVE over the shared target harness.
  * Four of five are exactly oracle-able.
  */
object Pipeline27 extends graft.QueryModule {

  /** CLASSICAL SEASONAL DECOMPOSITION (additive, weekly period) of
    * daily revenue cents per event type, all-integer: the calendar is
    * gap-filled per type (absent days are zero revenue — the
    * q_events_gapfill spine discipline), the trend is the centered
    * 7-day moving sum divided by 7 (defined only where the full
    * window exists; cents are non-negative so plain truncating
    * division is engine-identical), the detrended series is kept in
    * exact sevenths (detr7 = 7·v − s7 — NO division, so the weekday
    * aggregation below is exact), and the seasonal component per
    * (type, weekday) is the mean of detr7 over full-window days,
    * divided back by 7 with sign-split truncation (detrended values
    * are routinely negative — the q_time_holt rule). Residual =
    * v − trend − seas on full-window days. Weekday is Spark
    * `weekday` == DuckDB `isodow − 1` (the Pipeline26 pin).
    *
    * 100 TB: one full-data daily agg; the spine join, 7-row windows
    * (partitioned by type), weekday agg, and broadcast seasonal join
    * all run on the support-sized (type × day) calendar frame. */
  /** The shared decomposition build — the gap-filled windowed frame
    * with the broadcast weekday seasonal attached (columns event_type,
    * d, wd, v, trend, detr7, seas); split out so the strength readout
    * (Pipeline28.timeSeasonalStrength) scores the SAME decomposition
    * this key reports (the lpaParts precedent). */
  private[operators] def decomposeParts(s: SparkSession,
      dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
    val bounds = daily.groupBy("event_type")
      .agg(min("d").as("d0"), max("d").as("d1"))
    val spine = bounds.select(col("event_type"),
      explode(expr("sequence(d0, d1)")).as("d"))
    val filled = spine.join(daily, Seq("event_type", "d"), "left")
      .withColumn("v", coalesce(col("v"), lit(0L)))
    val w7 = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-3, 3)
    val wtr = filled
      .withColumn("s7", sum("v").over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .withColumn("wd", weekday(col("d")))
      .withColumn("trend", when(col("c7") === 7, expr("s7 div 7")))
      .withColumn("detr7", when(col("c7") === 7, expr("7 * v - s7")))
      .localCheckpoint() // support-sized; weekday agg + projection below
    val seas = wtr.where(col("detr7").isNotNull)
      .groupBy("event_type", "wd")
      .agg(sum("detr7").as("sw"), count(lit(1)).as("cw"))
      .select(col("event_type"), col("wd"),
        expr("case when sw >= 0 then sw div (7 * cw)" +
          " else -((-sw) div (7 * cw)) end").as("seas"))
    wtr.join(broadcast(seas), Seq("event_type", "wd"))
  }

  def timeDecompose(s: SparkSession, dir: String): DataFrame =
    decomposeParts(s, dir)
      .select(col("event_type"), col("d"), col("v").as("v_cents"),
        col("trend").as("trend_cents"), col("seas").as("seas_cents"),
        when(col("trend").isNotNull, expr("v - trend - seas"))
          .as("resid_cents"))
      .orderBy("event_type", "d")

  /** PER-NODE CLUSTERING COEFFICIENT over the stored ≥8-band candidate
    * graph — the local closure score (q_graph_triangles' global
    * closure_ppm, resolved per node; the hub-structure dial behind the
    * common-neighbors cap): per doc, degree, triangle count, and
    * coeff_ppm = 2·10⁶·t div (deg·(deg−1)) (NULL for deg < 2 — the
    * 0-denominator guard). Triangle counts come from the SAME
    * degree-ORIENTED enumeration q_graph_triangles runs (each edge
    * oriented low-degree → high-degree, wedges joined to closing
    * edges), so every triangle materializes exactly once and is then
    * exploded to its three corners — wedge volume stays O(Σ min-deg)
    * ≈ O(m^1.5), the scalable bound, never Σ deg².
    *
    * 100 TB: all joins are hash equi-joins on the support-sized band
    * graph; the corner explode is 3× the triangle count. No BNLJ, no
    * funnel — the q_graph_* suite pin holds. */
  /** The shared degree-oriented triangle enumeration — (stored pairs,
    * degree frame, one row per triangle (a, b, c)); split out so the
    * per-edge Jaccard readout (Pipeline28.graphEdgeJaccard) scores the
    * SAME enumeration (the decomposeParts/lpaParts precedent). */
  private[operators] def triParts(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val pairs = Tables.read(s, TextOps.fullPairs(s, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .localCheckpoint() // support-sized; deg + orientation + closure
    val deg = pairs.select(col("d1").as("n"))
      .union(pairs.select(col("d2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
      .localCheckpoint() // orientation join + final readout
    val lowFirst = pairs
      .join(deg.select(col("n").as("d1"), col("dg").as("dg1")), "d1")
      .join(deg.select(col("n").as("d2"), col("dg").as("dg2")), "d2")
      .select(expr("dg1 < dg2 or (dg1 = dg2 and d1 < d2)").as("lo1"),
        col("d1"), col("d2"))
    val oriented = lowFirst.select(
        when(col("lo1"), col("d1")).otherwise(col("d2")).as("src"),
        when(col("lo1"), col("d2")).otherwise(col("d1")).as("dst"))
      .localCheckpoint() // two wedge sides
    val tri = oriented.select(col("src").as("a"), col("dst").as("b"))
      .join(oriented.select(col("src").as("a"), col("dst").as("c")), "a")
      .where(col("b") < col("c"))
      .join(pairs.select(col("d1").as("b"), col("d2").as("c")),
        Seq("b", "c"))
    (pairs, deg, tri)
  }

  def graphClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val (_, deg, tri) = triParts(s, dir)
    val corners = tri.select(col("a").as("n"))
      .unionAll(tri.select(col("b").as("n")))
      .unionAll(tri.select(col("c").as("n")))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(corners, Seq("n"), "left")
      .withColumn("t", coalesce(col("t"), lit(0L)))
      .select(col("n").as("doc_id"), col("dg").as("deg"),
        col("t").as("triangles"),
        when(col("dg") >= 2,
          expr("(2000000 * t) div (dg * (dg - 1))")).as("coeff_ppm"))
      .orderBy("doc_id")
  }

  /** ANOVA F-VALUE feature selector (the spark.ml ANOVASelector twin —
    * completes the selector trio with q_ml_feature_select's chi² rank
    * and q_ml_variance_selector's variance threshold) via the
    * exact-integer-moment discipline: per embedding dimension, values
    * land on the micro grid, per-(dim, label) integer moments give
    * between/within sums of squares on the micro² scale —
    * ssb = Σ_g T_g² div n_g − T² div N and
    * ssw = Σq² − Σ_g (T_g² div n_g), each per-group term truncated
    * by the SAME defined rule both engines share (whole micro² units
    * — the T_g² products run in decimal(38,0), and their quotients
    * fit int64 at any n_g since T_g²/n_g ≤ n_g·max(q)²; ssb may go
    * marginally negative at near-zero between-group variance —
    * sign-split, the house rule) — and
    * F_ppm = (10⁶·ssb·(N−k)) div (ssw·(k−1)). The top-8 selection
    * rank is the q_ml_feature_select theta-rank self-join over the
    * 64-row stat frame (broadcast; NEVER a partition-less window —
    * no funnel).
    *
    * 100 TB: one posexplode hash agg to the (dim × label) ≤640-row
    * moment frame (map-side partial); everything downstream is
    * support-frame arithmetic. */
  def mlAnovaSelect(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("pos").as("dim"), col("label"),
        expr("cast(floor(cast(col as double) * 1000000) as bigint)")
          .as("q"))
    val grp = ex.groupBy("dim", "label")
      .agg(count(lit(1)).as("ng"),
        sum(expr("cast(q as decimal(38,0))")).as("sg"),
        sum(expr("cast(q as decimal(38,0)) * q")).as("sqq"))
    val stat = grp.groupBy("dim")
      .agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum("sg").as("t"), sum("sqq").as("sqqt"),
        sum(expr("(sg * sg) div ng")).as("ssb_terms"))
      .select(col("dim"), col("k"), col("n"),
        expr("ssb_terms - (t * t) div n").as("ssb"),
        expr("cast(sqqt as bigint) - ssb_terms").as("ssw"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        // `div` yields BIGINT even on decimal operands, so ssb/ssw are
        // longs (~1e16 at sf0.1) — re-widen before the 1e6 scale-up or
        // the F numerator overflows int64
        when(col("ssw") > 0 && col("k") > 1,
          expr("cast(case when ssb >= 0 then" +
            " (1000000 * cast(ssb as decimal(38,0)) * (n - k))" +
            " div (cast(ssw as decimal(38,0)) * (k - 1))" +
            " else -((-1000000 * cast(ssb as decimal(38,0)) * (n - k))" +
            " div (cast(ssw as decimal(38,0)) * (k - 1)))" +
            " end as bigint)")).as("f_ppm"))
      .localCheckpoint() // 64 rows; theta-rank self-join below
    val fr = "coalesce(f_ppm, -1000000000000000000)"
    val other = stat.select(col("dim").as("d2"),
      expr(fr).as("f2"))
    stat.withColumn("f1", expr(fr))
      .join(broadcast(other),
        col("f2") > col("f1") ||
          (col("f2") === col("f1") && col("d2") < col("dim")),
        "left")
      .groupBy("dim", "n", "f_ppm")
      .agg((count("d2") + 1).as("sel_rank"))
      .select(col("dim"), col("n"), col("f_ppm"), col("sel_rank"),
        (col("sel_rank") <= 8).as("selected"))
      .orderBy("dim")
  }

  /** TRAILING 7-DAY ROLLING ACTIVE USERS per event type —
    * q_events_dau_mau's short-window per-type sibling (the retention
    * dashboard's WAU line): per (type, active day), that day's
    * distinct users (dau), the distinct users over [d−6, d]
    * (active_7d), and the exact stickiness ratio in ppm. The rolling
    * distinct is the dau_mau forward-explode: each (type, user, day)
    * activity row covers days d..d+6, distinct again, count — one
    * distinct shuffle plus a bounded 7× fan-out of the ALREADY
    * de-duplicated activity frame; an exact sliding countDistinct
    * window would instead buffer user sets per day.
    *
    * 100 TB: distinct (type, user, day) is the only row-scale
    * shuffle; the explode multiplies the deduplicated frame by 7,
    * bounded by construction. */
  def eventsActiveRolling(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        to_date(col("ts")).as("d"))
      .distinct()
      .localCheckpoint() // two consumers: dau + the 7-day span
    val dau = act.groupBy("event_type", "d")
      .agg(count(lit(1)).as("dau"))
    val a7 = act
      .select(col("event_type"), col("user_id"),
        explode(expr("sequence(d, date_add(d, 6))")).as("d"))
      .distinct()
      .groupBy("event_type", "d").agg(count(lit(1)).as("active_7d"))
    dau.join(a7, Seq("event_type", "d"))
      .select(col("event_type"), col("d").as("day"), col("dau"),
        col("active_7d"),
        expr("(1000000 * dau) div active_7d").as("ratio_ppm"))
      .orderBy("event_type", "day")
  }

  /** LR LEARNING CURVE over the shared harness (the ML-helper
    * diagnostic every model-fitting user draws first): logistic
    * regression on the seeded KMeans target at three nested train
    * fractions (folds {1}, {1,2}, {1,2,3} of the deterministic
    * vec_id-mod-5 split — 20/40/60%), each evaluated on the SAME
    * held-out fold 0; per fraction, train size, test size, and
    * held-out accuracy in exact ppm. NO oracle (seeded L-BFGS fits);
    * Pipeline27Spec pins determinism across two runs, the exact
    * nested train counts, and accuracy above the 10-class chance
    * floor at every fraction.
    *
    * 100 TB: three bounded-iteration fits (treeAggregate coefficient
    * state, independent of row count) over nested subsets of the
    * persisted labeled frame; readouts are 1-row aggs. */
  def mlLearningCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    val km = VectorOps.kmeansTarget(s, dir)
    val labeled = km.transform(VectorOps.sharedRawFeats(s, dir))
      .withColumn("t", col("target").cast("double"))
      .persist() // 3 eager fits + 3 transforms + 3 bounded counts
    try {
      val test = labeled.where(pmod(col("vec_id"), lit(5)) === 0)
      (1 to 3).map { i =>
        val train = labeled
          .where(pmod(col("vec_id"), lit(5)).between(1, i))
        val m = new LogisticRegression().setMaxIter(5).setRegParam(0.01)
          .setFeaturesCol("raw").setLabelCol("t").fit(train)
        val trainN = train.count() // bounded driver scalar
        m.transform(test)
          .agg(count(lit(1)).as("test_n"),
            sum(when(col("prediction") === col("t"), 1L).otherwise(0L))
              .as("correct"))
          .select(lit(i * 20L).as("train_pct"),
            lit(trainN).as("train_n"), col("test_n"),
            expr("(1000000 * correct) div test_n").as("accuracy_ppm"))
      }.reduce(_.unionAll(_)).orderBy("train_pct")
    } finally labeled.unpersist(false)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_time_decompose" -> timeDecompose,
    "q_graph_clustering_coeff" -> graphClusteringCoeff,
    "q_ml_anova_select" -> mlAnovaSelect,
    "q_events_active_rolling" -> eventsActiveRolling,
    "q_ml_learning_curve" -> mlLearningCurve)

  def oracleSql: Map[String, String] = Map(
    "q_time_decompose" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |bounds AS (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1
        |           FROM daily GROUP BY event_type),
        |spine AS (SELECT event_type,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM bounds),
        |filled AS (SELECT s.event_type, s.d, COALESCE(daily.v, 0) AS v
        |  FROM spine s LEFT JOIN daily
        |    ON daily.event_type = s.event_type AND daily.d = s.d),
        |wtr AS (SELECT event_type, d, v, isodow(d) - 1 AS wd,
        |    SUM(v) OVER w AS s7, COUNT(*) OVER w AS c7
        |  FROM filled WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |wtr2 AS (SELECT event_type, d, wd, v,
        |    CASE WHEN c7 = 7 THEN s7 // 7 END AS trend,
        |    CASE WHEN c7 = 7 THEN 7 * v - s7 END AS detr7
        |  FROM wtr),
        |seas AS (SELECT event_type, wd,
        |    CAST(CASE WHEN SUM(detr7) >= 0
        |      THEN SUM(detr7) // (7 * COUNT(*))
        |      ELSE -((-SUM(detr7)) // (7 * COUNT(*))) END AS BIGINT)
        |      AS seas
        |  FROM wtr2 WHERE detr7 IS NOT NULL GROUP BY event_type, wd)
        |SELECT w.event_type, w.d, CAST(w.v AS BIGINT) AS v_cents,
        |  CAST(w.trend AS BIGINT) AS trend_cents, s.seas AS seas_cents,
        |  CAST(CASE WHEN w.trend IS NOT NULL
        |    THEN w.v - w.trend - s.seas END AS BIGINT) AS resid_cents
        |FROM wtr2 w JOIN seas s
        |  ON s.event_type = w.event_type AND s.wd = w.wd
        |ORDER BY w.event_type, w.d""".stripMargin,
    "q_graph_clustering_coeff" -> (Pipeline23.pairsHead + ",\n" +
      """deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS dg
        |        FROM e0 GROUP BY src),
        |ori AS (SELECT CASE WHEN a.dg < b.dg
        |                 OR (a.dg = b.dg AND p.d1 < p.d2)
        |               THEN p.d1 ELSE p.d2 END AS src,
        |               CASE WHEN a.dg < b.dg
        |                 OR (a.dg = b.dg AND p.d1 < p.d2)
        |               THEN p.d2 ELSE p.d1 END AS dst
        |        FROM pairs p JOIN deg a ON a.n = p.d1
        |        JOIN deg b ON b.n = p.d2),
        |tr AS (SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
        |       FROM ori o1 JOIN ori o2
        |         ON o2.src = o1.src AND o1.dst < o2.dst
        |       JOIN pairs p3 ON p3.d1 = o1.dst AND p3.d2 = o2.dst),
        |cor AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM (
        |    SELECT a AS n FROM tr UNION ALL SELECT b FROM tr
        |    UNION ALL SELECT c FROM tr) GROUP BY n)
        |SELECT d.n AS doc_id, d.dg AS deg,
        |  CAST(COALESCE(cor.t, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.dg >= 2 THEN
        |    CAST((2000000 * COALESCE(cor.t, 0))
        |      // (d.dg * (d.dg - 1)) AS BIGINT) END AS coeff_ppm
        |FROM deg d LEFT JOIN cor ON cor.n = d.n
        |ORDER BY doc_id""".stripMargin),
    "q_ml_anova_select" ->
      """WITH ex AS (
        |  SELECT d AS dim, label,
        |         CAST(FLOOR(v[d+1] * 1000000) AS BIGINT) AS q
        |  FROM (SELECT label, embedding::DOUBLE[] AS v,
        |          unnest(range(0, len(embedding))) AS d
        |        FROM embeddings)),
        |g AS (SELECT dim, label, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(q AS HUGEINT)) AS sg,
        |    SUM(CAST(q AS HUGEINT) * q) AS sqq
        |  FROM ex GROUP BY dim, label),
        |p AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS HUGEINT) AS n, SUM(sg) AS t,
        |    SUM(sqq) AS sqqt,
        |    SUM((sg * sg) // ng) AS ssb_terms
        |  FROM g GROUP BY dim),
        |st AS (SELECT dim, k, n,
        |    ssb_terms - (t * t) // n AS ssb,
        |    sqqt - ssb_terms AS ssw
        |  FROM p),
        |f AS (SELECT dim, n,
        |    CASE WHEN ssw > 0 AND k > 1 THEN
        |      CAST(CASE WHEN ssb >= 0 THEN
        |          (1000000 * ssb * (n - k)) // (ssw * (k - 1))
        |        ELSE -((-1000000 * ssb * (n - k)) // (ssw * (k - 1)))
        |        END AS BIGINT) END AS f_ppm
        |  FROM st),
        |r AS (SELECT f1.dim, f1.n, f1.f_ppm,
        |    1 + (SELECT COUNT(*) FROM f f2
        |         WHERE COALESCE(f2.f_ppm, -1000000000000000000)
        |             > COALESCE(f1.f_ppm, -1000000000000000000)
        |            OR (COALESCE(f2.f_ppm, -1000000000000000000)
        |              = COALESCE(f1.f_ppm, -1000000000000000000)
        |             AND f2.dim < f1.dim)) AS sel_rank
        |  FROM f f1)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
        |  f_ppm, CAST(sel_rank AS BIGINT) AS sel_rank,
        |  sel_rank <= 8 AS selected
        |FROM r ORDER BY dim""".stripMargin,
    "q_events_active_rolling" ->
      """WITH act AS (SELECT DISTINCT event_type, user_id AS u,
        |    CAST(ts AS DATE) AS d FROM events),
        |dau AS (SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM act GROUP BY event_type, d),
        |span AS (SELECT DISTINCT event_type, u, d FROM (
        |    SELECT event_type, u, CAST(unnest(generate_series(
        |      CAST(d AS TIMESTAMP), CAST(d AS TIMESTAMP)
        |        + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS d
        |    FROM act)),
        |a7 AS (SELECT event_type, d,
        |         CAST(COUNT(*) AS BIGINT) AS active_7d
        |       FROM span GROUP BY event_type, d)
        |SELECT dau.event_type, dau.d AS day, dau.dau, a7.active_7d,
        |  CAST((1000000 * dau.dau) // a7.active_7d AS BIGINT)
        |    AS ratio_ppm
        |FROM dau JOIN a7
        |  ON a7.event_type = dau.event_type AND a7.d = dau.d
        |ORDER BY dau.event_type, day""".stripMargin)
}
