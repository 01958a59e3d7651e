package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Ring 2: round-13 batch 2 — cross-key consistency of the modularity
  * readout against the LPA map it scores, degree-histogram edge
  * conservation, and calendar-profile share/rank invariants. */
class Pipeline26Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("modularity: scores the exact LPA map; terms bounded; degrees conserve") {
    val mod = run("q_graph_modularity").collect()
    val lpa = run("q_graph_lpa").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = spark.read.parquet(
        operators.TextOps.fullPairs(spark, dir))
      .where(col("matches") >= 8)
    val m = pairs.count()
    // same communities, same sizes, same intra-edge counts as the
    // graded LPA readout (they share lpaParts by construction)
    assert(mod.map(_.getLong(0)).toSet == lpa.keySet)
    mod.foreach { r =>
      val (nd, ie) = lpa(r.getLong(0))
      assert(r.getLong(1) == nd && r.getLong(2) == ie)
      // a community term is at most e_c/m <= 1
      assert(r.getLong(4) <= 1000000L)
    }
    // Σ deg_sum = 2m (degrees partition the edge endpoints) and
    // Σ intra <= m
    assert(mod.map(_.getLong(3)).sum == 2 * m)
    assert(mod.map(_.getLong(2)).sum <= m)
    // Q = Σ q_c in (-1, 1] — ppm total inside the bound (truncation
    // moves each term < 1 ppm toward zero)
    val q = mod.map(_.getLong(4)).sum
    assert(q > -1000000L && q <= 1000000L, s"Q_ppm=$q")
  }

  test("degree dist: node and edge totals conserve; shares cap at 1e6") {
    val hist = run("q_graph_degree_dist").collect()
    val pairs = spark.read.parquet(
        operators.TextOps.fullPairs(spark, dir))
      .where(col("matches") >= 8)
    val m = pairs.count()
    val nodes = pairs.select(col("d1").as("n"))
      .union(pairs.select(col("d2").as("n"))).distinct().count()
    assert(hist.map(_.getLong(1)).sum == nodes)
    assert(hist.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * m)
    assert(hist.forall(_.getLong(2) <= 1000000L))
    // truncated shares under-count by < 1 ppm per distinct degree
    val s = hist.map(_.getLong(2)).sum
    assert(s > 1000000L - hist.length && s <= 1000000L)
  }

  test("seasonality: weekday domain, per-type share/rank invariants") {
    val df = run("q_events_seasonality").cache()
    try {
      assert(df.where(col("wd") < 0 || col("wd") > 6).count() == 0)
      // counts conserve against the raw stream per type
      val raw = Tables.events(spark, dir)
        .groupBy("event_type").agg(count(lit(1)).as("n_raw"))
      val tot = df.groupBy("event_type").agg(sum("n").as("n_sum"),
        sum("share_ppm").as("ppm_sum"), count(lit(1)).as("n_wd"),
        max("rnk").as("max_rnk"), min("rnk").as("min_rnk"))
      val bad = tot.join(raw, "event_type")
        .where(col("n_sum") =!= col("n_raw") ||
          col("ppm_sum") > 1000000L ||
          col("ppm_sum") <= lit(1000000L) - col("n_wd") ||
          col("max_rnk") =!= col("n_wd") || col("min_rnk") =!= 1L)
      assert(bad.count() == 0)
      // rank 1 is the weekday with the max count per type
      val r1 = df.where(col("rnk") === 1)
        .select(col("event_type"), col("n").as("n1"))
      val mx = df.groupBy("event_type").agg(max("n").as("nmax"))
      assert(r1.join(mx, "event_type")
        .where(col("n1") =!= col("nmax")).count() == 0)
    } finally { df.unpersist(); () }
  }
}
