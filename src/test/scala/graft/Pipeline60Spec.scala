package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Ring 2: round-14 batch 28 — CUSUM, Somers' D / gamma, and the
  * average-neighbor-degree curve. */
class Pipeline60Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("cusum: prefix-min identity equals the recursive definition") {
    val daily = Tables.events(spark, dir)
      .selectExpr("event_type as t", "cast(ts as date) as d",
        "cast(round(value * 100) as bigint) as x")
      .groupBy("t", "d")
      .agg(expr("(sum(x) * 1000000) div count(1)").as("v"))
      .orderBy("t", "d").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val g = run("q_time_cusum").collect()
    val byType = daily.groupBy(_._1)
    assert(g.length == byType.size)
    g.foreach { row =>
      val series = byType(row.getString(0)).sortBy(_._2)
      val n = series.length.toLong
      val sv = series.map(_._3).sum
      // recursive one-sided CUSUM: s_t = max(0, s_{t-1} + y_t)
      var s = 0L; var best = -1L; var bestDay = ""
      series.foreach { case (_, day, v) =>
        s = math.max(0L, s + (n * v - sv))
        if (s > best) { best = s; bestDay = day }
      }
      assert(row.getLong(2) == best)
      assert(row.getDate(1).toString == bestDay)
      assert(math.abs(row.getDouble(3) - best.toDouble / (n * 1e6)) < 1e-6)
    }
  }

  test("somers/gamma: consistent with the kendall pair counts") {
    val k = run("q_ml_kendall_tau").collect().head
    val g = run("q_ml_somers_d").collect()
    assert(g.length == 1)
    val r = g.head
    // same n / concordant / discordant as the tau-b key
    assert(r.getLong(0) == k.getLong(0))
    assert(r.getLong(1) == k.getLong(1))
    assert(r.getLong(2) == k.getLong(2))
    val c = r.getLong(1).toDouble; val d = r.getLong(2).toDouble
    assert(math.abs(r.getDouble(3) - (c - d) / (c + d)) < 1e-6)
    // tau-b is the geometric mean of the two Somers' d
    val tb = k.getDouble(3)
    val geo = math.sqrt(r.getDouble(4) * r.getDouble(5)) *
      math.signum(r.getDouble(4))
    assert(math.abs(math.abs(tb) - math.abs(geo)) < 1e-4)
    // |gamma| >= |d_yx| and |d_xy| (gamma drops tie pairs)
    assert(math.abs(r.getDouble(3)) >= math.abs(r.getDouble(4)) - 1e-9)
    assert(math.abs(r.getDouble(3)) >= math.abs(r.getDouble(5)) - 1e-9)
  }

  test("avg neighbor degree: exact per-class re-derivation") {
    val pairs = spark.read
      .parquet(operators.TextOps.fullPairs(spark, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.length.toLong).toMap
    val g = run("q_graph_avg_neighbor_degree").collect()
    val classes = deg.values.toSet
    assert(g.map(_.getLong(0)).toSet == classes)
    g.foreach { row =>
      val k = row.getLong(0)
      val nodes = deg.filter(_._2 == k).keys.toSeq
      assert(row.getLong(1) == nodes.length.toLong)
      val ssnd = nodes.map(v => adj(v).map(deg).sum).sum
      val knn = ssnd.toDouble / (nodes.length.toDouble * k)
      assert(math.abs(row.getDouble(2) - knn) < 1e-6)
    }
  }
}
