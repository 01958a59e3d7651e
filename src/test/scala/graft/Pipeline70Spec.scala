package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Ring 2: round-15 batch 38 — recursive CTE reachability, explicit
  * Bucketizer, MaxAbsScaler, ElementwiseProduct. */
class Pipeline70Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("recursive reach: BFS re-derivation over the collected graph") {
    val pairs = spark.read
      .parquet(operators.TextOps.fullPairs(spark, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val anchors = adj.keySet.filter(_ % 10 == 0)
    // exact BFS min-hops + walk counts, hop-capped at 4 like the query
    val walks = collection.mutable.Map.empty[Long, Long]
    val hops = collection.mutable.Map.empty[Long, Int]
    var frontier: Map[Long, Long] = anchors.map(_ -> 1L).toMap
    frontier.keys.foreach { n => hops(n) = 0; walks(n) = walks.getOrElse(n, 0L) + 1 }
    for (h <- 1 to 4) {
      val next = collection.mutable.Map.empty[Long, Long]
      frontier.foreach { case (n, c) =>
        adj.getOrElse(n, Nil).foreach { m =>
          next(m) = next.getOrElse(m, 0L) + c }
      }
      next.foreach { case (m, c) =>
        if (!hops.contains(m)) hops(m) = h
        walks(m) = walks.getOrElse(m, 0L) + c
      }
      frontier = next.toMap
    }
    val g = run("q_sub_recursive").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(g.nonEmpty)
    assert(g.map(_._1).toSeq == g.map(_._1).toSeq.sorted)
    assert(g.length == hops.size)
    g.foreach { case (id, h, w) =>
      assert(h == hops(id).toLong, s"hops for $id")
      assert(w == walks(id), s"walks for $id")
    }
    // anchors are their own 0-hop row
    assert(g.filter(_._2 == 0L).map(_._1).toSet == anchors)
  }

  test("bucketizer: bands partition the orders, edges honored") {
    val g = run("q_ml_bucketizer").collect()
    val total = Tables.orders(spark, dir).count()
    assert(g.map(_.getLong(1)).sum == total)
    // left-closed/right-open: each bucket's max stays under the next
    // split, min at/above its own (cent-scaled splits)
    val splits = Seq(Long.MinValue, 100000L, 5000000L, 15000000L,
      30000000L, Long.MaxValue)
    g.foreach { r =>
      val b = r.getLong(0).toInt
      assert(r.getLong(2) >= splits(b))
      assert(r.getLong(3) < splits(b + 1))
    }
  }

  test("maxabs scaler: range bound, sign preserved, max dim hits 1e6") {
    val g = run("q_ml_maxabs_scaler")
    val n = Tables.embeddings(spark, dir).count()
    assert(g.count() == n)
    val rows = g.collect()
    // every flattened dim is a micro-int in [-1e6, 1e6]
    rows.foreach { r =>
      Seq(2, 3, 4, 5).foreach { i =>
        assert(math.abs(r.getLong(i)) <= 1000000L)
      }
    }
    // the row owning each dimension's max |x| scales to exactly +-1e6
    // (floor(1.0 * 1e6) = 1e6; floor(-1.0 * 1e6) = -1e6): check dim 0
    val s0 = rows.map(_.getLong(2))
    assert(s0.max == 1000000L || s0.min == -1000000L)
    // rerun determinism
    val again = run("q_ml_maxabs_scaler").collect()
      .map(_.getLong(6))
    assert(again.toSeq == rows.map(_.getLong(6)).toSeq)
  }

  test("elementwise product: exact per-dim re-derivation") {
    val emb = Tables.embeddings(spark, dir)
      .selectExpr("cast(vec_id as long)",
        "transform(embedding, x -> cast(x as double))")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val exp = emb.map { case (id, v) =>
      val q = v.zipWithIndex.map { case (x, d) =>
        math.floor(x * ((d % 7 + 1) / 8.0) * 1e6).toLong }
      (id, q.head, q.sum)
    }.sortBy(_._1)
    val g = run("q_ml_elementwise_product").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(6)))
    assert(g.toSeq == exp.toSeq)
  }
}
