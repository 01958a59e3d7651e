package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Ring 2: round-14 batch 25 — systematic sampling, Yule's K /
  * Simpson's D, and the rich-club coefficient, re-derived from
  * collected sf0.001 frames. */
class Pipeline57Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("systematic: exactly the 13 + 97i ranks of the orderkey order") {
    val keys = Tables.orders(spark, dir).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted
    val expected = keys.zipWithIndex
      .filter { case (_, i) => (i + 1) % 97 == 13 }
      .map { case (k, i) => (k, (i + 1).toLong) }
    val g = run("q_sample_systematic").collect()
    assert(g.length == expected.length && g.nonEmpty)
    g.zip(expected).foreach { case (row, (k, r)) =>
      assert(row.getLong(0) == k)
      assert(row.getLong(1) == r)
    }
  }

  test("yules k: exact spectrum re-derivation; D in [0, 1]") {
    val toks = graft.api.Text
      .tokens(Tables.documents(spark, dir), "doc_id", "text")
      .select("token").collect().map(_.getString(0))
    val freq = toks.groupBy(identity).view.mapValues(_.length.toLong)
    val n = toks.length.toLong
    val sff = freq.values.map(f => f * f).sum
    val sf1 = freq.values.map(f => f * (f - 1)).sum
    val k = 10000.0 * (sff - n).toDouble / (n.toDouble * n)
    val d = sf1.toDouble / (n.toDouble * (n - 1))
    val g = run("q_text_yules_k").collect()
    assert(g.length == 1)
    assert(g.head.getLong(0) == n)
    assert(g.head.getLong(1) == freq.size.toLong)
    assert(math.abs(g.head.getDouble(2) - k) < 1e-6)
    assert(math.abs(g.head.getDouble(3) - d) < 1e-6)
    assert(g.head.getDouble(3) >= 0 && g.head.getDouble(3) <= 1)
  }

  test("rich club: phi from an exact edge scan; monotone-ish core") {
    val pairs = spark.read
      .parquet(operators.TextOps.fullPairs(spark, dir))
      .where(col("matches") >= 8).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val g = run("q_graph_rich_club").collect()
    assert(g.length == 4)
    g.foreach { row =>
      val k = row.getLong(0)
      val nK = deg.values.count(_ > k).toLong
      val eK = pairs.count(p => deg(p._1) > k && deg(p._2) > k).toLong
      assert(row.getLong(1) == nK)
      assert(row.getLong(2) == eK)
      if (nK >= 2) {
        val phi = 2.0 * eK / (nK.toDouble * (nK - 1))
        assert(math.abs(row.getDouble(3) - phi) < 1e-6)
        assert(row.getDouble(3) >= 0 && row.getDouble(3) <= 1 + 1e-9)
      } else assert(row.isNullAt(3))
    }
  }
}
