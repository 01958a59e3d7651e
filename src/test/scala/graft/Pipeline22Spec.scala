package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Ring 2: round-11 batch 2 — graph BFS/assortativity, Interaction,
  * distribution windows, diversity profile, exact-integer EWMA and
  * autocorrelation, and the MLlib euclidean-LSH ANN wrapper. The
  * oracle keys get shape/invariant pins on top of the DuckDB gate;
  * the no-oracle key (q_sim_ann_brp) gets the graded contract:
  * determinism + recall vs the exact euclidean top-k. */
class Pipeline22Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  private def graphEdges(): Set[(Long, Long)] = {
    import operators.TextOps
    spark.read.parquet(TextOps.fullPairs(spark, dir))
      .where(col("matches") >= 8).select("d1", "d2").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0))).toSet
  }

  test("shortest path: BFS validity on every settled node") {
    val rs = run("q_graph_shortest_path").collect()
    assert(rs.nonEmpty, "seed set must reach at least itself")
    val dist = rs.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.values.forall(d => d >= 0 && d <= 4))
    // seeds are exactly the settled nodes at distance zero
    dist.foreach { case (n, d) =>
      if (n % 97 == 0) assert(d == 0L) else assert(d > 0L)
    }
    val edges = graphEdges()
    // BFS certificate: every non-seed settled node has a neighbor
    // exactly one hop closer, and no edge spans a gap > 1 between
    // two settled nodes (triangle inequality on hop distance).
    dist.foreach { case (n, d) =>
      if (d > 0)
        assert(edges.exists { case (a, b) =>
          a == n && dist.get(b).contains(d - 1) },
          s"node $n at dist $d lacks a predecessor")
    }
    edges.foreach { case (a, b) =>
      (dist.get(a), dist.get(b)) match {
        case (Some(da), Some(db)) => assert(math.abs(da - db) <= 1)
        case (Some(da), None) => assert(da == 4L,
          s"unsettled neighbor of $a implies dist 4 frontier")
        case _ => ()
      }
    }
  }

  test("assortativity: single row, bounded, matches direct Pearson") {
    val rs = run("q_graph_assortativity").collect()
    assert(rs.length == 1)
    val edges = graphEdges()
    assert(rs.head.getLong(0) == edges.size)
    if (!rs.head.isNullAt(1)) {
      val r = rs.head.getDouble(1)
      assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9)
      // direct recomputation from the collected edge list
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      val xy = edges.toSeq.map { case (a, b) =>
        (deg(a).toDouble, deg(b).toDouble) }
      val n = xy.size
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxx = xy.map(p => p._1 * p._1).sum
      val syy = xy.map(p => p._2 * p._2).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val expected = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      assert(math.abs(r - expected) < 1e-5)
    }
  }

  test("interaction: exactly one live pair per row, exact products") {
    val rs = run("q_ml_interaction").collect()
    assert(rs.length == Tables.customer(spark, dir).count())
    assert(rs.forall(_.getLong(2) == 6L))
    val base = Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_nationkey"),
      expr("cast(round(c_acctbal * 100) as bigint)"),
      length(col("c_name")).cast("long")).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    rs.foreach { r =>
      val (nat, cents, nl) = base(r.getLong(0))
      val g = ((nat % 3) + 3) % 3
      val expected = (0 until 3).flatMap { i =>
        if (i == g) Seq(cents, nl) else Seq(0L, 0L) }.mkString(",")
      assert(r.getString(1) == expected,
        s"custkey ${r.getLong(0)}: ${r.getString(1)} != $expected")
    }
  }

  test("cume_dist: partition-closed ppm bounds and quartile split") {
    val rs = run("q_win_cume_dist").collect()
    assert(rs.length == Tables.orders(spark, dir).count())
    assert(rs.forall(r => r.getLong(2) > 0 && r.getLong(2) <= 1000000))
    assert(rs.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 1000000))
    assert(rs.forall(r => r.getLong(4) >= 1 && r.getLong(4) <= 4))
    // each priority partition tops out at exactly ppm 1e6, and its
    // max percent_rank is 1e6 (n>1 partitions in the fixture)
    rs.groupBy(_.getString(1)).foreach { case (_, part) =>
      assert(part.map(_.getLong(2)).max == 1000000L)
      assert(part.map(_.getLong(3)).max == 1000000L)
      val quarts = part.groupBy(_.getLong(4)).view.mapValues(_.size)
      // ntile balance: sizes differ by at most 1
      assert(quarts.values.max - quarts.values.min <= 1)
    }
  }

  test("entropy: bounds and exact Simpson recomputation") {
    val rs = run("q_agg_entropy").collect()
    assert(rs.nonEmpty)
    assert(rs.map(_.getLong(1)).sum ==
      Tables.documents(spark, dir).count())
    val counts = Tables.documents(spark, dir)
      .groupBy("source", "lang").count().collect()
      .groupBy(_.getString(0))
    rs.foreach { r =>
      val h = r.getDouble(3)
      val langs = r.getLong(2)
      assert(h >= -1e-9 && h <= math.log(langs.toDouble) + 1e-9,
        s"entropy $h outside [0, ln($langs)]")
      val cs = counts(r.getString(0)).map(_.getLong(2))
      val n = cs.sum
      val simpson = 1000000L - 1000000L * cs.map(c => c * c).sum /
        (n * n)
      assert(r.getLong(4) == simpson)
    }
  }

  test("ewma: exact fixed-point recomputation from daily cents") {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate) -> r.getLong(2))
      .toMap
    // documented int64 precondition: per-(type, day) cents < 2^31
    // (above it v << 31 would wrap — the doc-comment contract)
    assert(daily.values.forall(_ < (1L << 31)))
    val rs = run("q_time_ewma").collect()
    assert(rs.length == daily.size)
    rs.foreach { r =>
      val key = (r.getString(0), r.getDate(1).toLocalDate)
      assert(daily(key) == r.getLong(2))
      val num = (0 to 31).map { k =>
        daily.getOrElse((key._1, key._2.minusDays(k)), 0L) <<
          (31 - k) }.sum
      assert(r.getLong(3) == num / 4294967295L,
        s"$key ewma mismatch")
    }
  }

  test("autocorr: bounded and pair counts match the calendar join") {
    val rs = run("q_events_autocorr").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      if (!r.isNullAt(2)) {
        val v = r.getDouble(2)
        assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9)
      }
      assert(r.getLong(1) > 0)
    }
  }

  test("ann brp: deterministic, threshold-true, recall vs exact top-5") {
    val rs = run("q_sim_ann_brp").collect()
    assert(rs.nonEmpty)
    assert(rs.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 5))
    assert(rs.forall(r => r.getLong(3) >= 0 &&
      r.getLong(3) <= 1350000L))
    // determinism: the seeded hash family + threshold-defined
    // candidate set + total-order re-rank reproduce exactly
    val again = run("q_sim_ann_brp").collect()
    assert(rs.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // recall vs exact euclidean top-5 (fixture corpus brute force)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val probes = vecs.keys.filter(_ % 100 == 0)
    val hits = probes.toSeq.map { p =>
      val exact = (vecs - p).toSeq
        .map { case (id, v) => (d2(vecs(p), v), id) }
        .sortBy(identity).take(5).map(_._2).toSet
      val got = rs.filter(_.getLong(0) == p).map(_.getLong(2)).toSet
      exact.intersect(got).size
    }
    val recall = hits.sum.toDouble / (probes.size * 5)
    assert(recall >= 0.5, s"ANN recall $recall below bound")
  }
}
