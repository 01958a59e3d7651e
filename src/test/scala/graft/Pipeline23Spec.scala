package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Ring 2: round-11 batch 3 — k-core, common-neighbor link
  * prediction, robust dispersion (median/MAD), CUSUM changepoint,
  * and RAKE keywords. All five keys are oracle-exact at the graded
  * gate; this ring pins the claims the oracle can't see:
  * the k-core FIXED POINT inside the unrolled 4 rounds, the CN
  * hub-cap contract (on a synthetic graph with an actual super-hub —
  * the fixture band graph is a union of cliques, so its CN frame is
  * empty at every test SF), MAD/CUSUM direct recomputation, and the
  * RAKE scoring invariants. */
class Pipeline23Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  /** Undirected fixture edge list (both directions), the ≥8-band
    * candidate graph every q_graph_* key reads. */
  private def graphEdges(): Set[(Long, Long)] = {
    import operators.TextOps
    spark.read.parquet(TextOps.fullPairs(spark, dir))
      .where(col("matches") >= 8).select("d1", "d2").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0))).toSet
  }

  /** Peel deg<3 nodes until convergence; returns (core adjacency,
    * rounds to reach the fixed point). */
  private def peel(edges: Set[(Long, Long)]): (Set[(Long, Long)], Int) = {
    var cur = edges
    var rounds = 0
    var changed = true
    while (changed) {
      val keep = cur.groupBy(_._1).collect {
        case (n, es) if es.size >= 3 => n
      }.toSet
      val next = cur.filter { case (a, b) => keep(a) && keep(b) }
      changed = next != cur
      cur = next
      if (changed) rounds += 1
    }
    (cur, rounds)
  }

  test("kcore: fixture reaches the fixed point inside the 4 unrolled rounds") {
    val (core, rounds) = peel(graphEdges())
    assert(rounds <= 4,
      s"fixture needs $rounds peeling rounds; the unrolled plan runs 4 " +
        "— the doc-comment fixed-point claim would be false")
    val rs = run("q_graph_kcore").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = core.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(rs == expected, "4-round peel != converged 3-core")
    // self-consistency: every member has degree >= 3 inside the core
    assert(rs.values.forall(_ >= 3L))
  }

  test("common neighbors: hub cap excludes super-hub wedges, keeps low ones") {
    val sp = spark
    import sp.implicits._
    // Synthetic graph: hub 1000 with degree 70 (> cnHubCap = 64);
    // pair (1,2) shares middles {201, 202, hub}; pair (3,4) shares
    // {203, hub}; pair (5,6) is ADJACENT and shares {204, 205}.
    val hub = (1L to 70L).map(i => (1000L, i))
    val low = Seq((1L, 201L), (2L, 201L), (1L, 202L), (2L, 202L),
      (3L, 203L), (4L, 203L),
      (5L, 6L), (5L, 204L), (6L, 204L), (5L, 205L), (6L, 205L))
    val und = (hub ++ low).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val rs = operators.Pipeline23.commonNeighborsFrom(und).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // Hand-derived: wedges enumerate ONLY through deg <= 64 middles,
    // so (1,2) counts cn = 2 (middles 201, 202 — the hub wedge is
    // dropped; uncapped cn would be 3) at jaccard 2/(3+3-2) ppm, and
    // the cross-structure pairs through low middles 1..6 survive
    // with their raw-degree jaccards (deg(1000) = 70 in the
    // denominators). (5,6) is adjacent (anti-joined away) and the
    // C(70,2) hub-spoke pairs never form a wedge at all.
    val expected = Set(
      (1L, 2L, 2L, 500000L),
      (201L, 202L, 2L, 1000000L),
      (204L, 205L, 2L, 1000000L),
      (201L, 1000L, 2L, 28571L),
      (202L, 1000L, 2L, 28571L),
      (203L, 1000L, 2L, 28571L),
      (204L, 1000L, 2L, 28571L),
      (205L, 1000L, 2L, 28571L))
    assert(rs == expected, rs.mkString("; "))
    // (3,4) would have cn = 2 WITHOUT the cap (shared hub + 203);
    // its absence is the hub-exclusion pin, and (1,2)'s cn staying 2
    // (not 3) pins that hub wedges don't inflate surviving pairs.
    assert(!rs.exists(r => r._1 == 3L))
  }

  test("common neighbors: graded key is cap-consistent on the fixture") {
    val edges = graphEdges()
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val adjOf = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toMap.withDefaultValue(Set.empty[Long])
    val cap = operators.Pipeline23.cnHubCap
    val expected = edges.toSeq.filter(e => deg(e._1) <= cap)
      .flatMap { case (w, a) =>
        adjOf(w).collect { case c if a < c => (a, c) } }
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case ((a, c), cn) => cn >= 2 && !adjOf(a)(c) }
      .map { case ((a, c), cn) =>
        (a, c, cn, 1000000L * cn / (deg(a) + deg(c) - cn)) }.toSet
    val rs = run("q_graph_common_neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rs == expected)
  }

  test("mad: direct recomputation per order status") {
    val vals = Tables.orders(spark, dir)
      .select(col("o_orderstatus"),
        col("o_totalprice").cast("double")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def median(xs: Seq[Double]): Double =
      if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
    val rs = run("q_agg_mad").collect()
    assert(rs.length == vals.size)
    rs.foreach { r =>
      val xs = vals(r.getString(0))
      val med = median(xs)
      val mad = median(xs.map(x => math.abs(x - med)).sorted)
      assert(r.getLong(1) == xs.size.toLong)
      assert(math.abs(r.getDouble(2) - math.rint(med * 1e4) / 1e4) < 1e-9)
      assert(math.abs(r.getDouble(3) - math.rint(mad * 1e4) / 1e4) < 1e-9)
      assert(r.getLong(4) == xs.count(x => math.abs(x - med) > 3 * mad))
    }
  }

  test("changepoint: emitted row is the unique (|D| desc, day asc) argmax") {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.toEpochDay)).toMap
    val rs = run("q_events_changepoint").collect()
    assert(rs.length == daily.size)
    rs.foreach { r =>
      val series = daily(r.getString(0))
      val n = series.size.toLong
      val total = series.map(_._3).sum
      var prefix = 0L
      val ds = series.zipWithIndex.map { case ((_, day, x), i) =>
        prefix += x
        (day, math.abs(n * prefix - (i + 1) * total))
      }
      val best = ds.minBy { case (day, ad) => (-ad, day.toEpochDay) }
      assert(r.getLong(1) == n)
      assert(r.getDate(2).toLocalDate == best._1)
      assert(r.getLong(3) == best._2)
      assert(r.getLong(4) == best._2 / n)
      // the argmax is UNIQUE under the (|D| desc, day asc) tie-break:
      // no other day carries the same |D| with an earlier date
      assert(!ds.exists(p => p._2 == best._2 && p._1 != best._1
        && p._1.toEpochDay < best._1.toEpochDay))
    }
  }

  test("rake: phrases stop-free, scores bounded below, one row per eligible doc") {
    val tok = operators.TextOps.tokens(spark, dir)
    val stop = tok.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(10)
      .collect().map(_.getString(0)).toSet
    val eligible = tok.select("doc_id", "token").collect()
      .filter(r => !stop(r.getString(1))).map(_.getLong(0)).toSet
    val rs = run("q_text_rake").collect()
    assert(rs.map(_.getLong(0)).toSet == eligible,
      "one top phrase per doc with >= 1 non-stopword token")
    rs.foreach { r =>
      val words = r.getString(1).split(" ")
      assert(words.length == r.getLong(2).toInt)
      assert(words.forall(w => !stop(w)),
        s"stopword inside phrase '${r.getString(1)}'")
      // each word's milli-score is >= 1000 (degree >= freq), so the
      // phrase score is >= 1000 * n_words
      assert(r.getLong(3) >= 1000L * r.getLong(2))
    }
  }
}
