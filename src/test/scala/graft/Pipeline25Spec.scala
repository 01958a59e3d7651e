package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Ring 2: round-13 closers — association-rule parity against an
  * independent self-join computation, determinism + quality bounds for
  * the seeded decision tree (no-oracle key), LPA community structure
  * against the stored component map, BigInt recompute parity + the
  * overflow precondition for the fixed-point Holt smoother, and
  * double-arithmetic agreement for the variance selector. */
class Pipeline25Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  private def rows(name: String): Seq[String] =
    run(name).collect().map(_.toString).toSeq.sorted

  test("assoc rules: exact ppm parity with independent self-join algebra") {
    // independent computation of the same contract (the DuckDB
    // oracle's algebra, in Spark): distinct baskets -> grouped singles
    // + basket self-join pairs at minCount -> both rule directions
    val b = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct().cache()
    val nb = b.select("o").distinct().count()
    val minCount = math.ceil(1e-4 * nb).toLong
    val s1 = b.groupBy("p").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = b.select(col("o"), col("p").as("p2"))
    val pairs = b.join(b2, "o").where(col("p") < col("p2"))
      .groupBy("p", "p2").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    b.unpersist()
    val expected = pairs.flatMap { case (a, c, f) =>
      Seq((a, c, f), (c, a, f)).map { case (ant, cons, fp) =>
        (ant, cons, fp,
          1000000L * fp / s1(ant),
          (BigInt(1000000) * fp * nb / (BigInt(s1(ant)) * s1(cons)))
            .toLong)
      }
    }.toSet
    val got = run("q_ml_assoc_rules").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(expected.nonEmpty)
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("dtree eval: deterministic refit, confusion totality, above-chance") {
    val a = rows("q_ml_dtree_eval")
    val b = rows("q_ml_dtree_eval")
    assert(a == b, "seeded single-tree fit must be deterministic")
    val df = run("q_ml_dtree_eval").cache()
    try {
      val agg = df.agg(sum("tp"), sum("support"), sum("predicted")).head()
      val (tp, support, predicted) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      // predicted counts partition the test fold just as supports do
      assert(predicted == support)
      // 10-class chance floor is ~10%; a depth-5 axis-aligned tree on
      // the KMeans Voronoi targets trails RF (~49%) but must clear 2x
      // chance
      assert(tp.toDouble / support > 0.2,
        s"accuracy ${tp.toDouble / support} below 2x chance")
    } finally { df.unpersist(); () }
  }

  test("lpa: communities refine the stored components; edge math conserves") {
    val df = run("q_graph_lpa").cache()
    try {
      val a = df.collect().map(_.toString).sorted
      val b = run("q_graph_lpa").collect().map(_.toString).sorted
      assert(a.sameElements(b), "fixed-round LPA must be deterministic")
      val cc = spark.read.parquet(
        operators.TextOps.fullCc(spark, dir))
      // a final label reaches only nodes within 4 hops of its origin,
      // so every LPA community must lie inside ONE stored component
      val pairsPath = operators.TextOps.fullPairs(spark, dir)
      val pairs = spark.read.parquet(pairsPath)
        .where(col("matches") >= 8)
      val und = pairs.select(col("d1").as("src"), col("d2").as("dst"))
        .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      val nNodes = und.select("src").distinct().count()
      assert(df.agg(sum("n_docs")).head().getLong(0) == nNodes,
        "community sizes must partition the node set")
      assert(df.agg(sum("n_edges")).head().getLong(0) <= pairs.count(),
        "intra-community edges cannot exceed the stored pair count")
      // refinement: at least as many communities as components, and
      // density only defined (non-null) above singletons
      assert(df.count() >= cc.select("label").distinct().count())
      assert(df.where(col("n_docs") === 1 &&
        col("density_ppm").isNotNull).count() == 0)
    } finally { df.unpersist(); () }
  }

  test("holt: BigInt convolution parity + the int64 headroom precondition") {
    // weight algebra: the truncated kernel must sum to ~1 (steady
    // state level == constant input), within the geometric tail
    val wsum = operators.Pipeline25.holtWeights.map(_._2).sum
    assert(math.abs(wsum - (1L << 32)).toDouble / (1L << 32) < 0.01)
    // overflow precondition (the q_time_ewma rule): per-(type, day)
    // cents must stay below 2^28 for v * u_0 (u_0 = 2^31) to keep
    // int64 headroom across the 16-term sum
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    assert(daily.map(_._3).max < (1L << 28), "precondition: v < 2^28")
    // independent BigInt recompute of the windowed convolution +
    // truncate-toward-zero rendering
    val byKey = daily.map { case (t, d, v) => (t, d) -> v }.toMap
    def tdiv(n: BigInt): Long = {
      val q = n.abs / BigInt(1L << 32)
      (if (n < 0) -q else q).toLong
    }
    val expected = daily.map { case (t, d, v) =>
      val day = java.time.LocalDate.parse(d)
      val (ln, tn) = operators.Pipeline25.holtWeights
        .foldLeft((BigInt(0), BigInt(0))) { case ((l, tr), (k, u, w)) =>
          val x = byKey.getOrElse((t, day.minusDays(k.toLong).toString), 0L)
          (l + BigInt(x) * u, tr + BigInt(x) * w)
        }
      (t, d, v, tdiv(ln), tdiv(tn))
    }.toSet
    val got = run("q_time_holt").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("variance selector: integer moments agree with double variance") {
    val df = run("q_ml_variance_selector").collect()
    assert(df.length == 64)
    val nEmb = Tables.embeddings(spark, dir).count()
    assert(df.forall(_.getLong(1) == nEmb))
    // double recompute on the micro grid (the exact statistic's own
    // domain): population variance of floor(x * 1e6) per dim
    val vals = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")))
      .select(col("pos"),
        expr("cast(floor(cast(col as double) * 1000000) as bigint)")
          .as("q"))
      .groupBy("pos")
      .agg(avg(expr("cast(q as double) * q")).as("eq2"),
        avg(expr("cast(q as double)")).as("eq"))
      .collect()
      .map(r => r.getInt(0).toLong ->
        (r.getDouble(1) - r.getDouble(2) * r.getDouble(2))).toMap
    df.foreach { r =>
      val (dim, got) = (r.getLong(0), r.getLong(2).toDouble)
      val want = vals(dim)
      assert(math.abs(got - want) <= math.max(1e-6 * math.abs(want), 2.0),
        s"dim $dim: var_micro2 $got vs double $want")
      // exact-arithmetic consistency: selected <=> var_num > T*n^2,
      // and div truncation puts var_micro2 on the matching side of T
      if (r.getBoolean(3)) assert(r.getLong(2) >= 10000000000L)
      else assert(r.getLong(2) <= 10000000000L)
    }
  }
}
