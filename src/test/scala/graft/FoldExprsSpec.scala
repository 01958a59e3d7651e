package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the native graft_sorted_sum ordered-fold expression
  * — must be bit-identical to the interpreted
  * `aggregate(array_sort(collect_list(struct(k..., x))), 0D,
  * (a, e) -> a + e.x)` determinism pattern it replaces, on every
  * shape the hot sites use. */
class FoldExprsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("graft_sorted_sum equals the HOF fold on the perplexity shape " +
      "(long key, token-scale groups)") {
    val toks = graft.api.Text.tokens(
      Tables.documents(spark, TestSpark.sf001), "doc_id", "text")
      .withColumn("lp", expr("ln(1.0D + length(token))" +
        " * (case when ord % 2 = 0 then -1.0D else 1.0D end)"))
    val both = toks.groupBy("doc_id")
      .agg(expr("graft_sorted_sum(collect_list(struct(ord, lp)))")
          .as("native"),
        expr("aggregate(array_sort(collect_list(struct(ord, lp)))," +
          " cast(0 as double), (a, x) -> a + x.lp)").as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("graft_sorted_sum equals the HOF fold on a 2-key struct with " +
      "duplicate leading keys (the ad_ksamp/theils shapes)") {
    val sp = spark
    import sp.implicits._
    val rows = Seq((1L, 3L, 0.125), (1L, 1L, -2.5), (1L, 1L, 0.0625),
      (2L, 7L, 1e-17), (2L, 0L, 1.0), (2L, 0L, -1.0), (2L, 5L, 1e-17))
      .toDF("g", "k", "x")
    val both = rows.groupBy("g")
      .agg(expr("graft_sorted_sum(collect_list(struct(k, g, x)))")
          .as("native"),
        expr("aggregate(array_sort(collect_list(struct(k, g, x)))," +
          " cast(0 as double), (a, e) -> a + e.x)").as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    // the 1e-17 terms make the sum ORDER-sensitive in doubles: a fold
    // that ignored the sort would differ bitwise — prove the fixture
    // actually discriminates by folding in reverse order
    val rev = rows.where(col("g") === 2L)
      .agg(expr("aggregate(reverse(array_sort(collect_list(struct(k, g, x))))," +
        " cast(0 as double), (a, e) -> a + e.x)").as("r"),
        expr("graft_sorted_sum(collect_list(struct(k, g, x)))").as("n"))
      .head()
    assert(rev.getDouble(0) != rev.getDouble(1))
  }

  test("graft_sorted_sum edge semantics: empty -> 0, null -> null, " +
      "type check") {
    val r = spark.sql(
      """SELECT graft_sorted_sum(CAST(array() AS
        |    ARRAY<STRUCT<k: BIGINT, x: DOUBLE>>)) AS e,
        |  graft_sorted_sum(CAST(NULL AS
        |    ARRAY<STRUCT<k: BIGINT, x: DOUBLE>>)) AS n""".stripMargin)
      .head()
    assert(r.getDouble(0) == 0.0)
    assert(r.isNullAt(1))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_sorted_sum(array(1L, 2L))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_sorted_sum"))
  }
}
