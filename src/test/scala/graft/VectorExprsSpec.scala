package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the native graft_dot Catalyst expression (§4.3). */
class VectorExprsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("graft_dot is bit-identical to the interpreted HOF fold") {
    val e = Tables.embeddings(spark, TestSpark.sf001)
      .withColumn("e", expr("transform(embedding, x -> cast(x AS double))"))
    val both = e.select(
      expr("graft_dot(e, e)").as("native"),
      expr("aggregate(zip_with(e, e, (x, y) -> x * y), cast(0 AS double), (a, x) -> a + x)")
        .as("hof"))
    // bit-equality, not approximate: both fold ascending
    assert(both.where(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_dot null/edge semantics") {
    val r = spark.sql(
      """SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS n,
        |  graft_dot(array(1.0d, 2.0d), array(3.0d)) AS shorter,
        |  graft_dot(CAST(array() AS ARRAY<DOUBLE>),
        |            CAST(array() AS ARRAY<DOUBLE>)) AS empty""".stripMargin).head()
    assert(r.isNullAt(0))
    assert(r.getDouble(1) == 3.0) // shorter length wins
    assert(r.getDouble(2) == 0.0)
  }

  test("graft_q127_sum is bit-identical to the interpreted HOF fold") {
    val e = Tables.embeddings(spark, TestSpark.sf001)
      .withColumn("e", expr("cast(embedding as array<double>)"))
    val both = e.select(
      expr("graft_q127_sum(e)").as("native"),
      expr("aggregate(transform(e, x -> cast(floor(x * 127.0D) as bigint))," +
        " 0L, (a, x) -> a + x)").as("hof"),
      // the graft.api.Vec helpers the embedding evals call
      api.Vec.q127Sum("embedding").as("api"),
      aggregate(api.Vec.q127("embedding"), lit(0L), _ + _).as("grid"))
    assert(both.where(col("native") =!= col("hof") ||
      col("api") =!= col("hof") || col("grid") =!= col("hof")).count() == 0)
    // edge semantics: null -> null, empty -> 0, negatives floor DOWN
    val r = spark.sql(
      """SELECT graft_q127_sum(CAST(NULL AS ARRAY<DOUBLE>)) AS n,
        |  graft_q127_sum(CAST(array() AS ARRAY<DOUBLE>)) AS empty,
        |  graft_q127_sum(array(-0.011d, 0.011d)) AS neg""".stripMargin).head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) == 0L)
    assert(r.getLong(2) == -2L + 1L) // floor(-1.397)=-2, floor(1.397)=1
  }

  test("graft_dot_pre is bit-identical to the slice form") {
    val e = Tables.embeddings(spark, TestSpark.sf001)
      .withColumn("e", expr("transform(embedding, x -> cast(x AS double))"))
    Seq(8, 16, 32).foreach { l =>
      val both = e.select(
        expr(s"graft_dot_pre(e, e, $l)").as("pre"),
        expr(s"graft_dot(slice(e, 1, $l), slice(e, 1, $l))").as("sl"))
      assert(both.where(col("pre") =!= col("sl")).count() == 0, s"l=$l")
    }
  }

  test("graft_dot_pre edge semantics: n beyond length, zero, null") {
    val r = spark.sql(
      """SELECT graft_dot_pre(array(1.0d, 2.0d), array(3.0d, 4.0d), 99) AS over,
        |  graft_dot_pre(array(1.0d, 2.0d), array(3.0d, 4.0d), 0) AS zero,
        |  graft_dot_pre(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d), 4) AS n
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0) // min with lengths wins
    assert(r.getDouble(1) == 0.0)
    assert(r.isNullAt(2))
  }

  test("graft_dot rejects non-double-array inputs at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('a'), array('b'))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_dot"))
  }
}
