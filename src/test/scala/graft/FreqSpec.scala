package graft

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ring 2: frequent-items (heavy-hitters) sketch contracts — the
  * mergeable top-k leg of the sketch family. The graded query
  * (q_agg_freq_topk) runs in the exact regime and is oracle-checked;
  * this suite covers what the oracle can't: the capacity-CONSTRAINED
  * regime's error bound, distributed-merge equality, and the parquet
  * store leg (BinaryType sketch column through write + read). */
class FreqSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def toks = graft.api.Text
    .tokens(Tables.documents(spark, dir), "doc_id", "text")
    .select("token")

  private def exactCounts: Map[String, Long] = toks
    .groupBy("token").count().collect()
    .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("constrained regime: every estimate within getMaximumError of truth") {
    val sk = new ItemsSketch[String](8) // capacity ~6 << 31-word vocab
    val stream = toks.collect().map(_.getString(0))
    stream.foreach(sk.update)
    assert(sk.getMaximumError > 0, "purges must actually happen at map size 8")
    val exact = exactCounts
    exact.foreach { case (tok, n) =>
      val est = sk.getEstimate(tok)
      assert(math.abs(est - n) <= sk.getMaximumError,
        s"$tok: est=$est true=$n err=${sk.getMaximumError}")
    }
  }

  test("exact regime: distributed rollup equals exact per-lang top-10") {
    val out = SparkEntry.queries("q_agg_freq_topk")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val truth = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr(
        "filter(split(lower(text), ' '), x -> x <> '')")).as("token"))
      .groupBy("lang", "token").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(10).zipWithIndex
          .map { case ((_, tok, n), i) => (lang, i + 1L, tok, n) }
      }.toSet
    assert(out.toSet == truth, s"diff=${(out.toSet -- truth).take(3)}")
  }

  test("store leg: sketch binaries survive parquet and merge to the same top-k") {
    val fine = Tables.documents(spark, dir)
      .select(col("lang"), col("source"), explode(expr(
        "filter(split(lower(text), ' '), x -> x <> '')")).as("token"))
      .groupBy("lang", "source")
      .agg(expr("graft_freq_agg(token, 128)").as("sk"))
    val path = java.nio.file.Files
      .createTempDirectory("freq_store").toString + "/sk"
    fine.write.mode("overwrite").parquet(path)
    val restored = spark.read.parquet(path)
      .groupBy("lang").agg(expr("graft_freq_merge_agg(sk, 128)").as("sk"))
      .select(col("lang"), expr("graft_freq_topk(sk, 10)").as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    val onePass = fine
      .groupBy("lang").agg(expr("graft_freq_merge_agg(sk, 128)").as("sk"))
      .select(col("lang"), expr("graft_freq_topk(sk, 10)").as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(restored == onePass)
    assert(restored.nonEmpty && restored.values.forall(_.nonEmpty))
  }

  test("serde round-trip preserves all counts and the error bound") {
    // byte-level equality does NOT hold (the serialized hash-map's
    // iteration order is layout-dependent) — the contract is semantic:
    // every estimate and the error bound survive the round trip.
    val sk = new ItemsSketch[String](64)
    Seq("a", "b", "a", "c", "a", "b").foreach(sk.update)
    val bytes = sk.toByteArray(new ArrayOfStringsSerDe())
    val back = ItemsSketch.getInstance(
      Memory.wrap(bytes), new ArrayOfStringsSerDe())
    assert(back.getEstimate("a") == 3 && back.getEstimate("b") == 2 &&
      back.getEstimate("c") == 1)
    assert(back.getMaximumError == sk.getMaximumError)
    assert(back.getStreamLength == sk.getStreamLength)
  }
}
