package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the round-8 OUTPUT leg (pipeline survivors →
  * temperature quota → leakage-safe split → shard balance): the
  * conservation guarantees a composed pipeline must not break —
  * survivors match the report's last stage, quota'd rows flow into
  * exactly one (split, shard) cell each, and per-split weight shares
  * account for the whole split.
  */
class Pipeline7Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("Profile.pipelineSurvivors == pipelineReport's final stage (planted corpus)") {
    val sp = spark
    import sp.implicits._
    // the Pipeline4Spec planted corpus: one doc falls at each stage,
    // docs 4 and 7 survive the whole chain.
    val docs = Seq(
      (1L, "one two three"),
      (2L, "bad bad x1 x2 x3 x4 x5 x6"),
      (3L, "rep rep rep rep rep rep rep rep"),
      (4L, "the quick brown fox jumps over that lazy dog today"),
      (5L, "the quick brown fox jumps over that lazy dog today"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (7L, "completely different content with no overlap at all here"))
      .toDF("id", "body")
    val probes = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta extra"))
      .toDF("id", "body")
    val block = Seq("bad").toDF("word")
    val surv = api.Profile.pipelineSurvivors(docs, "id", "body", block,
        probes, operators.TextOps.permTable, minTokens = 5L,
        maxBlockHits = 2L, maxDupTokenPpm = 500000L)
      .orderBy("id").collect()
    assert(surv.map(_.getLong(0)).toSeq == Seq(4L, 7L))
    // and the text column survives intact (the output leg weighs it)
    assert(surv.head.getString(1).startsWith("the quick brown"))
  }

  test("pipelineReportFromMap(stageMap) == pipelineReport (planted + sf0.001)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "one two three"),
      (2L, "bad bad x1 x2 x3 x4 x5 x6"),
      (3L, "rep rep rep rep rep rep rep rep"),
      (4L, "the quick brown fox jumps over that lazy dog today"),
      (5L, "the quick brown fox jumps over that lazy dog today"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (7L, "completely different content with no overlap at all here"))
      .toDF("id", "body")
    val probes = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta extra"))
      .toDF("id", "body")
    val block = Seq("bad").toDF("word")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("stage").collect().map(_.toString).toSeq
    val direct = api.Profile.pipelineReport(docs, "id", "body", block,
      probes, operators.TextOps.permTable, minTokens = 5L,
      maxBlockHits = 2L, maxDupTokenPpm = 500000L)
    val viaMap = api.Profile.pipelineReportFromMap(
      api.Profile.pipelineStageMap(docs, "id", "body", block,
        probes, operators.TextOps.permTable, minTokens = 5L,
        maxBlockHits = 2L, maxDupTokenPpm = 500000L))
    assert(canon(direct) == canon(viaMap))
    // and the graded key (stored-map path) matches the chain-derived
    // report on the real fixture corpus
    val train = Tables.documents(spark, dir)
      .where(pmod(col("doc_id"), lit(7)) =!= 0)
    val prb = Tables.documents(spark, dir)
      .where(pmod(col("doc_id"), lit(7)) === 0)
    val chain = api.Profile.pipelineReport(train, "doc_id", "text",
      Seq("slow", "error").toDF("word"), prb, operators.TextOps.permTable)
    assert(canon(SparkEntry.queries("q_pipeline_corpus")(spark, dir))
      == canon(chain))
  }

  test("q_pipeline_output: conservation across quota -> split -> shards on the fixture") {
    val sp = spark
    import sp.implicits._
    val r = operators.Pipeline7.pipelineOutput(spark, dir).collect()
    assert(r.nonEmpty)
    assert(r.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    assert(r.map(_.getLong(1)).forall(s => s >= 0 && s < 8))
    // per split: weight shares account for the whole split (integer div
    // loses < 1 ppm per cell)
    r.groupBy(_.getString(0)).foreach { case (s, rows) =>
      val ppm = rows.map(_.getLong(4)).sum
      assert(ppm <= 1000000L && ppm >= 1000000L - rows.length,
        s"split $s share_ppm sums to $ppm over ${rows.length} shards")
      // within a split, no cell is empty (else the key shouldn't exist)
      rows.foreach(x => assert(x.getLong(2) > 0 && x.getLong(3) > 0))
    }
    // conservation vs the recomposed stage chain: every quota'd doc
    // lands in exactly one (split, shard) cell, and the weights are the
    // survivors' char lengths — nothing dropped, nothing resurrected.
    val docs = Tables.documents(spark, dir)
    val train = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val probes = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val block = Seq("slow", "error").toDF("word")
    val sigs = spark.read.parquet(
      operators.TextOps.fullSigs(spark, dir))
    val mixed = api.Sample.temperatureCap(
      api.Profile.pipelineSurvivors(train, "doc_id", "text", block,
          probes, operators.TextOps.permTable,
          precomputedSigs = Some(sigs))
        .join(docs.select("doc_id", "lang"), "doc_id"),
      "lang", "doc_id", total = 600L)
    val want = mixed.agg(count(lit(1)), sum(length(col("text"))))
      .collect()(0)
    assert(r.map(_.getLong(2)).sum == want.getLong(0),
      s"row conservation: report=${r.map(_.getLong(2)).sum} quota=${want.getLong(0)}")
    assert(r.map(_.getLong(3)).sum == want.getLong(1),
      s"weight conservation: report=${r.map(_.getLong(3)).sum} chars=${want.getLong(1)}")
  }
}
