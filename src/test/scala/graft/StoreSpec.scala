package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Store

/** The STORE leg of store-once/roll-up-anywhere (VERDICT r5 missing
  * #1): sketch/signature binaries must survive a parquet round-trip
  * (BinaryType through write + read) and still merge to the same
  * answer as the one-pass computation.
  *
  * It also pins the artifact store's lifecycle: one build per (session,
  * dir), nested builds, files written once per context, the
  * application-end release, and the declared artifact list.
  */
class StoreSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf001

  test("q_agg_sketch_store_rollup: stored-and-merged == computed-in-one-pass, within 5% of exact") {
    // HLL build and union are deterministic, so the stored path must
    // match the in-plan rollup EXACTLY — any parquet mangling of the
    // sketch bytes would shift the estimate.
    val stored = operators.StoreOps.aggSketchStoreRollup(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val onePass = Tables.orders(spark, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .groupBy("o_orderpriority", "o_month")
      .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
      .groupBy("o_orderpriority")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_months"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stored.keySet == onePass.keySet && stored.nonEmpty)
    stored.foreach { case (k, (est, n)) =>
      assert(est == onePass(k)._1, s"$k: stored=$est onepass=${onePass(k)._1}")
      assert(n == onePass(k)._2)
    }
    val exact = Tables.orders(spark, dir)
      .groupBy("o_orderpriority").agg(countDistinct("o_custkey").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    stored.foreach { case (k, (est, _)) =>
      assert(math.abs(est - exact(k)) <= 0.05 * exact(k),
        s"$k: est=$est exact=${exact(k)}")
    }
  }

  test("KLL sketch binaries survive a parquet round-trip byte-exactly and still merge") {
    val fine = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("event_type", "day")
      .agg(expr("graft_kll_agg(value)").as("sk"))
      .collect()
    // freeze ONE computed instance of the fine sketches (KLL compaction
    // is randomized, so a recompute need not be byte-identical), write
    // exactly those bytes, read back, compare per (type, day).
    val out = sources.Store.path(spark, "kll_store_spec")
    import scala.jdk.CollectionConverters._
    val schema = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("event_type", "day")
      .agg(expr("graft_kll_agg(value)").as("sk")).schema
    spark.createDataFrame(fine.toSeq.asJava, schema)
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).collect()
    val origBytes = fine.map(r =>
      (r.getString(0), r.getDate(1).toString) -> r.getAs[Array[Byte]](2)).toMap
    assert(back.length == fine.length && fine.nonEmpty)
    back.foreach { r =>
      val k = (r.getString(0), r.getDate(1).toString)
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), origBytes(k)),
        s"$k: sketch bytes mangled by the parquet round-trip")
    }
    // ... and the stored frame still MERGES: per-type quantile from the
    // read-back binaries lands within the KLL rank band (same bound as
    // the q_agg_kll_quantiles spec).
    val merged = spark.read.parquet(out)
      .groupBy("event_type")
      .agg(expr("round(graft_kll_quantile(graft_kll_merge_agg(sk), 0.5D), 4)")
        .as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val vals = Tables.events(spark, dir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted }
    merged.foreach { case (t, q) =>
      val v = vals(t)
      val rank = v.count(_ <= q).toDouble / v.length
      assert(math.abs(rank - 0.5) <= 0.035 + 1.0 / v.length,
        s"$t: merged p50=$q realized rank=$rank")
    }
  }

  test("Store.value builds once per session and again in another session") {
    val n = new AtomicInteger
    val counted = Store.value("store_spec_counted")((_, _) => n.incrementAndGet())
    val sp = spark.newSession()
    assert(counted(sp, dir) == 1 && counted(sp, dir) == 1 && n.get == 1)
    assert(counted(spark.newSession(), dir) == 2 && n.get == 2)
  }

  test("nested builds complete: each artifact of a 20-deep chain reads the previous one") {
    // a build that ran inside the memo map's computeIfAbsent would hit
    // "Recursive update" once two links share a bin
    val chain = (1 to 20).foldLeft(Store.value("store_spec_link_0")((_, _) => 0)) {
      case (prev, i) => Store.value(s"store_spec_link_$i")((s, d) => prev(s, d) + 1)
    }
    assert(chain(spark.newSession(), dir) == 20)
  }

  test("a files artifact whose write leaves no marker of its own runs write once per context") {
    // the evolving_pq shape: only the sub-directories get a _SUCCESS
    val writes = new AtomicInteger
    val batches = Store.files("store_spec_batches") { (s, _, out) =>
      writes.incrementAndGet()
      s.range(3).write.mode("overwrite").parquet(s"$out/b1")
      s.range(4).write.mode("overwrite").parquet(s"$out/b2")
    }
    val first = batches(spark.newSession(), dir)
    val second = batches(spark.newSession(), dir)
    assert(first == second && writes.get == 1)
    assert(spark.read.parquet(s"$second/b1", s"$second/b2").count() == 7)
  }

  test("the application-end hook deletes the store root and forgets every session's artifacts") {
    val writes = new AtomicInteger
    val one = Store.files("store_spec_release") { (s, _, out) =>
      writes.incrementAndGet()
      s.range(1).write.mode("overwrite").parquet(out)
    }
    val sp = spark.newSession()
    val root = new Path(one(sp, dir)).getParent
    val fs = root.getFileSystem(sp.sparkContext.hadoopConfiguration)
    assert(fs.exists(root) && writes.get == 1)
    // a second SparkContext cannot start in this JVM, so the hook the
    // listener runs at application end is called directly
    Store.release(sp.sparkContext)
    assert(!fs.exists(root))
    // the live context starts over: the same session rebuilds
    assert(spark.read.parquet(one(sp, dir)).count() == 1 && writes.get == 2)
  }

  test("declared artifacts have unique names; once warmed, their consumers build nothing") {
    val artifacts = SparkEntry.artifacts
    assert(artifacts.map(_.name).distinct.size == artifacts.size)
    val sp = spark.newSession()
    val sf = TestSpark.sf0001
    artifacts.foreach(_(sp, sf))
    val built = artifacts.map(_.builds.get).sum
    Seq("q_dedup_incremental", "q_agg_sketch_store_rollup",
        "q_source_partitioned_roundtrip").foreach { k =>
      assert(SparkEntry.queries(k)(sp, sf).count() > 0, k)
    }
    assert(artifacts.map(_.builds.get).sum == built)
  }
}
