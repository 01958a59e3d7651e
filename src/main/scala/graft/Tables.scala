package graft

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central parquet readers: the generated fixtures (FIXTURES.md)
  * and the store-once artifacts (`graft.sources.Store`). All graded
  * queries read through here so the scan path (vectorized parquet,
  * pushdown, pruning) is uniform.
  *
  * 100 TB design note: schema inference costs one footer read and one
  * Spark job per path per session (`read`); later reads of the path
  * launch no job. File listing still happens on every read; reusing the
  * file index across reads is a follow-up. On a real cluster the same
  * call lists a partitioned directory tree, and nothing here assumes
  * single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schemas already inferred, per session and path. Keyed
    * weakly by session identity: a `newSession()` or a session with
    * other parquet confs (nanosAsLong changes the inferred type of ns
    * timestamps) infers its own, and the entries die with the session. */
  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, StructType]]())

  /** A fresh parquet relation over an immutable `path` (a fixture or a
    * completed store-once write). The first read in a session infers the
    * schema; later reads pass it in, which plans identically but skips
    * Spark's schema-inference job. Each call has fresh attribute ids, so
    * self-joins resolve as they do on `spark.read.parquet`. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val known = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, StructType]())
    known.get(path) match {
      case null =>
        val df = spark.read.parquet(path)
        known.put(path, df.schema)
        df
      case schema => spark.read.schema(schema).parquet(path)
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Timestamp-column drift absorber, the generalization of the
    * events.ts lesson (r7: the driver regenerated fixtures from
    * timestamp[ns] to timestamp[us, isAdjustedToUTC=false] and every
    * `ts` consumer broke): normalize a possibly-drifted timestamp
    * column to µs TimestampType whatever the physical parquet
    * encoding. Long = ns-fixture generations read under nanosAsLong
    * (fixture values are µs-aligned, so div 1000 is exact);
    * TimestampNTZ = µs/naive encodings (cast is value-identical to
    * DuckDB's naive read under the UTC session tz); TimestampType
    * passes through. Applied to EVERY fixture timestamp column, not
    * just events.ts — o_orderdate / l_shipdate are one fixture
    * regeneration away from the same breakage. */
  private def normTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast("timestamp"))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    normTs(t(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normTs(t(s, d, "lineitem"), "l_shipdate")
  /** events.ts normalizer — absorbs fixture-schema drift so every
    * downstream operator always sees `ts: TimestampType` (UTC session tz).
    * Physical encodings seen across driver fixture generations:
    *   - parquet TIMESTAMP(NANOS): Spark 4 refuses the timestamp read
    *     ([PARQUET_TYPE_ILLEGAL]); with
    *     spark.sql.legacy.parquet.nanosAsLong=true (set by Verify/Bench/
    *     Smoke sessions) it arrives as Long nanos. Fixture values are
    *     µs-aligned (ns % 1000 == 0, probed), so integer-div to micros
    *     is exact and matches DuckDB's ns->µs read of the same file.
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (current
    *     fixtures): Spark 4 reads TIMESTAMP_NTZ. Under the UTC session
    *     timezone the cast to TimestampType is value-identical to
    *     DuckDB's naive read, so all oracle SQL stays valid.
    *   - already TimestampType: pass through.
    * Every real user hits one of these the first time their parquet
    * writer flips isAdjustedToUTC — this is the drift absorber. */
  def events(s: SparkSession, d: String): DataFrame =
    normTs(t(s, d, "events"), "ts")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
