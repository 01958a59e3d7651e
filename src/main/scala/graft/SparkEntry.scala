package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator family lives in its own module under graft.operators /
  * graft.functions / graft.streaming; this object only aggregates their
  * `queries` / `oracleSql` maps for the driver harness.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    sources.Sources,
    operators.Aggregates,
    operators.Windows,
    operators.Filters,
    operators.Joins,
    operators.SetSorts,
    operators.TextOps,
    operators.VectorOps,
    operators.ExtraText,
    operators.ExtraVector,
    operators.Misc,
    operators.Pipeline2,
    operators.Pipeline3,
    operators.Pipeline4,
    operators.Pipeline5,
    operators.Pipeline6,
    operators.Pipeline7,
    operators.Pipeline8,
    operators.Pipeline9,
    operators.Pipeline10,
    operators.Pipeline11,
    operators.Pipeline12,
    operators.Pipeline13,
    operators.Pipeline14,
    operators.Pipeline15,
    operators.Pipeline16,
    operators.Pipeline17,
    operators.Pipeline18,
    operators.Pipeline19,
    operators.Pipeline20,
    operators.Pipeline21,
    operators.Pipeline22,
    operators.Pipeline23,
    operators.Pipeline24,
    operators.Pipeline25,
    operators.Pipeline26,
    operators.Pipeline27,
    operators.Pipeline28,
    operators.Pipeline29,
    operators.Pipeline30,
    operators.Pipeline31,
    operators.Pipeline32,
    operators.Pipeline33,
    operators.Pipeline34,
    operators.Pipeline35,
    operators.Pipeline36,
    operators.Pipeline37,
    operators.Pipeline38,
    operators.Pipeline39,
    operators.Pipeline40,
    operators.Pipeline41,
    operators.Pipeline42,
    operators.Pipeline43,
    operators.Pipeline44,
    operators.Pipeline45,
    operators.Pipeline46,
    operators.Pipeline47,
    operators.Pipeline48,
    operators.Pipeline49,
    operators.Pipeline50,
    operators.Pipeline51,
    operators.Pipeline52,
    operators.Pipeline53,
    operators.Pipeline54,
    operators.Pipeline55,
    operators.Pipeline56,
    operators.Pipeline57,
    operators.Pipeline58,
    operators.Pipeline59,
    operators.Pipeline60,
    operators.Pipeline61,
    operators.Pipeline62,
    operators.Pipeline63,
    operators.Pipeline64,
    operators.Pipeline65,
    operators.Pipeline66,
    operators.Pipeline67,
    operators.Pipeline68,
    operators.Pipeline69,
    operators.Pipeline70,
    operators.Pipeline71,
    operators.Pipeline72,
    operators.Pipeline73,
    operators.Pipeline74,
    operators.Pipeline75,
    operators.Pipeline76,
    operators.Pipeline77,
    operators.Pipeline78,
    operators.Pipeline79,
    operators.Pipeline80,
    operators.Pipeline81,
    operators.Pipeline82,
    operators.Pipeline83,
    operators.Pipeline84,
    operators.Pipeline85,
    operators.Pipeline86,
    operators.Pipeline87,
    operators.Pipeline88,
    operators.Pipeline89,
    operators.Pipeline90,
    operators.StoreOps,
    streaming.StreamOps,
    functions.Scalars,
    functions.Udx
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Aggregates.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A
    * duplicate key across modules would SILENTLY shadow the earlier
    * implementation (Map semantics) — round 15 nearly shipped two
    * such collisions — so the merge fails loudly instead. Each key
    * first registers the native functions, since the harness may hand
    * in a session built without GraftExtensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.flatMap(_.queries)
    val dups = all.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate graded keys across modules: ${dups.mkString(", ")}")
    all.map { case (k, f) =>
      k -> { (s: SparkSession, dir: String) =>
        GraftExtensions.register(s)
        f(s, dir)
      }
    }.toMap
  }

  /** Every shared artifact the modules declare: what Bench builds
    * untimed before its timed passes. Names are unique, since a files
    * artifact's name is its directory under the store root. */
  def artifacts: Seq[sources.Store.Artifact[_]] = {
    val all = modules.flatMap(_.artifacts)
    val dups = all.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate artifact names across modules: ${dups.mkString(", ")}")
    all
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val all = modules.flatMap(_.oracleSql)
    val dups = all.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate oracle keys across modules: ${dups.mkString(", ")}")
    all.toMap
  }
}

/** A group of related graded operators, and the shared artifacts
  * (`graft.sources.Store`) its queries read. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
  def artifacts: Seq[sources.Store.Artifact[_]] = Nil
}
