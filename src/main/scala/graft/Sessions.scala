package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory for graft's mains and specs. */
object Sessions {
  /** A `local[cores]` session with `cores` shuffle partitions, UTC,
    * the native functions, the warehouse kept out of the repo even when
    * launched without build.sbt's javaOptions, ns-encoded parquet
    * timestamps read as Long nanos (Tables.events normalizes them), and
    * no UI. `conf` adds or overrides settings. */
  def graft(cores: Int, conf: (String, String)*): SparkSession =
    conf.foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", classOf[GraftExtensions].getName)
        .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** Favor fewer, larger post-shuffle partitions: at sf0.1 the bench
    * floor is task-scheduling overhead, not data volume. */
  val fewerPartitions: (String, String) =
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"
}
