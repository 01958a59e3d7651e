package graft

/** Dev tool: time individual graded queries. Usage:
  * runMain graft.TimeQ <sfDir> q_name [q_name ...] — prints secs each.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.graft(cpus.toInt, Sessions.fewerPartitions)
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { t =>
      try Tables.t(spark, sfDir, t).count()
      catch { case _: Throwable => }
    }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    args.tail.foreach { name =>
      val t0 = System.nanoTime()
      val c0 = osBean.getProcessCpuTime
      val n = try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable => println(s"$name FAILED: ${e.getMessage}"); -1L }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      println(f"$name%-28s wall=$wall%7.2f s  cpu=$cpu%7.2f s  rows=$n")
    }
    spark.stop()
  }
}
