package graft

/** Dev tool: dump formatted physical plans for selected (or all)
  * graded queries — the .explain feedback loop for plan-quality audits.
  *
  * Usage: runMain graft.Explain <sfDir> <outFile> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/plans.txt")
    val only = args.drop(2).toSet
    val spark = Sessions.graft(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        sb.append(s"\n========== $name ==========\n")
        try {
          val df = fn(spark, sfDir)
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
