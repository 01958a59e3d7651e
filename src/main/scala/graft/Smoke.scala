package graft

/** Dev tool mirroring the driver's t1 smoke: run SparkEntry.entry and
  * print its row count (driver checks rows>0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.graft(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n (driver requires >0)")
    spark.stop()
  }
}
