package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-key layer ledger from Spark's public listener APIs.
  *
  * The driver thread tags every job it submits with a local property
  * `<pass>.<index>/<build|act>`, so jobs, stages and tasks are
  * attributed to the key (and to its build or consuming action) by tag,
  * not by arrival time. Planner phases come from a
  * QueryExecutionListener; a query's phases carry wall-clock start
  * times, which run.py matches against each key's window.
  */
object Tracer {
  val Prop = "graftbench.tag"
  private val Sentinel = "sentinel"

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.qeListener)
    t
  }
}

final class Tracer extends SparkListener {
  private final class Acc {
    var buildJobs, jobs, stages, skipped, tasks, failed = 0L
    var cpuNs, runMs, gcMs, shW, shR, fetchMs, spill, inB, inR, outB = 0L
  }
  private final class Job(val key: String, val stages: Seq[Int]) {
    val submitted = mutable.Set[Int]()
  }
  private val accs = mutable.LinkedHashMap[String, Acc]()
  private val stageKey = mutable.Map[Int, String]()
  private val jobs = mutable.Map[Int, Job]()
  private val qes = mutable.ArrayBuffer[Map[String, Any]]()
  private var sentinelJob = -1
  @volatile private var sentinelDone = false

  private def acc(k: String) = accs.getOrElseUpdate(k, new Acc)
  private def tagOf(p: java.util.Properties) =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { tag =>
      if (tag == Tracer.Sentinel) sentinelJob = e.jobId
      else {
        val (k, phase) = tag.splitAt(tag.lastIndexOf('/'))
        val a = acc(k)
        a.jobs += 1
        if (phase == "/build") a.buildJobs += 1
        jobs(e.jobId) = new Job(k, e.stageIds)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == sentinelJob) sentinelDone = true
    jobs.remove(e.jobId).foreach { j =>
      acc(j.key).skipped += j.stages.count(id => !j.submitted(id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    jobs.values.filter(_.stages.contains(id)).foreach(_.submitted += id)
    tagOf(e.properties).filter(_ != Tracer.Sentinel).foreach { tag =>
      val k = tag.take(tag.lastIndexOf('/'))
      stageKey(id) = k
      acc(k).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val a = acc(k)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.inB += m.inputMetrics.bytesRead
        a.inR += m.inputMetrics.recordsRead
        a.outB += m.outputMetrics.bytesWritten
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def s(name: String) = ph.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    if (ph.nonEmpty) qes += Map("type" -> "qe",
      "start_ms" -> ph.values.map(_.startTimeMs).min,
      "analysis_s" -> s("analysis"), "optimization_s" -> s("optimization"),
      "planning_s" -> s("planning"))
  }

  /** Block until every event posted so far has reached this listener:
    * a tagged one-task job goes through the same DAGScheduler loop and
    * shared listener queue after every earlier job, so once its end is
    * seen, nothing earlier is still in flight. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.Prop, Tracer.Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.Prop, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(2)
    require(sentinelDone, "listener bus did not drain within 30 s")
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  def records(): Seq[Map[String, Any]] = synchronized {
    accs.toSeq.map { case (k, a) => Map[String, Any]("type" -> "layers", "tag" -> k,
      "build_jobs" -> a.buildJobs, "jobs" -> a.jobs, "stages" -> a.stages,
      "stages_skipped" -> a.skipped, "tasks" -> a.tasks, "failed_tasks" -> a.failed,
      "task_cpu_s" -> a.cpuNs / 1e9, "task_run_s" -> a.runMs / 1e3,
      "task_gc_s" -> a.gcMs / 1e3,
      "shuffle_write_mb" -> a.shW / 1048576.0, "shuffle_read_mb" -> a.shR / 1048576.0,
      "fetch_wait_s" -> a.fetchMs / 1e3, "spill_mb" -> a.spill / 1048576.0,
      "input_mb" -> a.inB / 1048576.0, "input_rows" -> a.inR,
      "output_mb" -> a.outB / 1048576.0)
    } ++ qes.toSeq
  }
}
