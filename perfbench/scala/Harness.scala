package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.io.Source
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Closed-loop, single-client benchmark driver over the graded keys.
  *
  * Usage: Harness <plan.tsv> <out.jsonl>
  *
  * The plan (written by perfbench/run.py) fixes the sf dir, core count,
  * seed, numbers of settle and warm passes, trace flag, the workload's
  * store-once keys and its key list. The harness times, from the
  * outside, the public entry points a long-lived graft session goes
  * through: session build with GraftExtensions, table reads, the
  * store-once keys, `SparkEntry.queries(k)(spark, sf)` and a consuming
  * action that hashes every output row. It writes one JSON record for
  * the setup and one per key execution and pass; run.py turns them
  * into metrics and checks every output.
  */
object Harness {

  /** Key that always throws: the self-test's injected failure. */
  val ThrowKey = "selftest_throw"

  final case class Plan(
      sf: String, cpus: Int, seed: Long, settlePasses: Int, warmPasses: Int,
      trace: Boolean, work: String, store: Seq[String], keys: Seq[String])

  def readPlan(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val kv = lines.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); (l.take(i), l.drop(i + 1))
    }
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(sys.error(s"plan has no '$k' line"))
    def all(k: String) = kv.collect { case (`k`, v) => v }
    Plan(one("sf"), one("cpus").toInt, one("seed").toLong,
      one("settle_passes").toInt, one("warm_passes").toInt, one("trace") == "1",
      one("work"), all("store"), all("key"))
  }

  def session(p: Plan): SparkSession = SparkSession.builder()
    .master(s"local[${p.cpus}]")
    .config("spark.sql.shuffle.partitions", p.cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.warehouse.dir", s"${p.work}/warehouse")
    .config("spark.local.dir", s"${p.work}/spark-local")
    .config("spark.hadoop.hadoop.tmp.dir", s"${p.work}/hadoop-tmp")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def procCpuNs(): Long = osBean.getProcessCpuTime
  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(b.getCollectionTime, 0L))
    t
  }
  def secs(ns: Long): Double = ns / 1e9

  /** Bytes under `dir`, recursively. */
  def du(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(du).sum).getOrElse(0L)

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Order-insensitive fingerprint consuming every output column of the
    * key's own executed plan: columns sorted by name, map columns
    * canonicalized to sorted entry arrays (xxhash64 rejects maps), one
    * xxhash64 per row, and an exact sum of the row hashes, so neither
    * row order nor overflow can change it. The rows come from
    * `queryExecution.toRdd`, so the optimizer never sees an
    * order-insensitive parent and prunes neither columns nor the final
    * sort: the plan runs as a collect or write would run it. Returns
    * (rows, fingerprint). */
  def consume(df: DataFrame): (Long, String) = {
    val qe = df.queryExecution
    val hash = rowHash(qe.sparkSession, df.schema)
    val parts = SQLExecution.withNewExecutionId(qe, Some("consume")) {
      qe.toRdd.mapPartitions { rows =>
        val h = UnsafeProjection.create(Seq(hash))
        var n = 0L; var s = 0L; var big = BigInt(0)
        while (rows.hasNext) {
          val x = h(rows.next()).getLong(0)
          val r = s + x
          if (((s ^ r) & (x ^ r)) < 0) { big += s; s = x } else s = r
          n += 1
        }
        Iterator((n, big + s))
      }.collect()
    }
    val n = parts.map(_._1).sum
    (n, s"$n:${parts.map(_._2).sum}")
  }

  /** The row hash of `consume`, resolved against `schema` and bound to
    * column ordinals, so it can be evaluated on the plan's own rows. */
  def rowHash(spark: SparkSession, schema: StructType): Expression = {
    val cols = schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val empty = spark.createDataFrame(java.util.List.of[Row](), schema)
    empty.select(h).queryExecution.analyzed match {
      case Project(Seq(e), child) => BindReferences.bindReference(e, child.output)
      case other => sys.error(s"unexpected hash plan: $other")
    }
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
  def canon(c: Column, t: DataType): Column = if (!hasMap(t)) c else t match {
    case m: MapType =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), m.keyType).as("k"),
        canon(e.getField("value"), m.valueType).as("v"))))
    case a: ArrayType => transform(c, x => canon(x, a.elementType))
    case s: StructType =>
      struct(s.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  // ---- output ----------------------------------------------------------
  final class Out(path: String) {
    private val w = new PrintWriter(new File(path), "UTF-8")
    def emit(fields: (String, Any)*): Unit = {
      w.println(fields.map { case (k, v) => q(k) + ":" + js(v) }.mkString("{", ",", "}"))
      w.flush()
    }
    def close(): Unit = w.close()
  }
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case other => q(other.toString)
  }

  // ---- setup -----------------------------------------------------------
  /** Session, table listing, store-once writes; each timed from `t0`,
    * JVM main, so class loading, object initialisers and the first JIT
    * work are all inside. Store-once artifacts are scoped to
    * (SparkContext, sf dir) inside graft, so running each key that
    * writes one, once, here moves that one-time cost out of the passes. */
  def setup(p: Plan, t0: Long, out: Out): SparkSession = {
    val storeDirs = Seq(new File(p.work, "tmp"), new File(p.work, "warehouse"))
    val bytes0 = storeDirs.map(du).sum
    val spark = session(p)
    spark.sparkContext.setLogLevel("WARN")
    val entry = graft.SparkEntry.queries
    val tSession = System.nanoTime()
    graft.Tables.names.foreach(t => graft.Tables.t(spark, p.sf, t).schema)
    val tTables = System.nanoTime()
    val storeKeys = p.store.map { k =>
      val s0 = System.nanoTime()
      consume(entry(k)(spark, p.sf))
      k -> secs(System.nanoTime() - s0)
    }
    val tStore = System.nanoTime()
    out.emit("type" -> "setup",
      "session_s" -> secs(tSession - t0), "tables_s" -> secs(tTables - tSession),
      "store_s" -> secs(tStore - tTables),
      "store_mb" -> (storeDirs.map(du).sum - bytes0) / 1048576.0,
      "total_s" -> secs(tStore - t0), "store_keys_s" -> storeKeys.toMap)
    spark
  }

  // ---- passes ----------------------------------------------------------
  def runKey(spark: SparkSession, p: Plan, entry: Map[String, (SparkSession, String) => DataFrame],
      key: String, tracer: Option[Tracer], tag: String):
      Map[String, Any] = {
    val sc = spark.sparkContext
    val w0 = System.nanoTime(); val c0 = procCpuNs(); val g0 = gcMs()
    val ct0 = CodeGenerator.compileTime
    val cn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ms0 = System.currentTimeMillis()
    var tBuild = w0
    val res = try {
      sc.setLocalProperty(Tracer.Prop, s"$tag/build")
      val df =
        if (key == ThrowKey) throw new IllegalStateException("injected failure")
        else entry(key)(spark, p.sf)
      tBuild = System.nanoTime()
      sc.setLocalProperty(Tracer.Prop, s"$tag/act")
      val (n, fp) = consume(df)
      Right((n, fp))
    } catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    } finally sc.setLocalProperty(Tracer.Prop, null)
    val w1 = System.nanoTime(); val c1 = procCpuNs()
    val base = Map[String, Any]("type" -> "key", "key" -> key,
      "ok" -> res.isRight,
      "err" -> res.left.toOption,
      "rows" -> res.toOption.map(_._1), "fp" -> res.toOption.map(_._2),
      "wall_s" -> secs(w1 - w0), "cpu_s" -> secs(c1 - c0),
      "build_s" -> secs(tBuild - w0))
    tracer match {
      case None => base
      case Some(_) => base ++ Map(
        "tag" -> tag, "t0_ms" -> ms0, "t1_ms" -> System.currentTimeMillis(),
        "gc_s" -> (gcMs() - g0) / 1e3,
        "compile_s" -> secs(CodeGenerator.compileTime - ct0),
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cn0))
    }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val p = readPlan(args(0))
    val out = new Out(args(1))
    out.emit("type" -> "env", "cpus" -> p.cpus, "sf" -> p.sf, "seed" -> p.seed,
      "settle_passes" -> p.settlePasses, "warm_passes" -> p.warmPasses,
      "trace" -> p.trace,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "java" -> System.getProperty("java.version"))
    val spark = setup(p, t0, out)
    val entry = graft.SparkEntry.queries
    val missing = p.keys.filterNot(k => k == ThrowKey || entry.contains(k))
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val rnd = new Random(p.seed)
    // Pass 0 is the cold first pass. The settle passes after it let the
    // C2 JIT finish compiling the hot paths and are not measured; then
    // come a fixed number of warm passes (a count, not a deadline, so
    // every run's medians cover the same passes). A traced run traces
    // half of the warm passes in the order untraced, traced, traced,
    // untraced, ... so that drift across passes weighs both sides alike
    // in the tracing overhead.
    val firstWarm = 1 + p.settlePasses
    (0 until firstWarm + p.warmPasses).foreach { pass =>
      val kind = if (pass == 0) "first" else if (pass < firstWarm) "settle" else "warm"
      val traced = p.trace && kind == "warm" && Set(1, 2)((pass - firstWarm) % 4)
      val tracer = if (traced) Some(Tracer.attach(spark)) else None
      val order = rnd.shuffle(p.keys)
      val w0 = System.nanoTime(); val c0 = procCpuNs()
      order.zipWithIndex.foreach { case (k, i) =>
        val rec = runKey(spark, p, entry, k, tracer, s"$pass.$i")
        out.emit((rec + ("pass" -> pass) + ("traced" -> traced)).toSeq: _*)
      }
      val w1 = System.nanoTime(); val c1 = procCpuNs()
      tracer.foreach { t =>
        t.drain(spark)
        t.detach(spark)
        t.records().foreach(r => out.emit(r.toSeq: _*))
      }
      out.emit("type" -> "pass", "pass" -> pass, "kind" -> kind,
        "traced" -> traced, "wall_s" -> secs(w1 - w0), "cpu_s" -> secs(c1 - c0))
    }
    out.emit("type" -> "rss", "peak_mb" -> peakRssMb())
    spark.stop()
    out.emit("type" -> "done")
    out.close()
  }
}
