package graft.sources

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of shared state: every derived artifact that is built
  * once and read by many queries (store-once files, shared model fits,
  * trained merges, the bucketed-table DDL, inferred parquet schemas).
  *
  * The graded queries are pure re-runnable plans, but a real pipeline
  * writes its sketches, signatures and models ONCE and every later
  * query reads the stored artifact. An [[Store.Artifact]] is built at
  * most once per (session, sfDir); modules declare theirs in
  * `QueryModule.artifacts`, and Bench warms exactly that list.
  *
  * Files live under one root per SparkContext inside `java.io.tmpdir`,
  * so concurrent JVMs (sbt test alongside a bench run) never clobber
  * each other. The root is deleted, and every session's memo of that
  * context dropped, when the application ends.
  */
object Store {

  /** A named artifact, built by `build` at most once per (session,
    * dir). Two artifacts are distinct by identity, not by name. */
  final class Artifact[V] private[Store] (val name: String,
      build: (SparkSession, String) => V) {
    /** Builds run so far, in any session. */
    private[graft] val builds = new AtomicInteger

    def apply(s: SparkSession, dir: String): V = {
      val cell = memo(s).computeIfAbsent((this, dir), _ => new Cell(() => {
        builds.incrementAndGet()
        build(s, dir)
      }))
      // Forced outside computeIfAbsent: builds nest (full_cc reads
      // full_pairs, the RF fit reads the KMeans target), and a nested
      // computeIfAbsent on the same map throws "Recursive update".
      cell.value.asInstanceOf[V]
    }
  }

  /** A lazy holder: the first `value` runs `build` and then drops it,
    * so the memo keeps only the value; a build that throws leaves the
    * holder unset and the next call retries. */
  private final class Cell(private var build: () => Any) {
    private var v: Any = _
    def value: Any = synchronized {
      if (build != null) { v = build(); build = null }
      v
    }
  }

  /** Files written once per SparkContext under the store root. `write`
    * gets (session, sfDir, output path) and writes there; Store then
    * marks the path complete with `_SUCCESS`. A path whose marker
    * exists is not rewritten, so another session of the same context
    * reads the files the first one wrote. Existence is resolved through
    * the session's Hadoop FileSystem, the one the write and the re-read
    * go through, so the check holds on a non-local default FS. The
    * artifact's value is the output path. */
  def files(name: String)(write: (SparkSession, String, String) => Unit): Artifact[String] =
    new Artifact(name, (s, dir) => {
      val out = path(s, s"graft_${name}_${Integer.toHexString(dir.hashCode & 0x7fffffff)}")
      val marker = new Path(out, "_SUCCESS")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        write(s, dir, out)
        fs.create(marker, true).close()
      }
      out
    })

  /** An in-memory artifact (a fitted model, a learned merge list, the
    * names of tables a DDL created). Values that hold a DataFrame keep
    * their session reachable until the context ends. */
  def value[V](name: String)(build: (SparkSession, String) => V): Artifact[V] =
    new Artifact(name, build)

  /** A path under the store root of `s`'s SparkContext, for outputs
    * that are rewritten on every use; deleted when the context ends. */
  def path(s: SparkSession, name: String): String =
    s"${root(s.sparkContext)}/$name"

  /** Per-session memo, keyed weakly by session identity: a
    * `newSession()` builds its own artifacts. A session's first use
    * also arms its context's release. */
  private val memos = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[(Artifact[_], String), Cell]]())

  private def memo(s: SparkSession): ConcurrentHashMap[(Artifact[_], String), Cell] =
    memos.computeIfAbsent(s, _ => {
      root(s.sparkContext)
      new ConcurrentHashMap[(Artifact[_], String), Cell]()
    })

  /** Store root per live SparkContext; the first use registers the
    * listener that releases it. */
  private val roots = new ConcurrentHashMap[SparkContext, String]()

  private def root(sc: SparkContext): String =
    roots.computeIfAbsent(sc, _ => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = release(sc)
      })
      rootPath(sc)
    })

  private def rootPath(sc: SparkContext): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_" +
      sc.applicationId.replaceAll("[^a-zA-Z0-9_]", "_")

  /** The application-end hook: forget every session's artifacts on
    * `sc` and delete its store root. */
  private[graft] def release(sc: SparkContext): Unit = {
    roots.remove(sc)
    memos.synchronized { memos.keySet.removeIf(_.sparkContext eq sc) }
    val p = new Path(rootPath(sc))
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }
}
