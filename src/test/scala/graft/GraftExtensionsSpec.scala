package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The extension front door: a session that only has
  * `spark.sql.extensions` set resolves and evaluates every native
  * function, and the fallback `register` is a no-op there. Each test
  * uses `newSession()`, which rebuilds the function registry from the
  * extension and sees none of the shared session's temp state. */
class GraftExtensionsSpec extends AnyFunSuite {
  private def fresh(): SparkSession = {
    val sp = TestSpark.spark.newSession()
    sp.sql(
      """SELECT id, CAST(id AS DOUBLE) AS x, CAST(id % 3 AS STRING) AS s,
        |  array(CAST(id AS DOUBLE), 0.5D) AS v,
        |  CONCAT('the quick brown fox ', CAST(id AS STRING)) AS w
        |FROM range(10)""".stripMargin).createOrReplaceTempView("t")
    sp
  }

  /** One evaluation per native function, over the 10-row view `t`. */
  private val probes: Seq[(String, String)] = Seq(
    "graft_dot" -> "SELECT graft_dot(v, v) FROM t",
    "graft_dot_pre" -> "SELECT graft_dot_pre(v, v, 1) FROM t",
    "graft_q127_sum" -> "SELECT graft_q127_sum(v) FROM t",
    "graft_sorted_sum" -> "SELECT graft_sorted_sum(collect_list(struct(id, x))) FROM t",
    "graft_polyhash" -> "SELECT graft_polyhash(w) FROM t",
    "graft_rake_top" -> "SELECT graft_rake_top(split(w, ' '), array('the')) FROM t",
    "graft_fingerprint" -> "SELECT graft_fingerprint(w) FROM t",
    "graft_jaro_winkler" -> "SELECT graft_jaro_winkler(s, w) FROM t",
    "graft_theta_agg" -> "SELECT graft_theta_agg(id) FROM t",
    "graft_theta_intersect_est" ->
      "SELECT graft_theta_intersect_est(sk, sk) FROM (SELECT graft_theta_agg(id) AS sk FROM t)",
    "graft_theta_diff_est" ->
      "SELECT graft_theta_diff_est(sk, sk) FROM (SELECT graft_theta_agg(id) AS sk FROM t)",
    "graft_kll_agg" -> "SELECT graft_kll_agg(x) FROM t",
    "graft_kll_merge_agg" ->
      "SELECT graft_kll_merge_agg(sk) FROM (SELECT s, graft_kll_agg(x) AS sk FROM t GROUP BY s)",
    "graft_kll_quantile" ->
      "SELECT graft_kll_quantile(sk, 0.5D) FROM (SELECT graft_kll_agg(x) AS sk FROM t)",
    "graft_freq_agg" -> "SELECT graft_freq_agg(s) FROM t",
    "graft_freq_merge_agg" ->
      "SELECT graft_freq_merge_agg(sk) FROM (SELECT id % 2 AS g, graft_freq_agg(s) AS sk FROM t GROUP BY 1)",
    "graft_freq_topk" ->
      "SELECT graft_freq_topk(sk, 2) FROM (SELECT graft_freq_agg(s) AS sk FROM t)")

  test("the table lists 17 distinct functions and each has a probe") {
    val names = GraftExtensions.natives.map(_._1.funcName)
    assert(names.distinct.size == 17)
    assert(names.toSet == probes.map(_._1).toSet)
  }

  test("an extension-built session resolves and evaluates every native function") {
    val sp = fresh()
    val reg = sp.sessionState.functionRegistry
    probes.foreach { case (name, sql) =>
      assert(reg.functionExists(FunctionIdentifier(name)), name)
      val rows = sp.sql(sql).collect()
      assert(rows.nonEmpty && !rows.head.isNullAt(0), name)
    }
  }

  test("graft_theta_agg honours lgK through the extension") {
    val sp = fresh()
    def bytes(args: String) = sp.sql(
      s"SELECT octet_length(graft_theta_agg($args)) FROM range(20000)").head().getInt(0)
    assert(bytes("id") == 32792)
    assert(bytes("id, 14") == 131096)
  }

  test("register fills in only the missing rows and is idempotent") {
    val sp = fresh()
    val reg = sp.sessionState.functionRegistry
    def entries = GraftExtensions.natives.map { case (id, _, _) =>
      id -> (reg.lookupFunction(id).orNull, reg.lookupFunctionBuilder(id).orNull)
    }.toMap
    val kll = FunctionIdentifier("graft_kll_agg")
    assert(reg.dropFunction(kll))
    val before = entries
    GraftExtensions.register(sp)
    val after = entries
    assert(after(kll)._1 != null && after(kll)._2 != null)
    (before - kll).foreach { case (id, (info, builder)) =>
      assert((after(id)._1 eq info) && (after(id)._2 eq builder), id)
    }
    assert(sp.sql("SELECT graft_kll_quantile(graft_kll_agg(x), 0.5D) FROM t")
      .head().getDouble(0) == 4.0)
    GraftExtensions.register(sp)
    entries.foreach { case (id, (info, builder)) =>
      assert((after(id)._1 eq info) && (after(id)._2 eq builder), id)
    }
  }
}
