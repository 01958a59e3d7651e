package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ring 3 (SURVEY.md §5): plan-shape assertions pinning the §4.1 claims —
  * the optimizations we rely on at 100 TB actually appear in the plan.
  */
class PlanShapeSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def physical(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.sparkPlan.toString
  }

  test("q_join_broadcast plans a BroadcastHashJoin (dim side broadcast)") {
    assert(physical("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_sortmerge plans a SortMergeJoin") {
    assert(physical("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q_join_shuffle_hash plans a ShuffledHashJoin") {
    assert(physical("q_join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("q_scan_pruned pushes the shipdate filter into the parquet scan") {
    val plan = physical("q_scan_pruned")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"no pushed filter in:\n$plan")
  }

  test("q_scan_project prunes ReadSchema to the projected columns") {
    val plan = physical("q_scan_project")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      s"unpruned ReadSchema: $readSchema")
  }

  test("q_scan_dpp plants a dynamicpruning subquery on the partitioned scan") {
    val plan = physical("q_scan_dpp")
    assert(plan.contains("dynamicpruning"),
      s"no runtime partition pruning in:\n$plan")
  }

  test("q_limit_topk fuses to TakeOrderedAndProject (no global sort)") {
    assert(physical("q_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("q_agg_pricing_summary uses two-phase hash aggregation") {
    val plan = physical("q_agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q_join_semi / q_join_anti plan semi/anti joins (no materialized join)") {
    assert(physical("q_join_semi").contains("LeftSemi"))
    assert(physical("q_join_anti").contains("LeftAnti"))
  }

  test("q_source_partitioned_roundtrip read prunes to one partition dir") {
    // executedPlan (not sparkPlan): partition pruning shows in the scan
    val df = SparkEntry.queries("q_source_partitioned_roundtrip")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("= F"),
      s"no partition filter in:\n$plan")
  }

  test("q_join_skew_salted plans a shuffled join on (key, salt)") {
    val plan = physical("q_join_skew_salted")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_sim_cosine_topk keeps graft_dot inside the projection (codegen)") {
    val plan = physical("q_sim_cosine_topk")
    assert(plan.contains("graft_dot"), s"native expression missing:\n$plan")
  }

  test("hash-id operators have NO window at all (r2: dense_rank vocab = SinglePartition sort)") {
    // q_dedup_minhash / q_dedup_simhash / q_text_hashing_tf formerly
    // assigned vocab ids via dense_rank over Window.orderBy with no
    // partitionBy — a whole-vocabulary sort through ONE task. The
    // polynomial string hash is a pure projection, so the correct plan
    // has no Window operator (and hence no SinglePartition exchange).
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_text_hashing_tf")) {
      val plan = physical(q)
      assert(!plan.contains("Window"), s"$q still plans a Window:\n$plan")
      assert(!plan.contains("SinglePartition"),
        s"$q still has a SinglePartition exchange:\n$plan")
    }
  }

  test("q_vec_bucketize_cuts assigns deciles without any window (sketch cutpoints)") {
    // the exact-ntile baseline needs one global sort; the cuts variant
    // must not — percentile_approx is a distributive partial agg and
    // the assignment is a broadcast-array projection
    val plan = physical("q_vec_bucketize_cuts")
    assert(!plan.contains("Window"), s"cuts variant plans a Window:\n$plan")
  }

  test("q_join_multiway broadcasts all dims and never a cartesian product") {
    // At sf0.001 Catalyst may ALSO broadcast the orders fact (it sits
    // under the 10 MB auto-broadcast threshold) — correct at tiny SF; at
    // cluster SF that join degrades gracefully to SMJ. The invariant we
    // pin: every dim join is a broadcast, lineitem is never a build side,
    // and nothing goes cartesian.
    val plan = physical("q_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_stream_join is an equi-join on user (range residual), never cartesian") {
    val plan = physical("q_stream_join")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_join_bloom_prefilter filters orders BELOW the join (pre-shuffle)") {
    // the bloom UDF must sit on the scan side of the join, not above it:
    // in the plan string the filter on o_custkey appears after (=deeper
    // than) the join operator and directly over the orders scan subtree.
    val plan = physical("q_join_bloom_prefilter")
    val joinAt = plan.indexOf("Join")
    val udfAt = "UDF\\(\\w*\\(?o_custkey".r.findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(joinAt >= 0 && udfAt > joinAt, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_sample_stratified keeps per-partition top-k (WindowGroupLimit)") {
    assert(physical("q_sample_stratified").contains("WindowGroupLimit"))
  }

  test("q_dedup_incremental reads STORED corpus signatures (no corpus-side explode)") {
    // VERDICT r5 missing #2: the corpus must not be re-shingled in the
    // query — its signatures come from the stored parquet frame. The
    // only shingle explode left in the plan is the new batch signing
    // itself (its signature stack() is a second, non-explode Generate);
    // the corpus side is a plain FileScan of the signature store.
    val plan = physical("q_dedup_incremental")
    assert("Generate explode".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("graft_corpus_sigs"), plan)
  }

  test("q_dedup_jaccard materializes the full-signature store (r6 shape)") {
    // The final plan is checkpoint RDDs (the candidate/shingle frames
    // are eager localCheckpoints), so the store contract is asserted
    // directly: building the query populates the full_sigs parquet
    // with one (doc_id, perm, minh) row per signature slot, and the
    // graded read goes through that path.
    SparkEntry.queries("q_dedup_jaccard")(spark, dir)
    val path = operators.TextOps.fullSigs(spark, dir)
    assert(path.contains("graft_full_sigs"))
    val stored = spark.read.parquet(path)
    assert(stored.columns.sorted.toSeq == Seq("doc_id", "minh", "perm"))
    assert(stored.count() > 0)
  }

  test("q_win_topk_group: Partial WindowGroupLimit prunes below the window shuffle") {
    // VERDICT r5 #1 postmortem: both hand-pinned repartition shapes
    // (r3 after-agg, r5 before-agg) measured WORSE than the naive
    // declarative plan, whose winning property is the PARTIAL
    // WindowGroupLimit sitting BELOW the window's Exchange — each map
    // task forwards at most k rows per group into the shuffle. Pin
    // exactly that topology on the full (exchange-inserted) plan.
    val df = SparkEntry.queries("q_win_topk_group")(spark, dir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("row_number(), 3, Partial"), plan)
    assert(plan.contains("row_number(), 3, Final"), plan)
    // the Partial group-limit must appear below (after, in tree print
    // order) the Exchange that feeds the Window
    val winIdx = plan.indexOf("Window [row_number()")
    val exIdx = plan.indexOf("Exchange hashpartitioning(l_suppkey", winIdx)
    val partialIdx = plan.indexOf("row_number(), 3, Partial")
    assert(winIdx >= 0 && exIdx > winIdx && partialIdx > exIdx, plan)
  }

  test("q_sort_zorder fuses to TakeOrderedAndProject (no global sort)") {
    // the z-value is a pure term-sum projection; the top-200 must be
    // TakeOrdered (per-partition heads + merge), never a full Sort —
    // at 100 TB a global sort here would dwarf the projection.
    val plan = physical("q_sort_zorder")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q_events_retention: one PARTITIONED window, no cartesian") {
    val plan = physical("q_events_retention")
    // r17: cohort_size rides the per-user cohort frame as a count
    // window PARTITIONED by cohort_day (never single-partition) —
    // the old separate agg + join-back re-ran the anchor scan twice
    assert(plan.contains("windowspecdefinition(cohort_day"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q_text_bpe_apply is one projection pass: no join, no window") {
    // the 20 learned merges run as a chained replace INSIDE the
    // projection — joining a merge table per round would be 20 shuffles
    val plan = physical("q_text_bpe_apply")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q_join_range_bucketed is a bucket EQUI-join, never a nested loop") {
    // the whole point of the operator: without the bucket key this
    // no-equi-key range join plans as BroadcastNestedLoopJoin
    val plan = physical("q_join_range_bucketed")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Join") && plan.contains("__b"), plan)
  }

  test("q_profile_outliers broadcasts the fence frame back to the scan") {
    // the classify pass must be scan + BroadcastHashJoin + hash-agg;
    // a sort-merge join would shuffle the whole fact side twice
    val plan = physical("q_profile_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_dedup_levenshtein pairs via a block EQUI-join, not all-pairs") {
    val plan = physical("q_dedup_levenshtein")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // r8 scale fix: no explicit repartition on the coarse block key —
    // the join's own hash shuffle spreads ~thousands of fine blocks;
    // an Exchange hashpartitioning on __blk alone would pin the corpus
    // onto |coarse blocks| reducers.
    assert(!plan.contains("REPARTITION_BY_COL"), plan)
    // and the fine block key is actually in the join: the first-8-char
    // component must appear in the plan's join condition/keys.
    assert(plan.contains("substring") || plan.contains("SUBSTRING"), plan)
  }

  test("q_dedup_levenshtein blocking stays near-dup-sized on the fixture") {
    // The quadratic term is bounded by the widest block; with the
    // conjoined (lang, len-bucket, first-8-chars) key the sf0.001
    // fixture's widest block must stay pair-DP-trivial. A regression
    // here means the block key coarsened and the pair space exploded.
    val widest = graft.Tables.documents(spark, dir)
      .groupBy(expr("lang"), expr("length(text) div 64"),
        expr("substring(text, 1, 8)"))
      .count().agg(max("count")).collect()(0).getLong(0)
    assert(widest <= 32L, s"widest fuzzy block = $widest")
  }

  test("q_agg_trimmed_kll has no sort window (the 100 TB trim path)") {
    val plan = physical("q_agg_trimmed_kll")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("graft_kll_agg") ||
      plan.contains("KllSketchAgg"), plan)
  }

  test("r11 transformer keys are pure projections: no join, no agg, no window") {
    // VectorAssembler / PolynomialExpansion / Normalizer+Binarizer are
    // row-local transforms — their plans must be scan + project (+ the
    // presentation sort §2.0.1 mandates); any Join/HashAggregate/Window
    // means the wrapper regressed into a shuffle shape.
    for (q <- Seq("q_ml_feature_assemble", "q_ml_poly_expand",
        "q_vec_normalize")) {
      val plan = physical(q)
      assert(!plan.contains("Join"), s"$q plans a join:\n$plan")
      assert(!plan.contains("HashAggregate"), s"$q plans an agg:\n$plan")
      assert(!plan.contains("Window"), s"$q plans a window:\n$plan")
    }
  }

  test("full surface: no cartesian, no unlisted BNLJ, no unlisted " +
      "row-scale SinglePartition exchange (VERDICT r10 #1)") {
    // The whole-surface twin of graft.PlanAudit's round-close run,
    // on the EXCHANGE-INSERTED plan (AQE off in a sibling session so
    // executedPlan is the real exchange tree, not an
    // AdaptiveSparkPlanExec wrapper). Benign SinglePartition
    // exchanges — child is a partial agg (O(#tasks) rows) or a
    // LocalLimit — pass; anything else must carry a documented bound
    // in PlanAudit.boundedSinglePartition / boundedBnlj.
    // VERDICT r11 #10 — graph-family honesty pin: every q_graph_* key
    // must stay pure equi-join over the stored pair frame as the
    // family grows. The only funnel any graph key may carry is
    // q_graph_triangles' documented scalar-attach BNLJs; a new graph
    // key CANNOT be quietly whitelisted past this suite-level set pin.
    val graphKeys = SparkEntry.queries.keys.filter(_.startsWith("q_graph_"))
    assert(graphKeys.filter(PlanAudit.boundedBnlj.contains).toSet ==
      Set("q_graph_triangles"))
    assert(!graphKeys.exists(PlanAudit.boundedSinglePartition.contains))
    assert(!graphKeys.exists(PlanAudit.boundedCartesian.contains))

    val audit = spark.newSession()
    audit.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        // STALE-WHITELIST (ADVICE r12) fails the suite too: a pinned
        // funnel that disappeared means the documentation no longer
        // matches the real plan — exactness is enforced BOTH ways.
        val (offenses, stale, _) = PlanAudit.auditOne(audit, dir, name)
        val all = offenses ++ stale.map("STALE-WHITELIST " + _)
        if (all.isEmpty) None else Some(s"$name: ${all.mkString(", ")}")
      } catch {
        case e: Throwable => Some(s"$name: PLAN FAILED ${e.getMessage}")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
