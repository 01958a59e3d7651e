package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.{InputAdapter, LocalLimitExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}

/** Dev tool: walk every graded query's EXCHANGE-INSERTED physical plan
  * for scale anti-patterns and print offenders — the round-close audit
  * behind SURVEY §4's claims. Plans are built, not executed.
  *
  * VERDICT r10 #1: the previous scan string-matched
  * `queryExecution.sparkPlan`, the plan BEFORE EnsureRequirements
  * inserts Exchange nodes, so "Exchange SinglePartition: 0" was true
  * by construction, not by audit. This rework (a) audits
  * `queryExecution.executedPlan` with AQE disabled in the audit
  * session, so exchanges are real; (b) walks the TREE (with
  * subqueries) instead of grepping strings; (c) classifies each
  * SinglePartition exchange by its CHILD: a partial-mode aggregate or
  * a LocalLimit feeds the single reducer O(#tasks) rows — the normal
  * global-agg / global-limit shape, fine at any scale — while any
  * other child (global-sort Window/Sort over row data) is a genuine
  * row-scale funnel and is flagged unless the key carries a
  * documented bounded-frame whitelist entry below. */
object PlanAudit {

  /** Keys whose plan carries SinglePartition exchanges over frames
    * whose ROW COUNT IS A DOMAIN CONSTANT (replicate count, capped
    * vocab, step count, band grid — never a function of input rows),
    * each with its documented bound AND the exact funnel count the
    * documentation covers (ADVICE r11: a whole-key whitelist would
    * silently pass a SECOND, genuinely row-scale funnel added to a
    * listed key later — the audit now fails when the count grows
    * past the pinned one). These funnels move O(constant) rows
    * through one task and are scale-safe by construction. */
  val boundedSinglePartition: Map[String, (String, Int)] = Map(
    // q_ml_bootstrap_ci is NOT listed (ADVICE r11: it sat on both
    // whitelists): its 32-row order-statistic exchange classifies as
    // benign (partial-agg child), so its row-scale funnel count is 0
    // and any future genuine funnel there now fails the audit.
    "q_ml_feature_onehot" ->
      ("StringIndexer frequency rank over the 5-value c_mktsegment domain",
        1),
    "q_pipeline_corpus" ->
      ("stage-survival lag over the <= |stages| (5) per-stage count frame",
        1),
    "q_ml_pic" ->
      ("size-rank over the <= k (4) cluster-size frame", 1),
    // r15 batch 44: the skyline staircase's running max over the
    // <= |calendar| (~2.4k) per-date max frame — date-domain
    // bounded, never a function of order rows
    "q_agg_skyline" ->
      ("running max over the <= |calendar| per-date max frame", 1))

  /** Keys whose plan carries a WindowExec with NO partition spec
    * (r17, VERDICT r16 #6): such a window computes on ONE task no
    * matter how its input got to a single partition — the Exchange
    * classifier above only sees the funnels that INSERT an exchange,
    * so a no-partition window riding an already-single-partition
    * input (a 1-partition checkpointed support frame, a global-agg
    * output) escaped it. Every entry documents the ≤|domain| row
    * bound of the frame the window sorts, and pins the exact count;
    * an unlisted (or extra) no-partition window is an offense. The
    * four Exchange-whitelisted funnels above re-appear here by
    * construction (same window, seen from the operator side). */
  val boundedNoPartWindow: Map[String, (String, Int)] = Map(
    "q_ml_feature_onehot" ->
      ("StringIndexer frequency rank over the 5-value segment domain", 1),
    "q_pipeline_corpus" ->
      ("stage-survival lag over the <= |stages| (5) count frame", 1),
    "q_ml_pic" ->
      ("size-rank over the <= k (4) cluster-size frame", 1),
    "q_agg_skyline" ->
      ("running max over the <= |calendar| per-date max frame", 1),
    // the five operator-side-only sites the r17 WindowExec walk
    // surfaced (no SinglePartition Exchange — the window rides an
    // already-single-partition input), each domain-bounded:
    "q_events_funnel" ->
      ("step-over-step lag over the |steps| (3)-row funnel count union",
        1),
    "q_ml_bootstrap_ci" ->
      ("order-statistic rank over the 32-replicate bootstrap mean " +
        "frame (subtree duplicated by the lo/hi attach)", 2),
    "q_ml_boost_stumps" ->
      ("argmin-SSE rank over the <= |candidate-day| (calendar-bounded)" +
        " split frame", 1),
    "q_text_vocab" ->
      ("dense-id rank over the TakeOrdered <= 1000-row vocab cap", 1),
    "q_text_token_ids" ->
      ("the q_text_vocab dense-id rank (vocab is its build input)", 1))

  /** Keys whose plan carries a CartesianProduct that is BLOCK-scale
    * by construction, with its documented bound. Normally a hard
    * offense: the only listed case is ALS batch scoring, whose cross
    * join runs over 4096-row FACTOR BLOCKS
    * (⌈users/4096⌉ × ⌈items/4096⌉ tiles, each scored by the r14
    * primitive-array kernel with a bounded per-user top-k — the
    * recommendForAllUsers plan shape with the allocation-heavy MLlib
    * tile kernel swapped out, VERDICT r13 #1) — dense batch scoring
    * inherently touches every user-block × item-block pair; the
    * blocked cartesian IS the intended production plan, not a
    * row-scale blowup. */
  val boundedCartesian: Map[String, (String, Int)] = Map(
    "q_ml_als_recommend_all" ->
      ("ALS blocked top-k: 4096-row factor-block tiles, primitive kernel",
        1))

  /** Keys whose plan carries BroadcastNestedLoopJoins whose broadcast
    * side is a scalar/probe/quota frame bounded by construction —
    * the `crossJoin(broadcast(tiny))` scalar-attach pattern — with
    * the exact BNLJ count the documentation covers (same ADVICE r11
    * count-pinning as above). The per-key bound table lives in
    * PLAN_AUDIT.md. */
  val boundedBnlj: Map[String, Int] = Map(
    "q_events_hazard" -> 1, "q_events_rfm" -> 1,
    "q_join_cross_topk" -> 1, "q_ml_ab_ttest" -> 1,
    "q_ml_aft_survival" -> 1, "q_ml_als_topk" -> 1, "q_ml_auc" -> 2,
    "q_ml_avg_precision" -> 2, "q_ml_bootstrap_ci" -> 3,
    "q_ml_assoc_rules" -> 1, "q_ml_anova_select" -> 1,
    "q_ml_chisq" -> 1, "q_ml_feature_select" -> 1,
    "q_ml_kappa_mcc" -> 1, "q_ml_knn_eval" -> 1,
    "q_ml_lift_gains" -> 1,
    "q_ml_pr_curve" -> 2, "q_ml_f1_threshold" -> 2,
    "q_ml_ranking_metrics" -> 1,
    "q_ml_target_encoder" -> 1, "q_ml_tree_stump" -> 2,
    "q_pipeline_corpus" -> 1, "q_pipeline_output" -> 1,
    "q_profile_benford" -> 1, "q_profile_columns" -> 1,
    "q_profile_drift" -> 8, "q_profile_freshness" -> 1,
    "q_profile_join_card" -> 1, "q_profile_shard_balance" -> 1,
    "q_profile_skew" -> 3, "q_sample_balanced" -> 1,
    "q_sample_pps" -> 2, "q_sample_temperature" -> 1,
    "q_sim_ann_pq" -> 1, "q_sim_cosine_topk" -> 1,
    "q_text_collocations" -> 2, "q_text_perplexity" -> 1,
    "q_text_tfidf" -> 1, "q_text_word2vec" -> 1,
    // r14 batch 14: the 1-row within-frame x 1-row total-frame join
    // assembling W/B for the CH ratio (both sides single-row aggs)
    "q_ml_calinski_harabasz" -> 1,
    // r14 batch 17: 1-row coefficient frame broadcast over day rows
    "q_time_granger" -> 1,
    // r14 batch 17: the product-limit prefix theta join over the
    // broadcast duration frame (the risk-set theta join is hidden by
    // the eager localCheckpoint, like burrows_delta's grid)
    "q_events_survival_km" -> 1,
    // r14 batch 19: the q_ml_pr_curve banded-curve pair (band-offset
    // theta join + 1-row totals broadcast)
    "q_ml_youden_j" -> 2,
    // r14 batch 20: the same banded-curve pair under the DeLong CI
    "q_ml_auc_delong" -> 2,
    // r14 batch 21: bandedCumSum's domain-bounded band-offset theta
    // join over the distinct-|d| frame (the mannwhitney shape)
    "q_ml_wilcoxon_signed" -> 1,
    // r14 batch 22: Kendall tau-b — the dominance theta join over the
    // <= 550-cell (quantity x discount) joint-frequency frame, plus
    // three 1-row scalar attaches (n0/n1/n2 tie frames)
    "q_ml_kendall_tau" -> 4,
    // r14 batch 22: Mann-Kendall — the day-pair theta join over the
    // <= |days| (30) daily frame, plus two 1-row scalar attaches
    "q_time_mann_kendall" -> 3,
    // r14 batch 23: Cochran's Q — the 1-row R-totals x 1-row C-totals
    // assembly crossJoin (both sides single-row aggs)
    "q_ml_cochran_q" -> 1,
    // r14 batch 24: exact linear SHAP — the 1-row weight-frame
    // broadcast under the deviation pass, duplicated by the two-row
    // feature union (same subtree, counted per branch)
    "q_ml_shap_linear" -> 2,
    // r14 batch 24: Cook's distance — the 1-row moment-frame
    // broadcast under the residual pass
    "q_ml_influence" -> 1,
    // r14 batch 25: systematic sampling — bandedRank's domain-bounded
    // band-offset theta join (the q_win_ntile shape)
    "q_sample_systematic" -> 1,
    // r14 batch 28: Somers' D / gamma — the q_ml_kendall_tau plan
    // verbatim (dominance theta join over the <= 550-cell frame +
    // three 1-row tie-frame attaches)
    "q_ml_somers_d" -> 4,
    // r14 batch 30: cost threshold — the q_ml_youden_j banded-curve
    // pair (band-offset theta join + 1-row totals broadcast)
    "q_ml_cost_threshold" -> 2,
    // r14 batch 30: sequence gaps — bandedRank's band-offset theta
    // join over the band summary frame
    "q_profile_sequence_gaps" -> 1,
    // r16: q_profile_referential's two 1-row count attaches per
    // relation became one full-outer aggregate join — no BNLJ left,
    // whitelist entry removed (the audit flags stale pins)
    "q_time_interp" -> 1, "q_vec_bucketize" -> 2,
    "q_vec_bucketize_cuts" -> 1, "q_graph_triangles" -> 3,
    // r14: the q_vec_bucketize pair — bandedRank's band-offset theta
    // join (bands × bands, domain-bounded ≤ ~55²) + the 1-row grand-
    // total crossJoin(broadcast(n)) for the ntile/pctrank arithmetic
    "q_win_ntile" -> 2,
    // r14 batch 4/5: 1-row grand-total crossJoin(broadcast) scalar
    // attaches (woe_iv ×1; cramers_v's two went away in r17 — its
    // totals fold into the same agg that collects the cells) and the
    // banded machinery's band-offset theta join (mannwhitney's
    // bandedCumSum, zipf's bandedRank — bands × bands, domain-bounded)
    "q_ml_woe_iv" -> 1,
    "q_ml_mannwhitney" -> 1, "q_text_zipf" -> 1,
    // r14 batch 6: spearman runs the band-offset theta join once per
    // ranked variable
    "q_ml_spearman" -> 2,
    // r15 batch 39: psi's 1-row grand-total crossJoin(broadcast)
    // scalar attach; kruskal_wallis's bandedCumSum band-offset theta
    // join (bands x bands, price-domain-bounded <= ~10)
    "q_ml_psi" -> 1, "q_ml_kruskal_wallis" -> 1,
    // r15 batch 41: pack's bandedCumSum band-offset theta join
    // (doc_id-band x band, bands = ids/1000 - corpus-bounded)
    "q_pipeline_pack" -> 1,
    // r15 batch 43: byte histogram's 1-row grand-total
    // crossJoin(broadcast) scalar attach over the 256-row frame
    "q_multimodal_byte_histogram" -> 1,
    // r15 batch 44: centroid cosine's l1<l2 pair theta join over the
    // broadcast 10-row label-domain frame
    "q_vec_centroid_distance" -> 1,
    // r15 batch 48: Tukey HSD's s1<s2 pair theta join over the 3-row
    // status frame + the 1-row MSW crossJoin(broadcast)
    "q_ml_tukey_hsd" -> 2,
    // r15 batch 50: dow-hour's 1-row grand-total crossJoin(broadcast)
    // over the <= 168-cell frame
    "q_events_dow_hour" -> 1,
    // r15 batch 51: boost stumps' two candidate x day theta joins
    // (15 grid thresholds x the calendar-bounded daily frame, one
    // per boosting round)
    "q_ml_boost_stumps" -> 2,
    // r16 batch 53: nmi_ari's two 1-row moment-frame crossJoins
    // (row-marginal and column-marginal aggs onto the cell agg)
    "q_ml_nmi_ari" -> 2,
    // r16 batch 54: bm25/good_turing 1-row corpus-total
    // crossJoin(broadcast) scalar attaches; theils_u's two 1-row
    // marginal-entropy attaches; gk_gamma's dense-grid crossJoin of
    // the two distinct-value frames (<= 50 x 11, domain-bounded)
    "q_text_bm25" -> 1, "q_text_good_turing" -> 1,
    "q_ml_theils_u" -> 2, "q_ml_gk_gamma" -> 1,
    // r16 batch 55: weighted kappa's 5x5 marginal-product crossJoin
    // + the 1-row obs x expected assembly
    "q_ml_weighted_kappa" -> 2,
    // r16 batch 56: multilabel metrics' two 1-row metric-frame
    // crossJoins (user rollup + macro fold onto the micro agg)
    "q_ml_multilabel_metrics" -> 2,
    // r16 batch 58: keyness' 1-row corpus-total crossJoin(broadcast)
    "q_text_keyness" -> 1,
    // r17: rake's 1-row stop-list array crossJoin(broadcast) attach
    // (the RakeTop kernel rewrite — the 10-token stop list rides one
    // broadcast row instead of a token-scale join + window)
    "q_text_rake" -> 1,
    // r17: ad_ksamp's dense-grid cumulative lost its eager
    // localCheckpoint (VERDICT r16 #2), so the four domain-bounded
    // joins it used to hide behind a Scan ExistingRDD leaf are
    // audit-visible again: the types × values dense-grid crossJoin
    // (|types| × |cents-domain|, both support-sized) and the banded
    // machinery's band-offset theta joins (grid cumulative, pooled
    // cumulative — bands × bands, value-domain-bounded)
    "q_ml_ad_ksamp" -> 4)

  /** Peel codegen wrappers so the exchange child's real operator is
    * classified, not the WholeStageCodegen shell around it. */
  @annotation.tailrec
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case _ => p
  }

  /** True when `p` bounds what it feeds a single reducer: a
    * partial-mode aggregate emits one row per map task; a LocalLimit
    * emits at most `limit` rows per task. */
  private def boundedChild(p: SparkPlan): Boolean = unwrap(p) match {
    case a: BaseAggregateExec =>
      a.aggregateExpressions.forall(ae =>
        ae.mode == Partial || ae.mode == PartialMerge)
    case _: LocalLimitExec => true
    case _ => false
  }

  /** Every node of `p`, with subqueries AND AQE wrappers expanded.
    * AdaptiveSparkPlanExec is a LEAF node — a plain collect stops at
    * the wrapper and sees nothing inside (exactly how a warm
    * memoized-model frame from an AQE-on session silently passed the
    * r11 audit). Its pre-execution executedPlan is the initialPlan
    * with queryStagePreparationRules (incl. EnsureRequirements)
    * applied, so exchanges are real — recurse into it. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case n => Seq(n)
    }

  /** Offense labels for one key's built plan (empty = clean), plus
    * STALE-WHITELIST warnings (observed funnel count BELOW the pinned
    * one — the documentation no longer matches the real plan; ADVICE
    * r12 closed the asymmetry with the over-count offense) and the
    * count of benign global-agg SinglePartition exchanges seen.
    * Cartesian / BNLJ / non-benign SinglePartition funnels are
    * COUNTED and compared against the key's whitelist bound (0 when
    * unlisted) — an extra funnel on a whitelisted key is an offense,
    * not a pass (ADVICE r11). */
  def auditOne(spark: SparkSession, sfDir: String,
      name: String): (Seq[String], Seq[String], Int) = {
    val plan = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan
    val nodes = allNodes(plan)
    var benignSp = 0
    var bnlj = 0
    var cartesian = 0
    var noPartWin = 0
    val spChildren = Seq.newBuilder[String]
    val offenses = Seq.newBuilder[String]
    nodes.foreach {
      case _: CartesianProductExec =>
        cartesian += 1
      case _: BroadcastNestedLoopJoinExec =>
        bnlj += 1
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        noPartWin += 1
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        if (boundedChild(e.child)) benignSp += 1
        else spChildren += unwrap(e.child).nodeName
      case _ => ()
    }
    val stale = Seq.newBuilder[String]
    val cartAllowed = boundedCartesian.get(name).map(_._2).getOrElse(0)
    if (cartesian > cartAllowed)
      offenses += s"CartesianProduct x$cartesian (documented: $cartAllowed)"
    else if (cartesian < cartAllowed)
      stale += s"CartesianProduct x$cartesian < pinned $cartAllowed"
    val bnljAllowed = boundedBnlj.getOrElse(name, 0)
    if (bnlj > bnljAllowed)
      offenses += s"BroadcastNestedLoopJoin x$bnlj (documented: $bnljAllowed)"
    else if (bnlj < bnljAllowed)
      stale += s"BroadcastNestedLoopJoin x$bnlj < pinned $bnljAllowed"
    val sp = spChildren.result()
    val spAllowed = boundedSinglePartition.get(name).map(_._2).getOrElse(0)
    if (sp.size > spAllowed)
      offenses += s"row-scale SinglePartition x${sp.size} over " +
        s"${sp.mkString("/")} (documented: $spAllowed)"
    else if (sp.size < spAllowed)
      stale += s"row-scale SinglePartition x${sp.size} < pinned $spAllowed"
    val npwAllowed = boundedNoPartWindow.get(name).map(_._2).getOrElse(0)
    if (noPartWin > npwAllowed)
      offenses += s"no-partition WindowExec x$noPartWin (documented: $npwAllowed)"
    else if (noPartWin < npwAllowed)
      stale += s"no-partition WindowExec x$noPartWin < pinned $npwAllowed"
    (offenses.result(), stale.result(), benignSp)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // real Exchange nodes, no AdaptiveSparkPlanExec wrapper to peel
    val spark = Sessions.graft(4, "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    var clean = 0
    var benignTotal = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, _) =>
      try {
        val (offenses, stale, benignSp) = auditOne(spark, sfDir, name)
        benignTotal += benignSp
        stale.foreach(w => println(s"AUDIT $name: STALE-WHITELIST $w"))
        if (offenses.isEmpty) {
          clean += 1
          boundedSinglePartition.get(name).foreach { case (bound, n) =>
            println(s"AUDIT $name: bounded SinglePartition x$n WHITELISTED ($bound)") }
        } else println(s"AUDIT $name: ${offenses.mkString(", ")}")
      } catch {
        case e: Throwable => println(s"AUDIT $name: PLAN FAILED ${e.getMessage}")
      }
    }
    println(s"AUDIT clean=$clean of ${SparkEntry.queries.size}" +
      s" (benign global-agg SinglePartition exchanges: $benignTotal)")
    spark.stop()
  }
}
