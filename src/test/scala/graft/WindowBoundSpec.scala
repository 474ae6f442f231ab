package graft

import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window, WindowGroupLimit}

/** Lint: no entry may ship an UNPARTITIONED window over unbounded
  * input. Spark's unpartitioned WindowExec moves every input row to a
  * single partition — at 100 TB that is a guaranteed serialization
  * stall (the round-8 findings: a corpus-scale epoch-shuffle rank and
  * two vocabulary-scale ranks all shipped behind docstrings claiming
  * otherwise). This spec turns that finding into a CLASS that cannot
  * regress: it walks every `SparkEntry.queries` optimized plan and
  * requires each unpartitioned logical Window to be bounded by
  * construction —
  *
  *  - a [[WindowGroupLimit]] in its subtree: the optimizer proved an
  *    upper-bounded rank cut sits above the window, so every input
  *    partition is pruned to ≤ k rows before the single-partition
  *    stage; or
  *  - a [[GlobalLimit]]/[[LocalLimit]] below it; or
  *  - an explicit allow-list entry pinning the count of windows whose
  *    boundedness is structural but not machine-checkable (running
  *    sums over aggregates with provably small key domains — each
  *    justified below). A NEW unpartitioned window in any entry fails
  *    here until it is either rank-cut bounded or consciously pinned.
  */
class WindowBoundSpec extends SparkSpecBase {

  /** query name → count of unpartitioned windows that are bounded by
    * construction (not by a rank cut the optimizer can see). Every
    * entry's justification must name the bound. Three classes:
    *
    *  - `g2`: the deepest level of `Curation.exclusiveOffsets`' recursed
    *    prefix sum — by construction it sees ≤ N/PackGroup^(depth+1)
    *    rows (a handful even at 10¹¹ documents; the parallel levels are
    *    partitioned and never appear here).
    *  - `b`/`bucket`: running sums over bucket-histogram aggregates
    *    whose key domain is a fixed constant (value buckets /
    *    curriculum buckets), so the window input is ≤ that constant.
    *  - `source`: per-source aggregate — the source domain is a
    *    catalog-sized dimension, never corpus-scale.
    */
  private val Pinned: Map[String, Int] = Map(
    "llm_corpus_card" -> 2,      // bucket histograms (b)
    "llm_curriculum" -> 1,       // CurriculumBuckets-row running sum
    "llm_mix_waterfill" -> 4,    // |sources|-row aggregate: rank +
                                 // running sum, duplicated across the
                                 // kept/capped plan branches
    "llm_pack_chunks" -> 1,      // exclusiveOffsets deepest level (g2)
    "llm_pack_offsets" -> 1,     // exclusiveOffsets deepest level (g2)
    "llm_pack_shards" -> 1,      // exclusiveOffsets deepest level (g2)
    "llm_pipeline_e2e" -> 1,     // exclusiveOffsets deepest level (g2)
    "llm_pipeline_tokens" -> 1,  // exclusiveOffsets deepest level (g2)
    "llm_quality_auc" -> 1,      // ≤ AucBuckets-row bucket totals (b)
    "llm_quantile_sketch" -> 2,  // bucket histograms (b)
    "rel_skyline" -> 1,          // ≤ |integer price domain|-row bucket
                                 // prefix max (b)
    "llm_doc_pareto" -> 1,       // the same skylineOf prefix max over
                                 // ≤ |redundancy domain| buckets — a
                                 // per-document length-bounded value,
                                 // never corpus-scale (b)
    "llm_sample_pps" -> 1,       // exclusiveOffsets deepest level (g2)
    "llm_shard_stats" -> 1,      // exclusiveOffsets deepest level (g2)
    "llm_shuffle_assign" -> 1,   // exclusiveOffsets deepest level (g2)
    "llm_source_quality" -> 1,   // |sources|-row aggregate
    "llm_winsorize" -> 2,        // bucket histograms (b)
    "stream_watermark_plan" -> 1 // exclusiveOffsets deepest level (g2)
  )

  private def offenders(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty &&
          w.child.collectFirst {
            case _: WindowGroupLimit => ()
            case _: GlobalLimit => ()
            case _: LocalLimit => ()
          }.isEmpty =>
        val below = w.child.nodeName
        val aggs = w.child.collectFirst { case a: Aggregate => a }
          .map(a => s"agg keys=${a.groupingExpressions.map(_.sql)
            .mkString(",")}").getOrElse("no-agg")
        s"Window[${w.windowExpressions.map(_.name).mkString(",")}] " +
          s"over $below ($aggs)"
    }

  test("rank-filter global windows compile to a bounded physical cut") {
    // The allow-list above accepts a logical WindowGroupLimit ANYWHERE
    // below the window; this test pins the PHYSICAL rewrite for the
    // named top-k windows — the "bounded per-partition heaps" claim in
    // their docstrings was otherwise a docstring, not a plan pin, and
    // a Spark upgrade or refactor could silently lose the rewrite
    // (leaving a true single-partition sort of the window input).
    // Accepted spellings: TakeOrderedAndProject (what the optimizer
    // emits for these — a global top-K via per-partition heaps feeding
    // the K-row window input) or a WindowGroupLimit(Exec). The graph
    // …Of forms return their cut result, whose plan is just a scan;
    // the windowed plan is the one their final cut executes — the
    // last SQL execution of the call.
    import graft.operators._
    import org.apache.spark.sql.DataFrame
    val li = Tables(spark, Sf, "lineitem")
    def planned(df: => DataFrame): () => String =
      () => df.queryExecution.executedPlan.toString
    def finalCut(df: => DataFrame): () => String =
      () => sqlExecutions(Materialize.release(df)).last.executedPlan.toString
    val targets: Seq[(String, () => String)] =
      Seq(
        "llm_uncertainty_sample" ->
          planned(Quality.uncertaintySample(spark, Sf)),
        "graph_pagerank" ->
          finalCut(Graph.pagerankOf(Graph.edges(spark, Sf))),
        "graph_ppr" -> finalCut(Graph.pprOf(Graph.edges(spark, Sf))),
        "graph_label_prop" ->
          finalCut(Graph.labelPropOf(Graph.edges(spark, Sf))),
        "graph_hits" -> finalCut(Graph.hitsOf(li)),
        "llm_chi2_terms" -> planned(TextOps.chi2TermsOf(
          Tables(spark, Sf, "documents"))),
        "llm_bm25_topk" -> planned(Retrieval.bm25TopK(spark, Sf)))
    val missing = targets.flatMap { case (name, plan) =>
      val p = plan()
      if (p.contains("WindowGroupLimit")
          || p.contains("TakeOrderedAndProject")) None
      else Some(s"$name:\n${p.take(4000)}")
    }
    assert(missing.isEmpty,
      s"rank-cut windows lost their bounded physical cut:\n${
        missing.mkString("\n")}")
  }

  test("every unpartitioned window is rank-cut bounded or pinned") {
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val offs =
          try offenders(fn(spark, Sf).queryExecution.optimizedPlan)
          catch { case e: Throwable =>
            Seq(s"PLAN FAILURE ${e.getClass.getSimpleName}") }
        if (offs.isEmpty) None else Some(name -> offs)
    }
    val bad = found.filter { case (n, offs) =>
      Pinned.getOrElse(n, 0) != offs.size }
    assert(bad.isEmpty,
      s"""unbounded unpartitioned windows (fix with a rank cut or pin):
         |${bad.map { case (n, o) =>
             s"  $n (${o.size}):\n    ${o.mkString("\n    ")}" }
           .mkString("\n")}""".stripMargin)
  }
}
