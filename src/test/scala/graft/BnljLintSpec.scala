package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Lint: every BroadcastNestedLoopJoin must be pinned. BNLJ is the one
  * join shape left standing after [[CartesianLintSpec]] that can
  * silently go quadratic: drop a `broadcast()` hint from a bounded
  * build side (or let a schema change defeat an equi-join key) and the
  * optimizer falls back to streaming |left| rows against a
  * nested-loop probe of the build side — fine for the deliberate
  * 1-row/catalog-sized `crossJoin(broadcast(...))`s this library
  * ships, a scale-killer for anything corpus-sized. This spec walks
  * every `SparkEntry.queries` physical plan (pre-AQE `sparkPlan` —
  * planning only, nothing executes) and requires each entry's
  * BroadcastNestedLoopJoinExec count to match the audited pin below;
  * a new unpinned BNLJ fails the build until it is reviewed and its
  * build side argued bounded.
  *
  * Every pinned occurrence below is a cross join against a broadcast
  * 1-row aggregate (corpus totals, split points, thresholds, model
  * rows) or a catalog-sized literal table (method lists, bucket
  * boundaries, language domains) — the bounded-build classes the
  * operators document inline.
  */
class BnljLintSpec extends SparkSpecBase {

  /** query name → allowed BroadcastNestedLoopJoinExec count (audited
    * r10: every build side is a broadcast 1-row aggregate or a
    * catalog-/constant-sized table; all BuildRight).
    */
  private val Pinned: Map[String, Int] = Map(
    // apriori_freq_itemsets_txorder un-pinned r16: its freqset
    // scalar-attach crossJoin moved into the session basket-cache
    // BUILD; the serve plan reads the checkpointed baskets directly.
    // llm_sim_recall un-pinned like llm_sim_matryoshka: its 1-row
    // n_exact crossJoin runs inside the recall tally's forced cut, so
    // the returned plan is a scan of that cut
    "apriori_rules_metrics" -> 1,
    "graph_als_recs" -> 1,
    "graph_rich_club" -> 2,
    "graph_triangles" -> 2,
    "llm_audience_kmv" -> 2,
    "llm_bm25_topk" -> 1,
    "llm_chi2_terms" -> 1,
    "llm_collocations" -> 1,
    "llm_corpus_card" -> 5,
    "llm_dedup_recall" -> 1,
    "llm_eval_rankers" -> 4,
    "llm_eval_retrieval" -> 1,
    "llm_f2_ams" -> 1,
    "llm_fuzzy_recall" -> 1,
    "llm_hybrid_rrf" -> 2,
    "llm_ks_drift" -> 3,
    "llm_lm_kn_score" -> 1,
    "llm_lm_kneser_ney" -> 1,
    "llm_mix_apply" -> 1,
    "llm_mix_check" -> 1,
    "llm_mix_epochs" -> 3,
    "llm_mix_temperature" -> 3,
    "llm_mix_upsample" -> 3,
    "llm_mix_waterfill" -> 6,
    "llm_mix_weights" -> 1,
    "llm_ql_topk" -> 1,
    "llm_quality_auc" -> 2,
    "llm_quality_brier" -> 1,
    "llm_quantile_sketch" -> 4,
    "llm_query_expansion" -> 1,
    "llm_sample_pps" -> 1,
    "llm_t_closeness" -> 2,
    "llm_tfidf_topterms" -> 1,
    "llm_vocab_coverage" -> 1,
    "llm_wand_audit" -> 2,
    "llm_winsorize" -> 5,
    "rel_benford" -> 1,
    "rel_idle_customers" -> 1,
    "rel_important_suppliers" -> 1,
    "rel_zorder_skipping" -> 1,
    "stream_abtest" -> 1,
    "stream_frequent_paths" -> 1,
    "stream_mad_outliers" -> 2,
    "stream_resample" -> 1,
    "stream_survival" -> 1
  )

  private def offenders(plan: SparkPlan): Seq[String] =
    plan.collect {
      case j: BroadcastNestedLoopJoinExec =>
        s"BNLJ(${j.joinType}) build=${j.buildSide}"
    }

  test("every BroadcastNestedLoopJoin is pinned with a bounded build") {
    // a planning exception is a FAILURE in its own right, never an
    // offender string — an entry pinned at exactly 1 BNLJ whose plan
    // construction starts throwing would otherwise "match" its pin and
    // mask the planning regression
    val planFailures = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val offs =
          try offenders(fn(spark, Sf).queryExecution.sparkPlan)
          catch { case e: Throwable =>
            planFailures += name ->
              s"${e.getClass.getSimpleName}: ${e.getMessage}"
            Nil }
        if (offs.isEmpty) None else Some(name -> offs)
    }
    assert(planFailures.isEmpty,
      s"""entries failed to PLAN (fix before reading the BNLJ lint):
         |${planFailures.map { case (n, m) => s"  $n: $m" }
           .mkString("\n")}""".stripMargin)
    val bad = found.filter { case (n, offs) =>
      Pinned.getOrElse(n, 0) != offs.size
    } ++ Pinned.toSeq.collect {
      case (n, want)
          if want > 0 && !found.exists(_._1 == n) =>
        n -> Seq(s"pinned $want, found 0 — stale pin, un-pin it")
    }
    assert(bad.isEmpty,
      s"""BNLJ drift — review each build side's bound, then pin:
         |${bad.map { case (n, o) =>
             s"  \"$n\" -> ${o.size}, // ${o.mkString("; ")}" }
           .mkString("\n")}""".stripMargin)
  }
}
