package graft

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Blanket quadratic-plan guard over EVERY declared query (round 13):
  * no CartesianProduct anywhere, and BroadcastNestedLoopJoin only in
  * the queries where one side is constant-bounded by construction —
  * the "broadcast a tiny aggregated table (query vectors, mixture
  * weights, global totals, per-group thresholds) across the corpus"
  * pattern, which is a LINEAR per-row loop over <= a few dozen
  * broadcast rows, the plan one wants. A new query that accidentally
  * plans an unbounded cross join fails here, not at 100 TB.
  *
  * Runs the plans at sf0.01 (some query bodies compute eager require
  * gates, so this sweep costs a few minutes — the price of auditing
  * every declared plan; targeted per-query shape assertions live in
  * PlanAuditSpec).
  */
class PlanSweepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.01"

  /** Queries whose BroadcastNestedLoopJoin is a deliberate
    * constant-bounded broadcast side (audited individually):
    * - ANN / embedding families broadcast <= 10 query vectors
    *   (q35/q45/q60/q85/q129/q146);
    * - LM / DSIR / collocation scoring broadcasts 1-row global totals
    *   or model stats (q79/q112/q113/q144);
    * - sampling / thresholding broadcasts tiny aggregated cut tables
    *   (q82 mixture weights, q133 source shares, q134 histogram cuts,
    *   q157 per-lang quantile thresholds);
    * - q50's UDAF top-k joins its <= k result rows back;
    * - q92 composes the curation pipeline (inherits q82's weights);
    * - q97's null-semantics probe is a literal handful of rows.
    */
  val bnljBounded: Set[String] = Set(
    "q112_bigram_lm_backoff", "q113_dsir_importance",
    "q129_hard_negatives", "q133_top_p_sources",
    "q134_histogram_quantiles", "q144_pmi_collocations",
    "q146_hybrid_rrf_fusion", "q157_ccnet_perplexity_buckets",
    "q35_ann_cosine_topk", "q45_dedup_embedding_exact",
    "q50_udaf_topk", "q60_native_cosine_expr", "q79_text_lm_quality",
    "q82_mixture_temperature", "q85_ann_pq_topk",
    "q92_curate_webcrawl_pipeline", "q97_sql_null_semantics")

  test("no query plans a CartesianProduct; BNLJ only where a side is constant-bounded") {
    assume(new java.io.File(sf).exists(), "sf0.01 fixture not present")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = fn(spark, sf).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        spark.catalog.clearCache()
        val cart = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") &&
          !bnljBounded(name)
        if (cart || bnlj)
          Some(s"$name cartesian=$cart unexpected_bnlj=$bnlj")
        else None
    }
    assert(offenders.isEmpty,
      s"quadratic plan operators appeared:\n${offenders.mkString("\n")}")
  }
}
