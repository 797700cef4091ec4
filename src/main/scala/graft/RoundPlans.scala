package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Representative PER-ROUND plans for the driver-coordinated iterative
  * queries. Their gate frames are driver-collected traces or checkpointed
  * results (LocalTableScan / LogicalRDD), so a plan audit of the final
  * frame alone reports `shuffles=0` and hides the real per-round work.
  * Each entry here is ONE unexecuted round built from the same round-body
  * functions the query loops actually run, so the plan [[Inspect]]
  * audits is the executed one.
  *
  * Keys match `SparkEntry.queries` names; each maps to one or more
  * labeled round frames (BPE has two distinct per-round shapes: the
  * bounded pair-count shuffle and the windowed merge application).
  */
object RoundPlans {
  def plans: Map[String, (SparkSession, String) => Seq[(String, DataFrame)]] = Map(
    "q_kcore" -> ((s, dir) => Seq(
      "peel" -> graft.operators.KCore.roundPlan(
        graft.queries.PipelineQ.kcoreEdges(s, dir), k = 8))),
    "q_pagerank" -> ((s, dir) => Seq(
      "sweep" -> graft.operators.PageRank.roundPlan(
        graft.queries.PipelineQ.tradeEdges(s, dir)))),
    "q_logreg_quality" -> ((s, dir) => Seq(
      "gradient" -> graft.operators.LogisticRegression.roundPlan(
        Tables.loadDistributed(s, dir, "documents", "doc_id"),
        graft.queries.PipelineQ.logregFeatures,
        graft.queries.PipelineQ.logregLabel))),
    "q_bpe_merges" -> ((s, dir) => graft.queries.TrainOps.bpeRoundPlans(s, dir)),
    "q_lsh_clusters" -> ((s, dir) => Seq(
      "propagate" -> graft.queries.Dedup.lshClusterRoundPlan(s, dir))))
}
