package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank over an edge list, as a driver-coordinated iterative
  * DataFrame loop — the canonical shape for fixed-point algorithms on
  * Spark (each iteration is a broadcast-join + aggregation the planner
  * can distribute; the DRIVER only sequences iterations, it never sees
  * the data). Web-crawl curation pipelines use exactly this to propagate
  * authority/quality through a link graph before filtering.
  *
  * Per iteration: rank(dst) = (1-d)/|V| + d * Σ_src rank(src) · p(src→dst),
  * where p is the weight-normalized transition probability. Ranks are a
  * |V|-sized frame, so the join side broadcasts; the edge list (the big
  * side at scale) is scanned once per iteration and never re-shuffled —
  * it is checkpointed with its (src)-keyed layout up front.
  *
  * Dangling nodes (no out-edges) are supported as rank sinks: their mass
  * leaves the system, matching the plain "no redistribution" formulation
  * (spelled identically in the oracle's unrolled iterations).
  */
object PageRank {

  /** @param edges (src: long, dst: long, w: numeric) — parallel edges
    *              should be pre-aggregated; w > 0
    * @return (node: long, rank: double) for every node appearing as a
    *         src or dst, after `iterations` damped sweeps from the
    *         uniform start.
    */
  def run(
      edges: DataFrame,
      damping: Double = 0.85,
      iterations: Int = 10): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")

    // normalize: p(src→dst) = w / out_weight(src); edge layout fixed
    // once. EAGER pin: the first consumer (the nodes count job below)
    // references trans TWICE (src ∪ dst), so a lazy pin would run the
    // corpus-wide edge build twice in that job — outside the lazy
    // pin's single-first-consumer contract.
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val trans = Checkpoints.pin(
      edges.join(outW, Seq("src"))
        .select(col("src"), col("dst"), (col("w") * lit(1.0) / col("outw")).as("p")))

    // Node set derived from the PINNED trans frame, not from `edges`:
    // trans preserves every edge (the outW join is on src, which every
    // edge matches by construction), so the (src ∪ dst) node set is
    // identical — and the corpus-wide edge build no longer executes a
    // SECOND time just to enumerate nodes (at the ×1000 SF that second
    // pass is a full lineitem⋈orders⋈customer⋈supplier replay). Count
    // fused into the materializing job (one barrier, not two).
    val nodes = Checkpoints.pin(
      trans.select(col("src").as("node"))
        .union(trans.select(col("dst").as("node")))
        .distinct(),
      eager = false)
    val nNodes = nodes.count()
    val teleport = (1.0 - damping) / nNodes

    // Each sweep stays EAGERLY materialized. A fully lazy 10-sweep
    // chain was tried in r19 (iterations is fixed, so no driver
    // decision forces a job per sweep) and MEASURED SLOWER —
    // q_pagerank ~2.3 normalized units eager vs ~2.7-3.1 lazy: with
    // one nested plan, AQE re-optimizes the whole remaining tree after
    // every completed stage, and ~25 stages × a 10-sweep plan costs
    // more than the 10 job barriers the fusion saves. Reverted; the
    // kept r19 wins are the fused nodes count and the single edge
    // build above.
    var ranks = nodes.withColumn("rank", lit(1.0 / nNodes))
    for (_ <- 1 to iterations) {
      ranks = Checkpoints.pin(
        sweep(trans, nodes, ranks, damping, teleport)
      ) // truncate the lineage, keep each sweep one stage
    }
    ranks
  }

  /** One damped sweep: broadcast the (|V|-sized) rank frame into the
    * edge scan, aggregate contributions per dst, re-attach dangling
    * nodes. Shared by [[run]]'s loop and [[roundPlan]], so the audited
    * per-round plan IS the executed one.
    */
  private[graft] def sweep(
      trans: DataFrame, nodes: DataFrame, ranks: DataFrame,
      damping: Double, teleport: Double): DataFrame = {
    val contrib = trans
      .join(broadcast(ranks.withColumnRenamed("node", "src")), Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(sum(col("rank") * col("p")).as("contrib"))
    nodes
      .join(contrib, Seq("node"), "left")
      .select(
        col("node"),
        (lit(teleport) + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
  }

  /** One representative sweep over `edges` (broadcast-join + per-dst
    * aggregation + dangling re-attach) for [[graft.Inspect]] —
    * [[run]]'s returned frame is a checkpointed LogicalRDD that hides
    * the per-sweep shuffle structure. trans/nodes/ranks are materialized
    * first, exactly as [[run]] holds them between sweeps.
    */
  def roundPlan(edges: DataFrame, damping: Double = 0.85): DataFrame = {
    val e = Checkpoints.pin(edges)
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val trans = Checkpoints.pin(e.join(outW, Seq("src"))
      .select(col("src"), col("dst"), (col("w") * lit(1.0) / col("outw")).as("p")))
    val nodes = Checkpoints.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val ranks = Checkpoints.pin(nodes.withColumn("rank", lit(1.0)))
    sweep(trans, nodes, ranks, damping, teleport = 0.15)
  }

  /** The identical computation as ANSI SQL: `iterations` unrolled CTE
    * sweeps over `edgesSql` (a relation producing src, dst, w). For
    * oracles and SQL-only callers. `teleport`/`damping` are embedded as
    * literals, so spell them the same way the Column form does.
    */
  def unrolledSql(
      edgesSql: String,
      damping: Double = 0.85,
      iterations: Int = 10): String = {
    // Every literal is CAST to DOUBLE: SQL engines type bare `1.0` as
    // DECIMAL (Spark's decimal division drifts ~1e-7 over 10 sweeps),
    // and the point of this text is bit-identical IEEE arithmetic with
    // the Column loop in any engine that runs it.
    val d = s"CAST($damping AS DOUBLE)"
    val one = "CAST(1.0 AS DOUBLE)"
    val zero = "CAST(0.0 AS DOUBLE)"
    val sweeps = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         (($one - $d) / (SELECT cnt FROM nn)) + $d * coalesce(s.contrib, $zero) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank * e.p) AS contrib
         |    FROM r${i - 1} r JOIN trans e ON e.src = r.node
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |trans AS (
       |  SELECT e.src, e.dst, e.w * $one / o.outw AS p
       |  FROM edges e JOIN (SELECT src, sum(w) AS outw FROM edges GROUP BY src) o
       |    ON o.src = e.src),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT count(*) AS cnt FROM nodes),
       |r0 AS (SELECT node, $one / (SELECT cnt FROM nn) AS rank FROM nodes),
       |$sweeps
       |SELECT node, rank FROM r$iterations""".stripMargin
  }
}
