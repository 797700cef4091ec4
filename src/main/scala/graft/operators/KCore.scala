package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling over an undirected edge list (columns `a < b`): each
  * round drops every node of degree < k and the edges touching it —
  * iterated, the survivors are the k-core, the standard density filter
  * for web/co-occurrence graphs (spam rings and boilerplate clusters
  * live in high cores; low-degree noise peels off first).
  *
  * Scale shape per round: ONE hash aggregation for degrees and two
  * LEFT-SEMI equi-joins against the (node-cardinality) keep set —
  * never an all-pairs structure. Driver-coordinated iteration like
  * [[PageRank]]: the driver carries only per-round counts, and every
  * round is pinned ([[Checkpoints.pin]]) so the plan does not grow
  * with rounds (executor-local blocks here; a reliable checkpoint dir
  * on a cluster). Rounds are PINNED by the caller — the per-round count
  * trace makes convergence (or the lack of it) visible in the output
  * rather than silently assumed.
  */
object KCore {

  /** Nodes meeting the degree bar against the current edge set — the
    * first half of one peel round (one hash aggregation). */
  private[graft] def degreeKeep(cur: DataFrame, k: Int): DataFrame =
    cur.select(col("a").as("n")).unionAll(cur.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("n"))

  /** Edges whose endpoints both survive — the second half of one peel
    * round (two left-semi equi-joins). */
  private[graft] def dropEdges(cur: DataFrame, keep: DataFrame): DataFrame =
    cur
      .join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
      .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")

  /** One full peel round as a single frame (degree agg + both
    * semi-joins) — what [[graft.Inspect]] audits for the per-round
    * invariants, since [[peelRounds]]'s final frame is only the
    * driver-collected trace (a LocalTableScan that hides the real work).
    * The input is materialized first, exactly as the loop holds it: the
    * round references the edge set three times, and the real rounds
    * reference a checkpointed copy, not three re-derivations.
    */
  def roundPlan(edges: DataFrame, k: Int): DataFrame = {
    val cur = Checkpoints.pin(edges)
    dropEdges(cur, degreeKeep(cur, k))
  }

  /** Peel `rounds` rounds toward the k-core. Returns one row per round:
    * (round, n_nodes = nodes meeting the degree bar that round,
    * n_edges = edges surviving after the drop). Stops early once the
    * edge set reaches a fixpoint (nothing peeled in a round): the
    * remaining rounds could only repeat the same counts, so the trace
    * is extended with copies of the fixpoint row — identical output to
    * running them, without paying rounds × (agg + 2 joins) after
    * convergence (the oracle's unrolled CTE rounds replay the same
    * arithmetic either way).
    */
  def peelRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // ENTRY pin stays EAGER: round 1's keep job references cur TWICE
    // (degreeKeep unions the a- and b-side scans), so a lazy pin would
    // compute the whole edge build twice in that job — the lazy pin's
    // single-first-consumer contract does not hold here. Per-round
    // pins below are single-referenced and stay fused.
    var cur = Checkpoints.pin(edges)
    var prevEdges = -1L
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      // TWO jobs per round, count fused into each lazy pin
      // ([[Checkpoints.pin]]): the r18 attribution probe
      // showed the sf0.1 wall time is dominated by the loop's
      // sequential job barriers (~25 of them originally), each of which
      // amplifies ambient host contention — q_kcore drifted 1.51x floor
      // while 3-barrier control queries moved 1.12x. r18 fused the two
      // count jobs into one (3 jobs/round); r19 folds the counts into
      // the materializing actions themselves (2 jobs/round, 19 -> 13
      // jobs for the 6-round trace) at identical scale cost — the
      // count() IS the lazy checkpoint's materializing scan, the plan
      // stays a constant-size LogicalRDD per round, and the trace
      // numbers are byte-identical.
      val keep = Checkpoints.pin(degreeKeep(cur, k), eager = false)
      val nNodes = keep.count()
      val next = Checkpoints.pin(dropEdges(cur, keep), eager = false)
      val nEdges = next.count()
      cur = next
      trace += ((r.toLong, nNodes, nEdges))
      if (nEdges == prevEdges) {
        // fixpoint: every later round sees the same degrees, keeps the
        // same nodes, drops nothing
        fixed = true
        for (rr <- r + 1 to rounds) trace += ((rr.toLong, nNodes, nEdges))
      }
      prevEdges = nEdges
      r += 1
    }
    trace.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  /** The identical peel unrolled as SQL CTE rounds (the DuckDB oracle):
    * pure integer counting, so the replay is exact. Every CTE is
    * MATERIALIZED — inlined, each round references the previous one ~4
    * times and the expansion is 4^rounds base-table scans.
    */
  def unrolledSql(edgesSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH e0 AS MATERIALIZED ($edgesSql)")
    for (r <- 1 to rounds) sb.append(s""",
      n$r AS MATERIALIZED (
        SELECT n FROM (SELECT a AS n FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
        GROUP BY n HAVING count(*) >= $k),
      e$r AS MATERIALIZED (
        SELECT a, b FROM e${r - 1}
        WHERE a IN (SELECT n FROM n$r) AND b IN (SELECT n FROM n$r))""")
    sb.append("\nSELECT * FROM (")
    sb.append((1 to rounds).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
            (SELECT CAST(count(*) AS BIGINT) FROM n$r) AS n_nodes,
            (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges""").mkString(" UNION ALL "))
    sb.append(") ORDER BY round")
    sb.toString
  }
}
