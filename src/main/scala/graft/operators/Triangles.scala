package graft.operators

import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected edge list
  * (columns `a < b`), built from the two standard scale techniques:
  *
  *   - **Degree-ordered orientation**: each edge is directed from its
  *     lower-degree endpoint (ties on id), so every out-adjacency list
  *     is O(√m) and the wedge self-join can never pivot on a superstar
  *     node — the difference between a tractable join and a quadratic
  *     blowup on power-law graphs.
  *   - **DOULION edge sampling** (Tsourakakis et al., KDD 2009): keep
  *     each edge iff a deterministic md5 hash lands under p; count
  *     exactly on the sampled graph; `t/p³` is an unbiased estimate of
  *     the true count, while wedge work shrinks by p². The hash (not
  *     rand()) makes the estimate reproducible across runs and retries.
  *
  * Every stage is an equi-join or hash aggregate on node/edge keys; the
  * two multiply-consumed frames are pinned via [[Checkpoints.pin]]
  * (serialized) so the pair-gen join is not re-executed per consumer
  * and the pin never re-inflates to object rows.
  */
object Triangles {

  /** All unordered co-occurrence pairs (a < b) from (basket, item)
    * rows — the co-purchase/co-occurrence edge generator feeding the
    * triangle and k-core gates — with a defensive per-basket
    * cardinality cap.
    *
    * Pair-gen is QUADRATIC in basket size: one degenerate hot basket
    * (a crawler order with 10⁶ items, a boilerplate mega-container)
    * emits 5·10¹¹ pairs and sinks the job at scale even though every
    * normal basket is tiny. Baskets above `maxBasket` are dropped
    * entirely, not sampled — a mega-basket's pairs are co-occurrence
    * noise (everything co-occurs with everything), and dropping it is
    * the standard containment rule. The cap costs one basket-keyed
    * hash aggregate + a left-semi join before the self-join. The
    * default (64) is a no-op on TPC-H-shaped baskets (≤ ~7 items);
    * the gate oracles apply the identical HAVING so the cap is pinned
    * semantics, not a lossy shortcut.
    */
  def basketPairs(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      maxBasket: Int = 64): DataFrame =
    rawBasketPairs(items, basketCol, itemCol, maxBasket).distinct()

  /** The per-basket pair stream BEFORE the global `distinct()` —
    * duplicates appear once per basket the pair co-occurs in.
    *
    * Built with the q_copurchase basket shape: ONE shuffle groups items
    * into baskets (`collect_set` dedups within a basket and `size` is
    * the cap predicate), then pairs are generated MAP-SIDE by two
    * nested generates + the `a < b` filter inside whole-stage codegen.
    * The old `items ⋈ items` self-join needed three corpus-width
    * shuffles (item distinct, both join sides) before the pair dedup.
    *
    * Exposed separately because a DETERMINISTIC thinning predicate
    * (a pure function of `(a, b)`, like [[sampleEdges]]' md5) commutes
    * with the dedup: `thin ∘ distinct = distinct ∘ thin`. DOULION
    * callers filter THIS stream and dedup after, so the pair-dedup
    * shuffle — the widest exchange in the whole pipeline, ~10⁹ raw
    * pairs at the ×1000 SF, an ENOSPC DNF as a post-distinct sample —
    * shrinks by the keep rate p before anything is shuffled.
    */
  def rawBasketPairs(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      maxBasket: Int = 64): DataFrame =
    items
      .select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .groupBy(col("__bk"))
      .agg(collect_set(col("__it")).as("__items"))
      .filter(size(col("__items")) <= maxBasket)
      .select(explode(col("__items")).as("a"), col("__items"))
      .select(col("a"), explode(col("__items")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))

  /** Deterministic DOULION thinning: keep `keepParts` of `modParts`. */
  def sampleEdges(edges: DataFrame, modParts: Int, keepParts: Int, salt: String): DataFrame =
    edges.filter(
      md5Hash32(concat(lit(salt), col("a").cast("string"), lit(":"), col("b").cast("string")))
        % modParts < keepParts)

  /** Exact count on the given (already sampled or full) edge list.
    * Returns one row: n_edges, max_degree, n_wedges, n_triangles.
    *
    * Two structural bounds keep this off the wedge-materialization
    * cliff (the ×1000-SF co-purchase graph carries ~10¹⁰ wedges —
    * counting them through the closure join was a ~100 GB exchange):
    *
    *   - `n_wedges` is computed ANALYTICALLY as Σ_src C(outdeg, 2):
    *     out-neighbors are distinct per src (edges are distinct and the
    *     orientation maps each edge to exactly one (src, dst)), so the
    *     `x < y` self-join emits exactly C(outdeg, 2) rows per src —
    *     the count needs the outdegree aggregate, never the join.
    *   - The closure join is BLOOM-PRUNED ([[BloomJoin.mightContain]],
    *     codegen'd): a sketch over the edge keys (xxhash64(a, b),
    *     driver-merged, ~2.5 MB per million edges at 2% fpp) filters
    *     the wedge stream IN THE WEDGE-GEN STAGE, so only true
    *     triangles plus the fpp sliver ever reach the closure
    *     exchange. The exact join then removes false positives — the
    *     sketch changes shuffle volume, never the count.
    *   - Sketch sizing is CAPPED at `maxBloomBytes` (default 128 MiB):
    *     a 2%-fpp bloom costs ~8.14 bits/edge, which is linear in edge
    *     count — ~600 MB of driver build + broadcast at 600M edges and
    *     unbounded beyond. Under the cap the fpp is raised to the
    *     smallest value that fits (`fpp = exp(-8·cap·ln²2 / n)`); a
    *     higher fpp only weakens PRUNE SELECTIVITY (the exact join
    *     already removes false positives), never the count. Past
    *     fpp 0.25 the prune passes most wedges anyway, so the sketch
    *     is skipped outright and the closure join carries the full
    *     wedge stream — the pre-sketch behavior, minus the build cost.
    *
    * `pin = false` skips the defensive edge pin when the caller
    * already pinned the edge frame (q_triangle_sampled shares one
    * checkpoint between the p = 0.5 stats and the p = 0.2 re-filter —
    * double-caching 600M-row frames is what pushed the ×1000 SF run
    * over the heap).
    *
    * `bloom = false` skips the sketch AND the eager driver-side edge
    * count that exists only to size it (n_edges is then computed
    * in-plan): the Bloom pre-filter trades two extra passes over the
    * edge frame (count + sketch build, each its own job barrier) plus a
    * broadcast for a smaller closure exchange — a win exactly when the
    * wedge stream is large (guide §3.2: the small side is scanned
    * twice, "the reason it is not always on"). Callers gate it on input
    * size the same way as the q_triangle_sampled phase barrier; the
    * sketch only ever changes shuffle volume, never the counts, so both
    * branches are result-identical (SamplingGraphSpec pins this).
    */
  def stats(edges0: DataFrame, pin: Boolean = true,
            maxBloomBytes: Long = 128L << 20,
            bloom: Boolean = true): DataFrame = {
    // consumed 4×: degrees, orientation, bloom build, closure join
    // (3× when the bloom branch is gated off)
    val edges = if (pin) Checkpoints.pin(edges0) else edges0
    val deg = edges.select(col("a").as("n")).unionAll(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // consumed 2×: wedge gen + outdegree count
    val oriented = Checkpoints.pin(edges
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst")))
    // The sketch needs the edge count ON THE DRIVER to size itself, so
    // the bloom branch pays one count() action over the pinned blocks —
    // and then REUSES that count as a literal in the stats row instead
    // of re-aggregating the same frame in-plan (the r19 shape counted
    // the pinned edges twice on the bloom branch: once here, once in
    // the final plan's edges.agg(count)).
    val nEdgesOpt = if (!bloom) None else Some(edges.count())
    val bloomOpt = nEdgesOpt.flatMap { nEdges =>
      // bits(n, p) = -n·ln p / ln²2, so the smallest fpp that fits the
      // byte cap is exp(-8·cap·ln²2 / n); below 2% the cap isn't binding.
      val ln2sq = math.log(2.0) * math.log(2.0)
      val fpp = math.max(0.02,
        math.exp(-(maxBloomBytes * 8.0) * ln2sq / math.max(nEdges, 1L).toDouble))
      if (fpp > 0.25) None // prune too weak to pay for the broadcast
      else Some(edges.select(xxhash64(col("a"), col("b")).as("k"))
        .stat.bloomFilter("k", math.max(nEdges, 1L), fpp))
    }
    val wedgeCount = oriented.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(expr("od * (od - 1) DIV 2")), lit(0L)).cast("long").as("n_wedges"))
    val cand0 = oriented.select(col("src"), col("dst").as("x"))
      .join(oriented.select(col("src"), col("dst").as("y")), Seq("src"))
      .filter(col("x") < col("y"))
    val cand = bloomOpt.fold(cand0)(b =>
      cand0.filter(BloomJoin.mightContain(b, xxhash64(col("x"), col("y")))))
    val tri = cand.join(edges, edges("a") === col("x") && edges("b") === col("y"))
    // n_edges: on the bloom-off branch an IN-PLAN aggregate over the
    // pinned edge frame (one more consumer of already-materialized
    // blocks, no extra driver action); on the bloom-on branch the
    // sizing count() above already holds the exact value on the driver,
    // so it flows in as a literal — ONE count per stats() call on
    // either branch.
    val nEdgesDf = nEdgesOpt match {
      case Some(n) => edges.sparkSession.range(1).select(lit(n).cast("long").as("n_edges"))
      case None    => edges.agg(count(lit(1)).cast("long").as("n_edges"))
    }
    nEdgesDf
      .crossJoin(broadcast(deg.agg(max(col("d")).cast("long").as("max_degree"))))
      .crossJoin(broadcast(wedgeCount))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
  }
}
