package graft

import graft.nshm.SemVer

/** Physical-plan shape guards: the properties that make these queries
  * scale must not silently regress.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q1_agg pushes the date filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
  }

  test("top-k queries plan as TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
    assert(plan("q_dsl_topk").contains("TakeOrderedAndProject"))
  }

  test("the star join broadcasts every dimension") {
    // the customer join's STATIC estimate is a join output (customer ⋈
    // broadcast asian-nations), which the planner over-sizes into a
    // SortMergeJoin; AQE converts it from runtime stats — so this guard
    // reads the FINAL adaptive plan, the one that actually ran
    val df = SparkEntry.queries("q_join_star")(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), full)
    // the adaptive toString appends the pre-runtime plan after the final
    // one — only the final section is what ran
    val p = full.split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 5, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scans prune to the referenced columns only") {
    val p = plan("q_topk")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"), p)
  }

  test("range join broadcasts the band table as a nested-loop build side") {
    val p = plan("q_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tf-idf broadcasts the document-frequency and corpus-count sides") {
    val p = plan("q_tfidf")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("correlated EXISTS subqueries rewrite to semi/anti joins, not subplans") {
    val p = plan("q_exists_subq")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("exact percentiles plan with no window sort on the 3-value group key") {
    val p = plan("q_percentile_exact")
    assert(!p.contains("Window"), p)
  }

  test("contamination scan joins shingles by key — no cartesian pair blowup") {
    val p = plan("q_contamination")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p)
  }

  test("BM25 broadcasts the vocabulary-sized df and scalar stats sides") {
    val p = plan("q_bm25")
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p)
    // the only unconditional-broadcast join is the 1-row stats frame
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
  }

  test("key-skew profiler is two hash aggregations, no window over all rows") {
    val p = plan("q_key_skew")
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).nonEmpty, p)
  }

  test("native signature kernels plan as projections — no aggregate, no explode") {
    // the one-pass MinHash/SimHash kernels exist to DELETE the
    // explode→md5→groupBy signature pipeline; if an aggregate or a
    // Generate reappears in these plans, the kernels stopped being
    // used. (The spread repartition is allowed — it exists to give the
    // md5-bound kernel full-core parallelism over the single-row-group
    // test parquet, and is not part of the signature computation.)
    for (name <- Seq("q_minhash_sig", "q_simhash")) {
      val p = plan(name)
      assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
        s"$name must not aggregate:\n$p")
      assert(!p.contains("Generate"), s"$name must not explode rows:\n$p")
    }
  }

  test("weighted sample selects via TakeOrderedAndProject — no full sort") {
    // the ES key top-k must plan as per-partition bounded heaps; a full
    // global Sort before the limit means the scale shape regressed
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bucketed join reads co-located buckets with no Exchange on either side") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("SelectedBucketsCount"), p)
    // the only shuffle in the whole plan is the final per-priority
    // aggregation; both join inputs come straight from bucketed scans
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
  }

  test("JL-prefilter ANN keeps per-query rank windows partitioned and reranks top-k") {
    // the sketch-prefilter crossJoin is the documented design; what
    // must not regress is (a) every rank window stays partitioned by
    // q_id (never a global funnel) and (b) the broadcast prefilter
    // stays a broadcast, not a shuffled cartesian
    val p = plan("q_rp_ann")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("triangle counting joins on keys — no cartesian wedge blowup") {
    // q_triangle_count's stats frame stays lazy end-to-end, so its
    // final plan witnesses the wedge/closure joins directly
    val p = plan("q_triangle_count")
    assert(!p.contains("CartesianProduct"), s"q_triangle_count:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"q_triangle_count:\n$p")

    // q_triangle_sampled eagerly collapses each DOULION wave to a
    // pinned 1-row stats frame (the sf100 phase barrier), so its FINAL
    // plan is just the crossJoin of two checkpointed rows — assert that
    // collapsed shape, then assert the wedge-join property on the same
    // lazy stats pipeline each wave executes
    val ps = plan("q_triangle_sampled")
    assert(!ps.contains("CartesianProduct"), s"q_triangle_sampled:\n$ps")
    assert(ps.contains("Scan ExistingRDD"), s"q_triangle_sampled:\n$ps")
    val wave = graft.operators.Triangles.stats(
      graft.operators.Triangles.sampleEdges(
        graft.operators.Triangles.rawBasketPairs(
          Tables.load(spark, dir, "lineitem"), "l_orderkey", "l_partkey"),
        10, 5, "tri:").distinct(),
      pin = false).queryExecution.executedPlan.toString
    assert(!wave.contains("CartesianProduct"), s"wave:\n$wave")
    assert(wave.contains("SortMergeJoin") || wave.contains("ShuffledHashJoin") ||
      wave.contains("BroadcastHashJoin"), s"wave:\n$wave")
  }

  test("time-decay attribution windows stay partitioned by purchase key") {
    val sp = SparkEntry.queries("q_attribution_decay")(spark, dir)
      .queryExecution.sparkPlan
    val global = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "q_attribution_decay grew an unpartitioned window")
  }

  test("leak-free split is one projection + hash aggregation — no window, no sort-all") {
    val p = plan("q_split_leakfree")
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).nonEmpty, p)
  }

  test("RRF fusion broadcasts the query side into both rankers — no cartesian") {
    val p = plan("q_rrf_fusion")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("temperature mix broadcasts the language-cardinality weights frame") {
    val p = plan("q_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("unpartitioned windows appear only in bounded-domain queries") {
    // A WindowExec with an empty partitionSpec funnels its entire input
    // through ONE task — acceptable only when the input is provably
    // bounded (a distinct-value domain, a month frame, a top-k-limited
    // frame), never on corpus/fact-table grain. This pins the allowed
    // set; a new query that reintroduces a global window fails here
    // with its name rather than silently shipping a scale cliff.
    val whitelist = Map(
      // ROC sweep over DISTINCT quality scores (rounded to 1e-4 — the
      // domain is bounded by the score grid, not the corpus)
      "q_auc" -> "distinct rounded scores",
      // month-grain frame: one row per calendar month
      "q_mom_growth" -> "calendar months",
      // Misra-Gries candidate set: ≤ capacity rows by construction
      "q_heavy_hitters" -> "sketch capacity candidates",
      // rank over the top-1000 frame AFTER TakeOrderedAndProject
      "q_zipf" -> "top-1000 limited frame",
      // global window over the per-SOURCE aggregate (source cardinality),
      // chosen precisely to avoid a second corpus scan for the total
      "q_mix_weights" -> "per-source aggregate frame",
      // cross-bucket running min over the 64-row bucket frame
      "q_skyline" -> "fixed 64-bucket frame",
      // rank over the k=100 frame AFTER TakeOrderedAndProject
      "q_weighted_sample" -> "top-100 limited frame",
      // prefix sum over the fixed 64-row bucket-count frame — the whole
      // point of the two-phase rewrite is that only this bounded frame
      // ever crosses a single task
      "q_global_index" -> "fixed 64-bucket offset frame",
      // same two-phase index shape feeding the shard manifest
      "q_shard_manifest" -> "fixed 64-bucket offset frame")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val sp = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
      val global = sp.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
      }
      if (global.nonEmpty && !whitelist.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec outside the bounded-domain whitelist: $offenders")
    // and the two de-windowed rewrites stay window-free at the top level
    assert(!plan("q_histogram_depth").contains("Window"), "q_histogram_depth regressed")
    assert(plan("q_zipf").contains("TakeOrderedAndProject"), "q_zipf lost its top-k plan")
  }

  test("iterative queries: per-round plans hold their scale invariants") {
    // The gate frames of the driver-coordinated family are collected
    // traces (LocalTableScan) — the per-round frames in RoundPlans are
    // what actually executes each iteration, so the invariants guard
    // THOSE. Build each round frame once and assert on its plan text.
    def roundPlan(q: String, label: String): String = {
      val frame = RoundPlans.plans(q)(spark, dir)
        .collectFirst { case (l, f) if l == label => f }.get
      frame.queryExecution.executedPlan.toString
    }

    // k-core peel: one hash aggregation for degrees + two semi-joins;
    // never a cartesian, never an unpartitioned window
    val peel = roundPlan("q_kcore", "peel")
    assert("LeftSemi".r.findAllIn(peel).length === 2, peel)
    assert(!peel.contains("CartesianProduct") && !peel.contains("Window"), peel)

    // PageRank sweep: the rank frame broadcasts into the edge scan
    // (edges are never re-shuffled per sweep), contributions hash-agg
    val sweepP = roundPlan("q_pagerank", "sweep")
    assert(sweepP.contains("BroadcastHashJoin"), sweepP)
    assert(sweepP.contains("HashAggregate"), sweepP)
    assert(!sweepP.contains("CartesianProduct"), sweepP)

    // logreg gradient: ONE scan with map-side partial aggregation —
    // exactly one exchange (the 1-row final agg), no joins at all
    val grad = roundPlan("q_logreg_quality", "gradient")
    assert("Exchange".r.findAllIn(grad).length === 1, grad)
    assert(!grad.contains("Join"), grad)

    // BPE pair counting: bounded hash-agg + 1-row TakeOrdered — the
    // shuffle is pair-vocabulary-sized, and the pick is top-1, never a
    // global sort
    val pairCount = roundPlan("q_bpe_merges", "pair_count")
    assert(pairCount.contains("TakeOrderedAndProject"), pairCount)
    assert(pairCount.contains("HashAggregate"), pairCount)
    // BPE merge application: per-word windows only — every WindowExec
    // is partitioned (no global funnel)
    val merge = RoundPlans.plans("q_bpe_merges")(spark, dir)
      .collectFirst { case ("apply_merge", f) => f }.get
      .queryExecution.sparkPlan
    val unpartitioned = merge.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, "BPE merge has an unpartitioned window")

    // LSH label propagation: key-partitioned aggregations + equi-joins,
    // no cartesian, no unpartitioned window
    val prop = roundPlan("q_lsh_clusters", "propagate")
    assert(!prop.contains("CartesianProduct") && !prop.contains("Window"), prop)
    assert("HashAggregate".r.findAllIn(prop).nonEmpty, prop)
  }

  test("Star.pruneFacts: both transitive prunes sit below the first fact exchange") {
    // the property that made q_join_star scale (sf100 152.5 → 41.6 s):
    // the broadcast LEFT SEMI prune on the restricted dimension's key
    // set runs inside the supplier/customer SCAN stage, so every
    // downstream shuffle moves only surviving rows. Asserted on the
    // static plan (the property is positional, not a runtime re-plan):
    // on each pruned scan's root→leaf path, a LeftSemi broadcast join
    // must be DEEPER than every shuffle exchange.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val conf = spark.conf
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = SparkEntry.queries("q_join_star")(spark, dir).queryExecution.executedPlan
      def pathsToScan(p: SparkPlan, marker: String): Seq[List[SparkPlan]] =
        if (p.children.isEmpty) {
          if (p.toString.contains(marker)) Seq(List(p)) else Seq.empty
        } else p.children.flatMap(c => pathsToScan(c, marker).map(p :: _))
      for (scan <- Seq("supplier.parquet", "customer.parquet")) {
        val paths = pathsToScan(root, scan)
        assert(paths.nonEmpty, s"no $scan scan found in:\n$root")
        // exactly one scan of each pruned table — the prune must not
        // have duplicated the read
        assert(paths.length === 1, s"$scan scanned ${paths.length} times")
        val path = paths.head // head = root, last = leaf scan
        val semiIdx = path.lastIndexWhere {
          case b: BroadcastHashJoinExec => b.joinType == LeftSemi
          case _ => false
        }
        assert(semiIdx >= 0, s"no LeftSemi broadcast prune on the $scan path:\n$root")
        val shallowestExchangeBelowSemi = path.zipWithIndex.collect {
          case (_: ShuffleExchangeLike, i) if i > semiIdx => i
        }
        assert(shallowestExchangeBelowSemi.isEmpty,
          s"$scan: a shuffle exchange sits between the scan and its semi prune:\n$root")
      }
    } finally prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
      conf.set("spark.sql.adaptive.enabled", _))
  }

  test("q_rrf_fusion evaluates the shingle array once per corpus row") {
    // the round-13 regression: `size(shs)` + `explode(shs)` in one
    // select let CollapseProject duplicate the shingling expression —
    // 2× the scan cost. `explodeWithSize`'s lambda let-binding keeps it
    // single-homed, so the optimized plan carries exactly one
    // array_distinct per docSh consumer (query side + corpus side).
    val p = SparkEntry.queries("q_rrf_fusion")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val n = "array_distinct".r.findAllIn(p).length
    assert(n == 2, s"expected 2 shingle evaluations (one per scan branch), got $n:\n$p")
  }

  test("SemVer parse/compare (F9)") {
    assert(SemVer.parse("1.0.4") === SemVer(1, 0, 4))
    assert(SemVer.parse("2.0.0") > SemVer.parse("1.9.9"))
    // two-part form gets patch 0, like the reference generator
    // (nshm_db_generator.py:41-46)
    assert(SemVer.parse("1.0") === SemVer(1, 0, 0))
    intercept[IllegalArgumentException](SemVer.parse("1"))
    intercept[IllegalArgumentException](SemVer.parse("1.0.4.2"))
    intercept[IllegalArgumentException](SemVer.parse("a.b.c"))
  }
}
