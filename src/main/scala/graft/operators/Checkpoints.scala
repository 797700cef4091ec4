package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one materialization point of the engine: every multiply-consumed
  * frame and every driver-coordinated loop round ([[KCore]],
  * [[PageRank]], label propagation, logistic regression, BPE) is pinned
  * through [[pin]], which also truncates the frame's lineage. Nothing
  * else in `src/main` calls `localCheckpoint`, `checkpoint`, `cache` or
  * `persist` on a DataFrame (CheckpointsSpec scans for it).
  */
object Checkpoints {

  /** Pin `df` with lineage truncation.
    *
    * Storage. When a reliable checkpoint directory is available (set via
    * `SparkContext.setCheckpointDir` or the `spark.checkpoint.dir` conf)
    * the pin is a RELIABLE eager checkpoint: the frame lands in
    * fault-tolerant storage and an iteration survives executor loss,
    * which with executor-local blocks would abort it halfway through.
    * Local mode / tests / the bench harness set no dir and take the
    * (faster, single-JVM-safe) executor-local path, always with
    * MEMORY_AND_DISK_SER. The default `localCheckpoint(true)` stores
    * MEMORY_AND_DISK **deserialized**: a block read back from disk is
    * re-materialized by `BlockManager.maybeCacheDiskValuesInMemory` as
    * boxed object rows — a ~10× on-heap inflation that OOM'd the
    * ×1000-SF 600M-row edge frame even at a 90 g heap (SCALING.md §8).
    * Serialized blocks stay compact bytes in both tiers and consumers
    * stream-deserialize per read; on tiny frames (sketch summaries,
    * split boundaries) the extra decode is noise. Local-checkpoint
    * blocks never enter the session's `CacheManager` (the
    * `ContextCleaner` frees them with the frame), so a pin cannot
    * silently change the plans of later, unrelated queries the way a
    * forgotten `cache()` does.
    *
    * `eager = false` (local path only; the reliable path stays eager,
    * since durability of the round frame is the point there) returns a
    * frame whose plan is already a truncated LogicalRDD but whose blocks
    * are computed and pinned by the caller's own first action, so a
    * loop round's one driver action both materializes the frame and
    * returns its trace value — e.g. `val d = pin(x, eager = false);
    * val n = d.count()` is one job where an eager pin plus a count is
    * two. The r18/r19 attribution probe showed the sf0.1 wall time of
    * these loops is dominated by their sequential job barriers. A
    * `persist`-based fusion would keep the logical plan, which in peel
    * loops references the previous round ~3× and grows exponentially
    * (it OOM'd the driver during analysis at sf0.01).
    *
    * CONTRACT for `eager = false`: the caller's FIRST action on the
    * returned frame must
    * (a) scan EVERY partition (count / full aggregate / a join or
    * broadcast build consuming the whole side — a `head`/`take` first
    * action makes RDD.doCheckpoint launch an EXTRA backfill job for
    * the untouched partitions inside that same action, restoring the
    * two-barrier shape the fusion removes; CheckpointsSpec pins this
    * degradation), and
    * (b) reference the frame exactly ONCE (a first job with two
    * references computes the un-pinned subtree per reference — the
    * d25ef64 lesson: three of the five initial r19 conversions violated
    * this and recomputed corpus-wide subtrees inside their first job).
    *
    * Call-site audit of `eager = false` (keep current when adding
    * callers):
    *  - KCore.peelRounds / PageRank / LogisticRegression — first action
    *    is the fused count().
    *  - TrainOps BPE loop — first actions are the top-pair collect
    *    (full pair-window scan) / the symbol-mass aggregate.
    *  - Dedup.propagateLabels round — first action is the
    *    changed-count join (consumes the whole round frame once).
    *  - Dedup.probeLshIndex `cand` — first action is newSh's eager
    *    pin, whose semi-join build scans cand fully, once.
    *  - PipelineQ q_ppl_bucket `lp` — first action is the tercile
    *    aggregate (full scan; the bucket rollup waits on th's
    *    broadcast).
    *  - SimilarityQ q_random_projection pre-sort frame — first action
    *    is the range-partitioner's reservoir sample (every partition,
    *    one reference).
    *  - PipelineQ q_jaro_fuzzy scored-pair frame — same pre-sort
    *    sampling shape as q_random_projection.
    *  - NshmDb.appendWithDenseId sorted insert rows — first action is
    *    the per-partition size collect (every partition, one
    *    reference), or with a single partition the write.
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.getConf.getOption("spark.checkpoint.dir").foreach(sc.setCheckpointDir)
    if (sc.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
  }
}
