package graft.queries

import graft.{Q, QueryPack}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Driver-gated Structured Streaming evidence: a gate query that runs a
  * REAL streaming job (readStream source → watermarked windowed
  * aggregation → sink) inside the verify contract, not just a spec.
  *
  * `Trigger.AvailableNow` drains everything already in the source in
  * rate-limited micro-batches and stops — the replay mode that makes a
  * stream's output comparable against a static oracle: the exact same
  * plan deployed with a continuous trigger is the production stream.
  */
object StreamQ extends QueryPack {

  /** All stream-drain staging — source dirs, parquet-sink output,
    * checkpoints — and [[Dedup]]'s on-disk LSH indexes live under ONE
    * per-JVM root, deleted recursively when the JVM exits: at sf100 a
    * single drain's parquet output plus RocksDB checkpoint is tens of
    * GB, and the default temp dir may be tmpfs (RAM). `GRAFT_STAGE_DIR`
    * overrides the root's parent so a scale run can point staging at
    * real disk. Queries whose RESULT is
    * a bounded aggregate over the drained output additionally delete
    * their heavyweight dirs EAGERLY (the readback collapses to a
    * handful of rows first — see [[boundedReadback]]); row-grain
    * results must stay readable for the caller's lifetime, so their
    * dirs wait for the exit hook.
    */
  private[queries] object Staging {
    private lazy val root: java.nio.file.Path = {
      val parent = sys.env.get("GRAFT_STAGE_DIR")
        .map(java.nio.file.Paths.get(_))
        .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      java.nio.file.Files.createDirectories(parent)
      val r = java.nio.file.Files.createTempDirectory(parent, "graft_stream_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
      r
    }
    def dir(name: String): java.nio.file.Path =
      java.nio.file.Files.createTempDirectory(root, name)
    def delete(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
        finally walk.close()
      }
  }

  /** Materialize a BOUNDED aggregate over a drain's parquet output
    * (a handful of rows by construction), then eagerly delete the
    * staging dirs it read from — the readback result no longer
    * references them. This is what lets the aggregate-result stream
    * gates run back-to-back at sf100 without accumulating hundreds of
    * GB of already-consumed drain output.
    */
  private def boundedReadback(
      agg: org.apache.spark.sql.DataFrame,
      dirs: Seq[java.nio.file.Path]): org.apache.spark.sql.DataFrame = {
    val rows = agg.collect() // bounded by construction (scalar/few-group agg)
    dirs.foreach(Staging.delete)
    agg.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  /** Scale-adaptive shuffle/state partition count for a stateful drain,
    * derived from the SOURCE's size (bytes on the filesystem — free,
    * deterministic, same on every drain of a checkpoint): one state
    * partition per ~32 MB of source, clamped to [8, session default].
    *
    * Why: a stateful micro-batch commits EVERY state-store partition on
    * every batch (delta files + snapshot/maintenance I/O), so state
    * partitioning should follow STATE volume, not the session's
    * scan-parallelism default — the q_stream_join lesson (8.4 s → 2.8 s
    * at sf0.1 when its four per-partition stores stopped committing
    * 32-way). At sf0.1 (2 MB of events) this floors at 8; at the ×1000
    * SF the clamp returns the session default, i.e. exactly today's
    * behavior — the savings come precisely where the per-commit
    * overhead dominates the data. Map-side work is unaffected (scan
    * parallelism is file-split-driven; watermarked aggs partial-agg
    * before the exchange). A checkpoint pins its partition count at
    * first start, so deriving from the SAME source file keeps
    * restart-from-checkpoint drains (sessions/sessionize/restart)
    * consistent by construction.
    */
  private def statePartitions(s: org.apache.spark.sql.SparkSession, dir: String): Int = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    val floor = math.min(8, cap)
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: Throwable => Long.MaxValue } // unknown: keep default
    val derived = math.min(cap.toLong, bytes / (32L << 20) + 1)
    math.max(floor.toLong, derived).toInt
  }

  /** Run `body` (a drain: plan + start + awaitTermination) under the
    * [[statePartitions]]-derived shuffle-partition count and the pack's
    * checkpoint-commit I/O policy (see inline note), restoring the
    * session defaults after — the streaming plan captures the conf at
    * query start. Restores on every exit path.
    *
    * SINGLE-QUERY-AT-A-TIME contract: this mutates the session-global
    * `spark.sql.shuffle.partitions` for the duration of the drain, so a
    * batch query planned CONCURRENTLY in the same session would inherit
    * the reduced count. Every entry point here (Bench / Verify /
    * SparkEntry) runs queries sequentially, which is what makes the
    * set/restore safe; a concurrent deployment must scope the conf via
    * a cloned session (`spark.newSession()` shares state stores but not
    * conf) instead.
    */
  private def withStatePartitions[A](
      s: org.apache.spark.sql.SparkSession, dir: String)(body: => A): A = {
    val ckKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevCk = s.conf.getOption(ckKey)
    s.conf.set("spark.sql.shuffle.partitions", statePartitions(s, dir).toString)
    // Spark 4.1 writes a `<file>.crc` CHECKSUM SIDECAR next to every
    // checkpoint file it commits — on top of the client-side CRC the
    // Hadoop ChecksumFileSystem (local/HDFS checkpoint dirs) already
    // writes for the same bytes — so every state-store delta commit
    // costs 4 file creations instead of 2. State commits, not row
    // compute, dominate stateful-drain time at every state size (the
    // r12/r19 partition-sizing measurements), so the redundant layer is
    // dropped for the drains here (same-window A/B: the two-drain
    // session/restart gates −9/−10%, singles −4/−5%, stateless drains
    // unchanged). `spark.graft.stream.ckptChecksum=true` restores
    // Spark's default for deployments whose checkpoint filesystem has
    // NO integrity layer of its own (e.g. raw object stores) — that is
    // a durability decision, never a result change.
    if (!s.conf.getOption("spark.graft.stream.ckptChecksum").contains("true"))
      s.conf.set(ckKey, "false")
    // Examined and rejected (r20): deferring the JVM-global state-store
    // maintenance tick (`maintenanceInterval=600s`) past these one-shot
    // drains. Hypothesis: the 60 s tick snapshot-compacts every provider
    // the finished drains leave loaded, charging that I/O to whatever
    // query is executing when it fires. Measured (interleaved subset A/B
    // with controls, sf0.1 AND a 10× events replica): wash at both sizes
    // — the drains' state is committed in ≤ a handful of versions (below
    // the minDeltasForSnapshot=10 snapshot line), so the tick has nothing
    // material to do. Not worth the session-global scheduling side effect
    // (the FIRST store load pins the interval for the JVM's lifetime).
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      prevCk match {
        case Some(v) => s.conf.set(ckKey, v)
        case None    => s.conf.unset(ckKey)
      }
    }
  }

  /** Footer-derived raw schema of the events source (streaming sources
    * need the schema up front; probing it through the batch reader keeps
    * the stream contract identical to [[graft.Tables]]' batch loader
    * whatever encoding the producer wrote — legacy INT64-nanos-as-long
    * or TIMESTAMP(MICROS) — instead of baking one physical layout into
    * the engine).
    */
  private def rawEventSchema(s: org.apache.spark.sql.SparkSession, dir: String): StructType =
    graft.Tables.loadRaw(s, dir, "events").schema

  /** `readStream` over the staged directory with `ts` normalized to
    * session-zoned TimestampType via [[graft.Tables.normalizeEventTs]]
    * (same branch-on-declared-dtype as the batch loader).
    */
  private def eventStream(
      s: org.apache.spark.sql.SparkSession,
      stage: java.nio.file.Path,
      dir: String): org.apache.spark.sql.DataFrame = {
    val schema = rawEventSchema(s, dir)
    s.readStream.schema(schema).parquet(stage.toString)
      .withColumn("ts", graft.Tables.normalizeEventTs(schema("ts").dataType))
  }

  /** Stage a single far-future SENTINEL event (max real ts + 10 days) as
    * a second source file. EVERY column — not just `ts` — is written in
    * the dtype the source file's own footer declares (legacy long-nanos
    * arithmetic vs a native timestamp + INTERVAL for `ts`; a cast to the
    * probed dtype for the rest), so a producer refresh that e.g. narrows
    * `event_id` to INT32 cannot make the sentinel's footer diverge from
    * the footer-probed stream schema mid-run.
    *
    * Ordering — the sentinel must never land in a batch BEFORE the real
    * events (its watermark would mark them all late) — is by FILE
    * EXISTENCE, not mtime: callers drain the real events first, call
    * this, then drain again from the same checkpoint, so the only file
    * the second drain can see as new is the sentinel. (mtime ordering
    * worked locally but object stores don't honor it.)
    */
  private def stageSentinel(
      s: org.apache.spark.sql.SparkSession, dir: String, stage: java.nio.file.Path): Unit = {
    val raw = graft.Tables.loadRaw(s, dir, "events")
    val bumped = raw.schema("ts").dataType match {
      case LongType => max(col("ts")) + lit(10L * 86400L * 1000000000L)
      case _        => max(col("ts")) + expr("INTERVAL 10 DAYS")
    }
    def typed(c: org.apache.spark.sql.Column, name: String) =
      c.cast(raw.schema(name).dataType).as(name)
    val sentinelOut = Staging.dir("sentinel").resolve("p")
    raw.agg(bumped.as("ts"))
      .select(
        typed(lit(-1L), "event_id"), typed(col("ts"), "ts"), typed(lit(-1L), "user_id"),
        typed(lit("sentinel"), "event_type"), typed(lit(0.0), "value"), typed(lit("{}"), "props"))
      .coalesce(1).write.parquet(sentinelOut.toString)
    val part = java.nio.file.Files.list(sentinelOut).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, stage.resolve("zz_sentinel.parquet"))
  }

  /** Hourly tumbling-window counts/sums per event type through
    * [[EventStreams.tumblingAgg]] (the same transform StreamingSpec
    * drives incrementally), collected via a complete-mode memory sink.
    * The oracle is the static GROUP BY the stream must converge to —
    * window(ts, '1 hour').start ≡ date_trunc('hour', ts).
    */
  val qStreamWindow: Q = Q(
    "q_stream_window",
    Some("""SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value) * 100) / 100 AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => {
      // the file-stream source ingests DIRECTORIES (files appear, get
      // processed, watermarked out — the production drop-zone shape);
      // stage the single test parquet behind a symlink
      val stage = Staging.dir("stream_events")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val ev = eventStream(s, stage, dir)
      val agg = EventStreams.tumblingAgg(ev, windowLen = "1 hour")
      val sink = s"stream_window_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      withStatePartitions(s, dir) {
        agg.writeStream
          .format("memory")
          .queryName(sink)
          .outputMode(OutputMode.Complete())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      s.table(sink)
        .select(
          col("bucket"), col("event_type"), col("n").cast("long").as("n"),
          (round(col("sum_value") * 100) / 100).as("sum_value"))
        .orderBy(col("bucket"), col("event_type"))
    })

  /** Event-time sessionization as a STREAM: `session_window` gap
    * aggregation through [[EventStreams.sessionWindowAgg]] in APPEND
    * mode — the mode sessions actually ship in production (a session
    * row is emitted exactly once, when the watermark passes its end).
    *
    * Append mode only emits sessions the watermark has passed, and a
    * drained AvailableNow run's final watermark is the max event time —
    * which would withhold every still-open trailing session. A single
    * far-future SENTINEL event — staged only AFTER a first drain has
    * consumed the real events, then drained from the same checkpoint
    * (the restart pattern; ordering by file existence, robust on object
    * stores where mtime ordering is not) — advances the final watermark
    * past every real session; the sentinel's own session is filtered
    * out of the gate frame. The oracle is the
    * batch gaps-and-islands rewrite: new session when the same-user
    * gap ≥ 30 minutes (session_window's interval end is exclusive),
    * session end = last event + gap.
    */
  val qStreamSessions: Q = Q(
    "q_stream_sessions",
    Some("""WITH g AS (
              SELECT user_id, ts, value, event_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events),
            s AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM g)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value) * 100) / 100 AS total_value
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start"""),
    (s, dir) => {
      val stage = Staging.dir("stream_sessions")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val out = Staging.dir("stream_sessions_out").toString
      val ckpt = Staging.dir("stream_sessions_ckpt").toString
      def drain(): Unit = withStatePartitions(s, dir) {
        val ev = eventStream(s, stage, dir)
        EventStreams.sessionWindowAgg(ev, gap = "30 minutes", watermark = "0 seconds")
          .writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      drain()                     // life 1: real events only
      stageSentinel(s, dir, stage) // now the sentinel exists…
      drain()                     // life 2, same checkpoint: flushes trailing sessions
      s.read.parquet(out)
        .filter(col("user_id") >= 0)
        .select(
          col("user_id"),
          col("start").as("session_start"),
          col("end").as("session_end"),
          col("n_events").cast("long").as("n_events"),
          (round(col("total_value") * 100) / 100).as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    })

  /** Bounded-state streaming dedup under the gate: the source directory
    * holds TWO copies of the events file (an at-least-once delivery
    * simulation — exactly what a kafka/file replay produces), and
    * `dropDuplicatesWithinWatermark(event_id)` must collapse them back
    * to exactly-once. Unlike a plain dropDuplicates, state is evicted
    * once the watermark passes an id's event time, so the state store
    * is bounded by the delivery-delay horizon instead of growing with
    * the corpus — the only dedup that survives an unbounded stream.
    * The oracle is the single-copy aggregate over the static table.
    */
  val qStreamDedup: Q = Q(
    "q_stream_dedup",
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   round(sum(value) * 100) / 100 AS total_value
            FROM events"""),
    (s, dir) => {
      val stage = Staging.dir("stream_dedup")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), stage.resolve("events_replay.parquet"))
      val ev = eventStream(s, stage, dir)
      val deduped = EventStreams.dedupEvents(ev, watermark = "1 hour")
      // ROW-GRAIN stream output goes through the transactional parquet
      // file sink (distributed write, exactly-once via the sink's
      // metadata log), never the memory sink: memory collects every
      // deduped row to the driver, which at sf100 (200M delivered rows)
      // dies on maxResultSize — found by the round-12 sf100 run. The
      // bounded COMPLETE-mode aggregates elsewhere in this pack keep
      // the memory sink; their state is window-key-sized, not row-sized.
      val out = Staging.dir("stream_dedup_out").toString
      val ckpt = Staging.dir("stream_dedup_ckpt").toString
      withStatePartitions(s, dir) {
        deduped.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      boundedReadback(
        s.read.parquet(out).agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          (round(sum(col("value")) * 100) / 100).as("total_value")),
        Seq(stage, java.nio.file.Paths.get(out), java.nio.file.Paths.get(ckpt)))
    })

  /** Stream-static enrichment join under the gate: the event stream is
    * joined to the STATIC customer dimension (market segment) before a
    * tumbling hourly aggregation — the canonical "enrich the firehose
    * with a dimension table" production shape. The static side is
    * re-read per micro-batch and broadcast ([[EventStreams.enrich]]),
    * so the join adds no streaming state at all; only the windowed
    * aggregation holds state. The oracle is the equivalent static
    * join + GROUP BY the drained stream must converge to.
    */
  val qStreamEnrich: Q = Q(
    "q_stream_enrich",
    Some("""SELECT date_trunc('hour', ts) AS bucket, c.c_mktsegment AS segment,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value) * 100) / 100 AS sum_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => {
      val stage = Staging.dir("stream_enrich")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val ev = eventStream(s, stage, dir)
      val dim = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val agg = EventStreams.enrich(ev, dim)
        .filter(col("segment").isNotNull)
        .groupBy(window(col("ts"), "1 hour"), col("segment"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start").as("bucket"), col("segment"), col("n"), col("sum_value"))
      val sink = s"stream_enrich_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      withStatePartitions(s, dir) {
        agg.writeStream
          .format("memory")
          .queryName(sink)
          .outputMode(OutputMode.Complete())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      s.table(sink)
        .select(
          col("bucket"), col("segment"), col("n").cast("long").as("n"),
          (round(col("sum_value") * 100) / 100).as("sum_value"))
        .orderBy(col("bucket"), col("segment"))
    })

  /** STREAM-STREAM interval join under the gate
    * ([[EventStreams.clickToPurchase]]): clicks matched to same-user
    * purchases within 10 minutes after the click, both sides
    * watermarked so the join state is bounded by the delay horizon —
    * the production attribution-join shape. Inner interval joins emit
    * matches as they arrive (the watermark only evicts state), so an
    * AvailableNow drain yields exactly the batch interval join — which
    * is the oracle: a batch self-join over the static events table
    * with the identical interval predicate.
    */
  val qStreamJoin: Q = Q(
    "q_stream_join",
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                   c.ts AS click_ts, p.ts AS purchase_ts,
                   round(p.value * 100) / 100 AS value
            FROM events c JOIN events p ON c.user_id = p.user_id
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 600 SECOND
            ORDER BY c.user_id, click_id, purchase_id"""),
    (s, dir) => {
      val stage = Staging.dir("stream_join")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val ev = eventStream(s, stage, dir)
      val joined = EventStreams.clickToPurchase(ev, windowSeconds = 600, watermark = "10 minutes")
      // A stream-stream join keeps FOUR state stores per partition, each
      // committed every micro-batch — so state partitioning follows
      // STATE volume, not scan parallelism: at sf0.1 the shared
      // [[statePartitions]] derivation lands on the same 8 this drain
      // measured by hand in r12 (8.4 s -> 2.8 s vs 32 state stores),
      // and at board SFs the horizon's event volume grows with the
      // source, which is exactly the byte count the helper scales on.
      // One mechanism for every stateful drain in the pack (r20 —
      // previously this site hand-rolled the same set/restore inline).
      // Matched pairs are ROW-GRAIN (they grow with event volume), so
      // the drain goes through the distributed parquet file sink like
      // every other row-grain stream in this pack.
      val out = Staging.dir("stream_join_out").toString
      val ckpt = Staging.dir("stream_join_ckpt").toString
      withStatePartitions(s, dir) {
        val q = joined.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
        .select(
          col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"),
          (round(col("value") * 100) / 100).as("value"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    })

  /** SLIDING-window moving aggregate under the gate
    * ([[EventStreams.slidingAgg]]): overlapping 10-minute windows every
    * 5 minutes — each event lands in len/slide = 2 windows. The oracle
    * replays the window assignment arithmetic: window starts are the
    * epoch-aligned 5-minute grid points, each event joined to k = 0, 1
    * grid offsets (Spark's `window(ts, len, slide)` origin is the
    * epoch, `make_timestamp` keeps the oracle in plain TIMESTAMP).
    */
  val qStreamSliding: Q = Q(
    "q_stream_sliding",
    Some("""SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300000000 AS BIGINT)
                                  - k * 300000000) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(value) * 100) / 100 AS avg_value
            FROM events, generate_series(0, 1) AS t(k)
            GROUP BY bucket ORDER BY bucket"""),
    (s, dir) => {
      val stage = Staging.dir("stream_sliding")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val ev = eventStream(s, stage, dir)
      val agg = EventStreams.slidingAgg(ev, windowLen = "10 minutes", slide = "5 minutes")
      val sink = s"stream_sliding_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      withStatePartitions(s, dir) {
        agg.writeStream
          .format("memory")
          .queryName(sink)
          .outputMode(OutputMode.Complete())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      s.table(sink)
        .select(
          col("bucket"), col("n").cast("long").as("n"),
          (round(col("avg_value") * 100) / 100).as("avg_value"))
        .orderBy(col("bucket"))
    })

  /** CUSTOM-STATE sessionization under the gate:
    * [[EventStreams.sessionize]] drives `flatMapGroupsWithState` with
    * an event-time timeout — the arbitrary-state API, not the
    * declarative `session_window` q_stream_sessions gates. Its state
    * machine is still deterministic on a drained replay (per-user
    * fold in event-time order; timeouts fire when the sentinel pushes
    * the final watermark), so the batch gaps-and-islands rewrite
    * oracles it too — with two boundary differences vs session_window:
    * the gap comparison is INCLUSIVE (an event exactly gap seconds
    * after the last one continues the session) and the emitted session
    * end is the LAST EVENT's time, not last + gap.
    */
  val qStreamSessionize: Q = Q(
    "q_stream_sessionize",
    Some("""WITH g AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 1800 SECOND
                          THEN 1 ELSE 0 END AS new_s,
                     event_id
              FROM events),
            s AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM g)
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   round(sum(value) * 100) / 100 AS total_value
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start"""),
    (s, dir) => {
      import s.implicits._
      val stage = Staging.dir("stream_sessionize")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val out = Staging.dir("stream_sessionize_out").toString
      val ckpt = Staging.dir("stream_sessionize_ckpt").toString
      def drain(): Unit = withStatePartitions(s, dir) {
        val ev = eventStream(s, stage, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[EventStreams.Event]
        EventStreams.sessionize(ev, gapSeconds = 1800, watermark = "0 seconds")
          .toDF.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      drain()                      // life 1: real events; open sessions stay in state
      stageSentinel(s, dir, stage) // sentinel appears only after life 1 finished
      drain()                      // life 2, same checkpoint + state: event-time timeouts flush the rest
      s.read.parquet(out)
        .filter(col("user_id") >= 0)
        .select(
          col("user_id"),
          col("n_events").cast("long").as("n_events"),
          col("start").as("session_start"),
          col("end").as("session_end"),
          (round(col("total_value") * 100) / 100).as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    })

  /** `transformWithState` (the Spark 4 arbitrary-state API) under the
    * gate: [[EventStreams.thresholdAlerts]] keeps per-user running
    * totals in `ValueState` (RocksDB provider) and emits an alert each
    * time the total crosses another multiple of 100. The per-user fold
    * runs in (ts, event_id) order, so the oracle replays it exactly:
    * prefix sums over the same ordered value list (left-fold
    * association on both sides — the crossing check compares RAW
    * doubles, which only works because both engines build the same
    * sums in the same order). TimeMode.None: no watermark, no
    * sentinel.
    */
  val qStreamAlerts: Q = Q(
    "q_stream_alerts",
    Some("""WITH u AS (
              SELECT user_id, list(value ORDER BY ts, event_id) AS vs
              FROM events GROUP BY user_id),
            c AS (SELECT user_id, unnest(range(1, len(vs) + 1)) AS i, vs FROM u),
            r AS (SELECT user_id, i,
                         list_sum(vs[1:i]) AS cum,
                         CASE WHEN i = 1 THEN 0.0 ELSE list_sum(vs[1:i-1]) END AS prev
                  FROM c)
            SELECT user_id, CAST(i AS BIGINT) AS n_events,
                   round(cum * 100) / 100 AS total_value
            FROM r WHERE floor(cum / 100.0) > floor(prev / 100.0)
            ORDER BY user_id, n_events"""),
    (s, dir) => {
      import s.implicits._
      val stage = Staging.dir("stream_alerts")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val ev = eventStream(s, stage, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Event]
      // alert rows are row-grain (one per threshold crossing — they
      // scale with total event value, ~tens of millions at sf100), so
      // the drain goes through the distributed parquet file sink; the
      // memory sink collected them all to the driver and died on
      // maxResultSize in the round-12 sf100 run
      val out = Staging.dir("stream_alerts_out").toString
      val ckpt = Staging.dir("stream_alerts_ckpt").toString
      s.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Examined and rejected (r20): RocksDB changelog checkpointing
      // (`...rocksdb.changelogCheckpointing.enabled=true` — commit
      // uploads per-batch changes instead of a full snapshot zip).
      // A result-identical checkpoint-layout choice, but the isolated
      // interleaved A/B (3 reps/side, controls embedded, 10× events
      // replica) read a wash: before 2.11–2.39 s, after 2.23–2.48 s —
      // this drain commits ONE batch of small per-user state per
      // partition, so there is no snapshot-per-commit tail to amortize.
      // Worth re-testing on a long-lived multi-batch deployment, not
      // here.
      try withStatePartitions(s, dir) {
        EventStreams.thresholdAlerts(ev, threshold = 100.0)
          .toDF.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      s.read.parquet(out)
        .select(
          col("user_id"), col("n_events").cast("long").as("n_events"),
          (round(col("total_value") * 100) / 100).as("total_value"))
        .orderBy(col("user_id"), col("n_events"))
    })

  /** Exactly-once across a RESTART: drain once, then simulate an
    * at-least-once redelivery (a byte-identical replay file appears
    * AFTER the query stopped) and drain again from the SAME
    * checkpoint. The second run recovers watermark + dedup state from
    * the checkpoint and must emit nothing new; the parquet FILE SINK's
    * transactional metadata log is what makes the output dir readable
    * as an exactly-once table either way. The oracle is the
    * single-copy static aggregate — the number a consumer of the sink
    * directory must see no matter how many times delivery retried or
    * the query restarted.
    */
  val qStreamRestart: Q = Q(
    "q_stream_restart",
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   round(sum(value) * 100) / 100 AS total_value
            FROM events"""),
    (s, dir) => {
      val stage = Staging.dir("stream_restart")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val out = Staging.dir("stream_restart_out").toString
      val ckpt = Staging.dir("stream_restart_ckpt").toString
      def drain(): Unit = withStatePartitions(s, dir) {
        val ev = eventStream(s, stage, dir)
        EventStreams.dedupEvents(ev, watermark = "1 hour")
          .writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      drain() // first life: the original file
      val replay = stage.resolve("events_replay.parquet")
      // No mtime bump: Files.copy (without COPY_ATTRIBUTES) stamps the copy
      // with "now", and the second drain discovers it by listing diff against
      // the checkpoint's seen-files log — not by modification-time order.
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), replay)
      drain() // second life, same checkpoint: replay must be a no-op
      boundedReadback(
        s.read.parquet(out).agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          (round(sum(col("value")) * 100) / 100).as("total_value")),
        Seq(stage, java.nio.file.Paths.get(out), java.nio.file.Paths.get(ckpt)))
    })

  override def queries: Seq[Q] =
    Seq(qStreamWindow, qStreamSessions, qStreamDedup, qStreamEnrich, qStreamJoin,
      qStreamSliding, qStreamSessionize, qStreamAlerts, qStreamRestart)
}
