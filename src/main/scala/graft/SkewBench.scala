package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Listeners

import scala.collection.mutable.ArrayBuffer

/** Skew-mitigation evidence at scale: runs the 20%-hot-key fixtures from
  * [[graft.queries.SkewQ]] BOTH ways — plain and salted — against a large
  * SF, and records wall time plus the STRAGGLER RATIO (max task duration /
  * median task duration, over the stage with the largest total task time).
  * SkewBalanceSpec proves the salted ROUTING on record counts at sf0.01;
  * this program produces the timing-side artifact the balance spec
  * deliberately avoids — run it on a quiet host and read the ratio, not
  * the absolute seconds.
  *
  * Two scenarios, because they behave differently and the difference is
  * the point:
  *
  *  - aggregation (count+sum per user, one user owns 20% of events):
  *    Spark's map-side partial aggregation already collapses the hot key
  *    to one partial row PER MAP PARTITION, so the reduce stage is
  *    skew-immune for algebraic aggregates — expect ratio ≈ 1 both ways.
  *    The honest conclusion: salted aggregation is insurance for
  *    holistic/partial-defeating shapes, not a win for plain sum/count.
  *  - shuffle join (lineitem⋈part on a part owning 20% of line items,
  *    broadcast DISABLED — at 100 TB the build side often exceeds any
  *    broadcast threshold, which is saltedJoin's stated use case): the
  *    hot key's probe rows land on ONE sort-merge task — expect a large
  *    unsalted ratio that the ×16 salt spread flattens.
  *
  * AQE is disabled so its skew-join splitting and partition coalescing
  * don't mask the effect being measured (AQE is the right FIRST answer in
  * production; saltedJoin is for the shapes AQE can't reach — e.g. the
  * skewed side feeding an aggregation above the join, or pre-AQE engines).
  *
  * Usage: java -cp ... graft.SkewBench [sfDir] ; prints ONE JSON line.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.builder("graft-skew-bench")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Per-stage task durations from the scheduler's own task clock.
    val taskMs = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = taskMs.synchronized {
        taskMs.getOrElseUpdate(t.stageId, ArrayBuffer.empty) += t.taskInfo.duration
      }
    })

    // expectTasks: the reduce-stage task count this scenario should show
    // (the configured shuffle-partition count for static plans; pass -1
    // to skip the check where AQE legitimately coalesces partitions)
    def run(label: String, expectTasks: Int = GraftSession.cpus)(body: => Unit): String = {
      taskMs.synchronized(taskMs.clear())
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      // TaskEnd events arrive on the async listener bus AFTER the action
      // returns — and the last event to land is the straggler this bench
      // exists to measure.
      Listeners.waitUntilEmpty(spark.sparkContext)
      val stages = taskMs.synchronized(taskMs.map { case (k, v) => k -> v.toSeq }.toMap)
      def ratioOf(ds: Seq[Long]): Double = {
        val s = ds.sorted
        s.last.toDouble / math.max(1L, s(s.length / 2))
      }
      // locale-independent number rendering — the f interpolator uses the
      // default locale, which on comma-decimal locales breaks the JSON
      def num(v: Double, digits: Int): String =
        String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
      // the REDUCE stage (largest stageId: post-exchange agg/join + noop
      // write) is where a hot key stalls one task; map-side stages are
      // always even and would mask the ratio if picked by total time
      val (_, reduce) = stages.maxBy(_._1)
      val worst = stages.values.map(ratioOf).max
      val detail = stages.toSeq.sortBy(_._1).map { case (id, ds) =>
        val s = ds.sorted
        s"""{"stage":$id,"tasks":${s.length},"max_ms":${s.last},"med_ms":${s(s.length / 2)}}"""
      }.mkString("[", ",", "]")
      // reduce_tasks should equal the configured shuffle partition count
      // (the reduce stage is post-exchange); a mismatch means the maxBy
      // picked some other stage — flag it rather than trusting the ratio
      val anomalyJson =
        if (expectTasks >= 0 && reduce.length != expectTasks)
          s""","reduce_tasks_expected":$expectTasks""" else ""
      s""""$label":{"wall_s":${num(wall, 3)},"reduce_straggler_ratio":${num(ratioOf(reduce), 1)},""" +
        s""""worst_stage_ratio":${num(worst, 1)},"reduce_tasks":${reduce.length}$anomalyJson,"stages":$detail}"""
    }

    // ---- aggregation scenario ------------------------------------------
    // all agg variants read the same pinned input
    val ev = operators.Checkpoints.pin(queries.SkewQ.skewedEvents(spark, sfDir)
      .select(col("user_id"), col("value"), col("event_id")))

    val aggUnsalted = run("agg_unsalted") {
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .write.format("noop").mode("overwrite").save()
    }
    val aggSalted = run("agg_salted") {
      operators.Skew.saltedAgg(ev, Seq("user_id"), saltBuckets = 32)(
        Seq(count(lit(1)).as("pn"), sum(col("value")).as("pv")),
        Seq(sum(col("pn")).as("n"), sum(col("pv")).as("sum_value")))
        .write.format("noop").mode("overwrite").save()
    }
    val aggContent = run("agg_salted_content") {
      operators.Skew.saltedAgg(ev, Seq("user_id"), saltBuckets = 32,
        saltBy = Some(operators.Skew.contentSalt(32, col("event_id"))))(
        Seq(count(lit(1)).as("pn"), sum(col("value")).as("pv")),
        Seq(sum(col("pn")).as("n"), sum(col("pv")).as("sum_value")))
        .write.format("noop").mode("overwrite").save()
    }
    val evRows = ev.count()

    // ---- shuffle-join scenario -----------------------------------------
    // Bench-only 50%-hot remap (the oracle gates keep their 20% fixture):
    // at sf1.0 a reduce task's FIXED cost (~1.2 s shuffle read + sort
    // setup at local[32]) swamps 20% of 6M rows, so the hot task hides in
    // the constant term. 50% on one key (3M rows vs ~95k median) puts the
    // per-row work well above the constant and makes the straggler — and
    // the salted fix — measurable at this SF. At 100 TB the 20% key is
    // already far past the constant term; the 50% remap is the small-SF
    // proxy for that regime.
    // ×4 row replication + a string payload so per-row join cost is
    // realistic (wide shuffled rows), not a bare-long codegen best case.
    val li = operators.Checkpoints.pin(Tables.load(spark, sfDir, "lineitem")
      .withColumn("rep", explode(sequence(lit(0), lit(3))))
      .withColumn(
        "l_partkey",
        when(col("l_partkey") % 2 === 0, lit(1L)).otherwise(col("l_partkey")))
      .select(
        col("l_partkey").as("p_partkey"), col("l_extendedprice"),
        concat_ws("|", col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate").cast("string"), col("rep").cast("string")).as("payload")))
    val part = operators.Checkpoints.pin(Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand")))

    val joinUnsalted = run("join_unsalted") {
      li.join(part, Seq("p_partkey"))
        .write.format("noop").mode("overwrite").save()
    }
    val joinSalted = run("join_salted") {
      operators.Skew.saltedJoin(li, part, Seq("p_partkey"), saltBuckets = 16)
        .write.format("noop").mode("overwrite").save()
    }
    val joinSaltedHot = run("join_salted_hot") {
      val hot = operators.Skew.hotKeys(li, Seq("p_partkey"), minShare = 0.05)
      operators.Skew
        .saltedJoinSkewOnly(li, part, Seq("p_partkey"), saltBuckets = 16, hotKeys = hot)
        .write.format("noop").mode("overwrite").save()
    }
    // the honest baseline: AQE's skew-join split IS the first answer for a
    // plain skewed join — manual salting earns its keep only where AQE
    // can't reach (skewed side feeding an agg, pre-shuffled caches)
    val joinAqe = run("join_unsalted_aqe", expectTasks = -1) {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      try li.join(part, Seq("p_partkey"))
        .write.format("noop").mode("overwrite").save()
      finally spark.conf.set("spark.sql.adaptive.enabled", "false")
    }
    // Skew.* composed WITH AQE (the gates' default-config regime): the
    // hot-only salted join must keep its spread — and its wall time —
    // when AQE's coalescing/skew rules re-plan around it
    val joinSaltedHotAqe = run("join_salted_hot_aqe", expectTasks = -1) {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      try {
        val hot = operators.Skew.hotKeys(li, Seq("p_partkey"), minShare = 0.05)
        operators.Skew
          .saltedJoinSkewOnly(li, part, Seq("p_partkey"), saltBuckets = 16, hotKeys = hot)
          .write.format("noop").mode("overwrite").save()
      } finally spark.conf.set("spark.sql.adaptive.enabled", "false")
    }
    val liRows = li.count()

    println(s"""{"sf_dir":"$sfDir","agg_rows":$evRows,"join_probe_rows":$liRows,""" +
      s""""salt_buckets_agg":32,"salt_buckets_join":16,""" +
      Seq(aggUnsalted, aggSalted, aggContent, joinUnsalted, joinSalted, joinSaltedHot,
        joinAqe, joinSaltedHotAqe).mkString(",") + "}")
    spark.stop()
  }
}
