package graft

import graft.operators.Checkpoints
import org.apache.spark.sql.functions._

/** [[Checkpoints.pin]], the one materialization point, must pick the
  * RELIABLE checkpoint path when a checkpoint dir is configured (the
  * cluster deployment mode, where executor-local blocks vanish on
  * executor loss) and fall back to a serialized local checkpoint
  * otherwise — with identical data either way — and must stay the only
  * place in main sources that pins. Test titles keep the names of the
  * helpers `pin` replaced, so their ids stay comparable across commits.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("no checkpoint dir: falls back to a local checkpoint, data intact") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val df = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    val mat = Checkpoints.pin(df.filter(col("id") <= 50))
    assert(mat.count() === 50)
    assert(mat.agg(sum(col("v"))).head.getDouble(0) === (1 to 50).map(_ * 2.0).sum)
    assert(sc.getCheckpointDir.isEmpty, "pin must not invent a dir")
  }

  test("pinSer and the local materialize fallback pin SERIALIZED") {
    // The storage level IS the scale guarantee (SCALING.md §8/§9):
    // deserialized pins re-inflate ~10× on disk read-back and OOM'd
    // the ×1000-SF edge frame. A silent revert to the default
    // deserialized level must fail here, not on a 600M-row board run.
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    def newLevels(body: => Unit): Seq[StorageLevel] = {
      val before = sc.getPersistentRDDs.keySet
      body
      sc.getPersistentRDDs.collect {
        case (id, rdd) if !before(id) => rdd.getStorageLevel
      }.toSeq
    }
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    val viaPin = newLevels { Checkpoints.pin(df).count() }
    assert(viaPin.nonEmpty && viaPin.forall(_ == StorageLevel.MEMORY_AND_DISK_SER),
      s"pin levels: $viaPin")
    val viaFallback = newLevels { Checkpoints.pin(df.filter(col("id") > 1)).count() }
    assert(viaFallback.nonEmpty && viaFallback.forall(_ == StorageLevel.MEMORY_AND_DISK_SER),
      s"pin local-fallback levels: $viaFallback")
  }

  test("materializeCount: fused count, serialized pin, truncated lineage") {
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val before = sc.getPersistentRDDs.keySet
    val df = (1 to 500).map(i => (i.toLong, i % 7)).toDF("id", "m")
    val mat = Checkpoints.pin(df.filter(col("m") === 0), eager = false)
    val n = mat.count()
    assert(n === (1 to 500).count(_ % 7 == 0).toLong)
    // the pinned frame serves later consumers with the same data
    assert(mat.agg(sum(col("id"))).head.getLong(0)
      === (1 to 500).filter(_ % 7 == 0).map(_.toLong).sum)
    val pinned = sc.getPersistentRDDs.collect {
      case (id, rdd) if !before(id) => rdd.getStorageLevel
    }.toSeq
    assert(pinned.nonEmpty && pinned.forall(_ == StorageLevel.MEMORY_AND_DISK_SER),
      s"lazy pin + count local-path levels: $pinned")
    // constant-size lineage: an iterative consumer sees the truncated
    // plan (LogicalRDD), not the re-derivation — a persist-based fusion
    // would keep the full plan and grow exponentially in peel loops
    assert(mat.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      mat.queryExecution.optimizedPlan.toString)
  }

  test("materializeLazy contract: a full-scan first action computes once; a take-shaped first action degrades to partial pinning") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    def tracked() = {
      val acc = sc.longAccumulator
      val note = udf { (i: Long) => acc.add(1L); i }
      (acc, spark.range(0, 64, 1, 4).select(note(col("id")).as("id")))
    }
    // CONTRACT HELD: one full-scan first consumer → every row computed
    // exactly once, and a SECOND consumer reads pinned blocks
    val (okAcc, okDf) = tracked()
    val fused = Checkpoints.pin(okDf, eager = false)
    assert(fused.agg(sum(col("id"))).head.getLong(0) === (0L until 64L).sum)
    assert(okAcc.value === 64L, s"full-scan first action must compute once, saw ${okAcc.value}")
    assert(fused.count() === 64L)
    assert(okAcc.value === 64L, s"second consumer must read pins, saw ${okAcc.value}")
    // CONTRACT BROKEN (the documented hazard, kept from regressing
    // silently): a take-shaped first action does NOT give lazy
    // per-partition pinning — RDD.doCheckpoint runs at the end of the
    // first job and launches an EXTRA job to compute every partition
    // the take didn't touch. The caller pays the take job PLUS a full
    // backfill job, i.e. the fused single barrier is back to two.
    val (badAcc, badDf) = tracked()
    val partial = Checkpoints.pin(badDf, eager = false)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      assert(partial.head().getLong(0) === 0L)
      // the backfill ran INSIDE the head() action: every partition is
      // already computed even though head touched only one
      eventually(badAcc.value === 64L)
      eventually(jobs.get() >= 2) // listener bus is async
      assert(jobs.get() >= 2,
        s"head()-first must pay a take job + a doCheckpoint backfill job, saw ${jobs.get()}")
    } finally sc.removeSparkListener(listener)
  }

  private def eventually(cond: => Boolean, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond)
  }

  test("with a checkpoint dir: goes reliable, writes there, and round-trips") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val df = (1 to 1000).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
      val expected = df.filter(col("id") % 7 === 0).orderBy("id").collect().toSeq
      val mat = Checkpoints.pin(df.filter(col("id") % 7 === 0))
      assert(mat.orderBy("id").collect().toSeq === expected)
      // the reliable path actually landed files in the configured dir
      def anyFiles(p: java.nio.file.Path): Boolean = {
        val s = java.nio.file.Files.walk(p)
        try s.anyMatch(q => java.nio.file.Files.isRegularFile(q))
        finally s.close()
      }
      assert(anyFiles(java.nio.file.Paths.get(dir)),
        s"no checkpoint files under $dir — the reliable path was not taken")
      // an iterative consumer sees the truncated lineage, not the scan
      assert(mat.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    } finally {
      // shared session: later suites expect the local fallback
      sc.setCheckpointDir(null)
    }
  }

  test("pin is the only pin: no other localCheckpoint/cache/persist/checkpoint call in src/main") {
    // a bare cache() registers the frame with the session's CacheManager,
    // which then silently re-plans every later query over the same scan
    val pinCall = raw"localCheckpoint\(|\.cache\(\)|\.persist\(|\.checkpoint\(".r
    val defName = raw"\bdef\s+(\w+)".r
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File("src/main"))
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Checkpoints.scala")
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
      (line, i) <- lines.zipWithIndex
      if pinCall.findFirstIn(line).isDefined
      // the one exception: NshmDb.appendWithDenseId's RDD persist keeps
      // zipWithIndex from running the insert's upstream plan twice
      enclosing = lines.take(i + 1).flatMap(l => defName.findFirstMatchIn(l).map(_.group(1)))
      if !(f.getName == "NshmDb.scala" && enclosing.lastOption.contains("appendWithDenseId"))
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "pin through Checkpoints.pin instead:\n" + hits.mkString("\n"))
  }
}
