package graft

/** Per-round benchmark: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Results are materialized through the noop sink — `.count()` would let
  * Catalyst prune away most of each query's actual column work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // optional dev filter: only queries whose name starts with args(0)
    val prefix = args.headOption.getOrElse("")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.validate(spark, sfDir) // fail loud + early on a data-contract drift

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    // Aggregate CPU-steal jiffies from /proc/stat (field 8 of the "cpu"
    // line). The host periodically steals ~all vCPUs for 60-90 s; recording
    // the per-pass steal delta lets round-over-round comparisons discard
    // storm-inflated samples objectively instead of guessing from timings.
    def stealJiffies(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+")(8).toLong
        finally src.close()
      } catch { case _: Throwable => -1L }
    // Host-isolation precheck (mechanizing the round-17 protocol: two
    // of three contaminated measurements that round were stray-JVM
    // artifacts caught by hand — q_dsl_topk 1448 s → 167.5 s isolated).
    // Any OTHER graft JVM alive on the host invalidates wall-times, so
    // scan /proc for java processes running graft.* and TAG the
    // artifact: the bench must still emit its JSON line for the driver,
    // but a non-empty "sibling_jvms" marks the numbers non-comparable.
    def siblingGraftJvms(): Seq[String] = {
      val self = ProcessHandle.current().pid()
      try {
        val procDir = new java.io.File("/proc")
        procDir.listFiles((_, n) => n.forall(_.isDigit)).toSeq
          .filter(_.getName.toLong != self)
          .flatMap { d =>
            try {
              val cmd = new String(java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(d.getPath, "cmdline")), "UTF-8")
                .replace('\u0000', ' ').trim
              if (cmd.contains("graft.") &&
                  cmd.takeWhile(_ != ' ').endsWith("java"))
                Some(s"${d.getName}: ${cmd.take(120)}")
              else None
            } catch { case _: Throwable => None }
          }
      } catch { case _: Throwable => Seq.empty }
    }
    val siblings = siblingGraftJvms()
    if (siblings.nonEmpty)
      System.err.println(
        s"[bench] WARNING: host not isolated — sibling graft JVMs alive:\n  " +
          siblings.mkString("\n  "))

    // Jiffy length comes from the kernel, not a hardcoded USER_HZ=100.
    val clkTck: Long =
      try scala.sys.process.Process(Seq("getconf", "CLK_TCK")).!!.trim.toLong
      catch { case _: Throwable => 100L }
    // None (emitted as JSON null) when /proc/stat was unreadable — a -1.0
    // sentinel would read as negative steal downstream.
    def stealSec(before: Long, after: Long): Option[Double] =
      if (before < 0 || after < 0) None
      else Some(math.round((after - before) * 10.0 / clkTck) / 10.0)

    // Warm the JVM + file metadata once so per-query numbers measure the
    // query, not first-touch classloading; q_time_bucket additionally
    // warms the events table's legacy-nanos read path.
    for (w <- Seq("q1_agg", "q_time_bucket"))
      try SparkEntry.queries.get(w).foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
      catch { case _: Throwable => () }

    // Up to two measured passes per query, report the min: this VM's
    // host periodically steals ~all vCPUs for 60-90 s (visible as
    // steal-time spikes in /proc/stat), and a single pass randomly
    // charges that stall to whichever query it lands on. The re-measure
    // pass only covers queries whose first pass looks stall-inflated,
    // keeping total runtime (and therefore storm exposure) low.
    def measure(names: Seq[String]): Map[String, Double] =
      names.map { name =>
        val fn = SparkEntry.queries(name)
        val sec =
          try time(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          catch { case _: Throwable => -1.0 }
        name -> sec
      }.toMap
    // comma-separated prefixes select a subset (e.g. the scaling-curve
    // family list); a single empty prefix means everything, as before
    val prefixes = prefix.split(',').toSeq
    val all = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    val s0 = stealJiffies()
    val p1 = measure(all)
    val s1 = stealJiffies()
    val suspicious = all.filter(n => p1(n) < 0 || p1(n) > 3.0)
    val p2 = measure(suspicious)
    val s2 = stealJiffies()
    // Re-scan AFTER the measure passes and report the max observed: the
    // start-of-JVM scan alone lets a sibling appearing mid-bench (passes
    // run for minutes) falsely certify sibling_jvms=0 on a contaminated
    // window.
    val siblingJvmsMax = math.max(siblings.size, siblingGraftJvms().size)
    val (steal1, steal2) = (
      stealSec(s0, s1).map(_.toString).getOrElse("null"),
      stealSec(s1, s2).map(_.toString).getOrElse("null"))
    val results = all.map { name =>
      val best = (p1(name), p2.getOrElse(name, p1(name))) match {
        case (a, b) if a < 0 => b
        case (a, b) if b < 0 => a
        case (a, b) => math.min(a, b)
      }
      name -> math.round(best * 1000) / 1000.0
    }
    val total = math.round(results.map(_._2).filter(_ >= 0).sum * 1000) / 1000.0

    // Window-quality controls (BASELINE.md round-18 protocol): two
    // pin-free, plan-stable queries whose full-pass floor values are
    // known (q_having_countd ~1.21 s, q_dedup_first ~1.14 s at sf0.1
    // local[32]), plus — r20, additive — one BARRIER-BOUND control
    // (q_bpe_merges: a fixed 6-round driver loop, ~1.98 s floor) so a
    // window where the two exchange-bound controls DISAGREE (the r19
    // driver window read 1.57× vs 0.85× floor) can be adjudicated
    // against a control whose cost is sequential job barriers rather
    // than shuffle throughput. Ambient host slowdowns inflate these by
    // the same factor as the suite but leave steal_s near zero — the
    // ratio vs floor normalizes a pass, steal alone does not.
    // A control that errored carries the -1.0 failure sentinel — emit it
    // as missing, not as a nonsense floor ratio that silently poisons
    // the normalization the controls exist for.
    val controls = Seq("q_having_countd", "q_dedup_first", "q_bpe_merges")
      .flatMap(n => results.toMap.get(n).filter(_ >= 0).map(v => s""""$n":$v"""))
      .mkString("{", ",", "}")

    // The driver keeps only the LAST 2000 chars of stdout and parses the
    // JSON line out of that window (BENCH_r01/r02 both ended parsed:null
    // because the full per-query map overflowed it). So: dump the full
    // map to a file, and keep the stdout line itself under ~1400 chars by
    // including only the slowest queries — the ones worth reading against
    // BASELINE.md — plus the suite-wide total.
    def jsonLine(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
        s""""steal_s":[$steal1,$steal2],"sibling_jvms":$siblingJvmsMax,""" +
        s""""controls":$controls,"queries":$qs,"queries_omitted":$omitted,""" +
        s""""queries_full":"bench_full.json","sf":"$sfDir"}"""
    }
    val bySlowest = results.sortBy { case (_, v) => -v }
    val keep = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var full = false
    for (e <- bySlowest if !full) {
      val cand = (keep :+ e).sortBy(_._1).toSeq
      // Size with the real omitted count, and stop at the first entry
      // that doesn't fit so the kept set is exactly the slowest prefix.
      if (jsonLine(cand, results.size - cand.size).length <= 1400) keep += e
      else full = true
    }
    val fullQs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","steal_s":[$steal1,$steal2],""" +
        s""""sibling_jvms":$siblingJvmsMax,"controls":$controls,""" +
        s""""queries":$fullQs,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    // Print LAST, after spark.stop(), so no stray executor/log line can
    // land between this and end-of-stream inside the driver's tail window.
    println(jsonLine(keep.sortBy(_._1).toSeq, results.size - keep.size))
  }
}
