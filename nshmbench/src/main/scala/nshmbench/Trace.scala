package nshmbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory spans plus listener counters for the traced run.
  *
  * Each API call runs in its own job group (`call<i>`, the build in
  * `build`); a [[SparkListener]] sums task metrics per call and a
  * [[QueryExecutionListener]] sums the analysis, optimisation and planning
  * phases of every query the call executed. The listener bus is drained
  * before and after each call, so callbacks land on the call that caused
  * them.
  */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val counters = mutable.HashMap.empty[String, Counters]
  @volatile private var current: String = "none"
  // (op, group, wall ms, result rows)
  private val calls = mutable.ArrayBuffer.empty[(String, String, Double, Int)]
  private var nextId = 0

  private def c(group: String): Counters = counters.synchronized(counters.getOrElseUpdate(group, new Counters))

  // Attributed to the call (or build) in progress rather than by the job's
  // group property: adaptive execution submits some stages from threads
  // that do not carry the caller's local properties.
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c(current).jobs += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val k = c(current)
        k.tasks += 1
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.records += m.inputMetrics.recordsRead
        k.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        k.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      c(current).planMs += Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def settle(): Unit = org.apache.spark.ListenerDrain(spark.sparkContext)

  def span[T](name: String, call: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val s = System.nanoTime()
    try body
    finally {
      open.pop()
      spans += Span(id, name, s, System.nanoTime(), parent, call)
    }
  }

  /** Start a call: its own job group, and the target of planning callbacks. */
  def beginCall(idx: Int, op: String): Unit = {
    settle()
    current = s"call$idx"
    spark.sparkContext.setJobGroup(current, op, interruptOnCancel = false)
  }

  /** End a call that took `wallMs` and returned `rows` result rows. */
  def endCall(op: String, wallMs: Double, rows: Int): Unit = {
    spark.sparkContext.clearJobGroup()
    settle()
    calls += ((op, current, wallMs, rows))
    current = "none"
  }

  def beginBuild(): Unit = {
    settle()
    current = "build"
    spark.sparkContext.setJobGroup(current, "composite build", interruptOnCancel = false)
  }

  def endBuild(): Unit = {
    spark.sparkContext.clearJobGroup()
    settle()
    current = "none"
  }

  def layer(name: String, v: Double): Unit = layers(name) = v

  private def spanMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toSeq

  /** Per-layer figures into `out("layers")`; spans to `spansPath` (JSON lines). */
  def finish(out: mutable.Map[String, Any], spansPath: String, buildWallS: Double): Unit = {
    settle()
    import Main.median
    for ((op, cs) <- calls.groupBy(_._1)) {
      val ks = cs.map(x => c(x._2)).toSeq
      layers(s"$op.plan_ms") = median(ks.map(_.planMs.toDouble))
      layers(s"$op.jobs") = median(ks.map(_.jobs.toDouble))
      layers(s"$op.tasks") = median(ks.map(_.tasks.toDouble))
      layers(s"$op.task_cpu_ms") = median(ks.map(_.cpuNs / 1e6))
      layers(s"$op.input_rows_per_result") =
        ks.map(_.records).sum.toDouble / math.max(1, cs.map(_._4).sum)
      layers(s"$op.non_task_frac") =
        1.0 - ks.map(_.runMs).sum.toDouble / (cs.map(_._3).sum * cores)
      if (op == "search" || op == "mfd")
        layers(s"$op.shuffle_bytes") = median(ks.map(_.shuffleBytes.toDouble))
    }
    Seq("search.build", "search.exec", "hydrate.search", "hydrate.join")
      .foreach(n => layers(s"${n}_ms") = median(spanMs(n)))

    val build = c("build")
    def spanS(name: String): Double =
      spans.filter(s => s.name == name && s.call == "build").map(s => (s.end - s.start) / 1e9).sum
    Seq("resolve_merge", "faults", "ruptures", "mfds").foreach(n => layers(s"ingest.${n}_s") = spanS(s"ingest.$n"))
    layers("ingest.jobs") = build.jobs.toDouble
    layers("ingest.task_cpu_s") = build.cpuNs / 1e9
    layers("ingest.shuffle_bytes") = build.shuffleBytes.toDouble
    layers("ingest.output_bytes") = build.outputBytes.toDouble
    layers("ingest.non_task_frac") = 1.0 - build.runMs / 1e3 / (buildWallS * cores)
    out("layers") = layers

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = new java.io.PrintWriter(spansPath, "UTF-8")
    try spans.foreach { s =>
      w.println(mapper.writeValueAsString(java.util.Map.of(
        "id", s.id, "name", s.name, "start_ns", s.start, "end_ns", s.end,
        "parent", s.parent, "call", s.call)))
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, call: String)

  /** Per job-group counters. */
  final class Counters {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var records = 0L; var shuffleBytes = 0L; var outputBytes = 0L
    var planMs = 0L
  }
}
