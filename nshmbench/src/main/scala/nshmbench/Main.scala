package nshmbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.dsl.{BoolSetCompiler, Parser}
import graft.nshm._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Closed-loop client for the NSHM API on one warm `local[cores]` session.
  *
  * Usage: `Main <plan.json> <result.json>`. The plan (written by `run.py`
  * from the seed) names the branch manifest, the store directory, the
  * warm-up calls, the call script and the timed seconds. One
  * client replays the script in order, sending each call when the previous
  * one returns, until the seconds are spent, at least `min_calls` calls are
  * done, and the last cycle of `cycle` calls is complete. Every answer is
  * kept and written out after the timed phase; `run.py` checks them.
  *
  * With `"trace": true` the same calls run inside spans, each call in its
  * own job group, with [[Trace]]'s listeners attached, and the per-layer
  * figures are written beside the answers.
  */
object Main {

  final case class Call(idx: Int, node: JsonNode) {
    def op: String = node.get("op").asText()
    def int(k: String): Int = node.get(k).asInt()
    def long(k: String): Long = node.get(k).asLong()
    private def bound(k: String): (Option[Double], Option[Double]) = {
      val n = node.get(k)
      if (n == null) (None, None)
      else {
        def one(i: Int) = if (n.get(i).isNull) None else Some(n.get(i).asDouble())
        (one(0), one(1))
      }
    }
    def mag: (Option[Double], Option[Double]) = bound("mag")
    def rate: (Option[Double], Option[Double]) = bound("rate")
    def limit: Int = node.get("limit").asInt()
    def fcl: Option[Int] = Option(node.get("fcl")).map(_.asInt())
    def expr: String = node.get("expr").asText()
    def targets: Seq[(String, Double)] =
      node.get("targets").asScala.map(t => t.get(0).asText() -> t.get(1).asDouble()).toSeq
  }

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val plan = mapper.readTree(new java.io.File(args(0)))
    val cores = plan.get("cores").asInt()
    val traced = plan.get("trace").asBoolean()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val hostBefore = Host.stamp()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("nshm-bench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("spark_local").asText())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val trace = if (traced) Some(new Trace(spark, cores)) else None
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    // ---- set-up: one composite build into a fresh store, then served
    val manifest = plan.get("manifest").asText()
    val storeDir = plan.get("store_dir").asText()
    val db = NshmDb.open(spark, storeDir)
    val tb = System.nanoTime()
    trace match {
      case None =>
        val systems = SolutionProvider.downloadCompositeSolution(
          spark, new ManifestSolutionProvider(manifest), SemVer(1, 0, 0))
        Ingest.loadComposite(db, systems)
      case Some(tr) => ingestTraced(spark, tr, db, manifest)
    }
    val buildS = (System.nanoTime() - tb) / 1e9

    val warm = plan.get("warmup").asScala.zipWithIndex.map { case (n, i) => Call(-1 - i, n) }.toSeq
    val tw = System.nanoTime()
    warm.foreach(c => run(db, c, None))
    val warmupS = (System.nanoTime() - tw) / 1e9

    // ---- timed phase: one closed-loop client
    val script = plan.get("script").asScala.zipWithIndex.map { case (n, i) => Call(i, n) }.toVector
    val seconds = plan.get("seconds").asDouble()
    val minCalls = plan.get("min_calls").asInt()
    val cycle = plan.get("cycle").asInt()
    val lat = ArrayBuffer.empty[(String, Double)]
    val answers = ArrayBuffer.empty[(Int, Any)]
    val errors = ArrayBuffer.empty[(Int, String)]
    val stealBefore = Host.stealJiffies()
    val timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < minCalls || i % cycle != 0) {
      val c = Call(i, script(i % script.length).node) // cycles once a faster program outruns the script
      trace.foreach(_.beginCall(c.idx, c.op))
      val s = System.nanoTime()
      val res =
        try Some(run(db, c, trace))
        catch { case e: Throwable => errors += c.idx -> e.toString.take(300); None }
      val ms = (System.nanoTime() - s) / 1e6
      lat += c.op -> ms
      res.foreach(r => answers += c.idx -> r._1)
      trace.foreach(_.endCall(c.op, ms, res.map(_._2).getOrElse(0)))
      i += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val stealAfter = Host.stealJiffies()
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0

    // ---- DSL parse + compile on this run's expressions (traced run only)
    trace.foreach { tr =>
      val exprs = script.take(i).filter(_.node.has("expr")).map(_.expr).distinct
      val reps = 200
      val per = exprs.map { e =>
        val s = System.nanoTime()
        for (_ <- 0 until reps) BoolSetCompiler.compile(Parser.parse(e), col("name"))
        (System.nanoTime() - s) / 1e3 / reps
      }
      tr.layer("dsl.parse_compile_us", median(per))
      tr.finish(out, plan.get("spans_out").asText(), buildS)
    }

    out ++= Seq(
      "session_s" -> sessionS,
      "build_s" -> buildS,
      "warmup_s" -> warmupS,
      "timed_start_ms" -> timedStartMs,
      "timed_s" -> timedS,
      "calls" -> lat.size,
      "latency_ms" -> lat.toSeq,
      "errors" -> errors.toSeq,
      "heap_after_gc_mb" -> heapMb,
      "host" -> Map(
        "steal_s" -> Host.stealSeconds(stealBefore, stealAfter),
        "sibling_jvms_start" -> hostBefore,
        "sibling_jvms_end" -> Host.stamp()),
      "answers" -> answers.toSeq)
    spark.stop()
    mapper.writeValue(new java.io.File(args(1)), out)
  }

  /** The traced build calls the public functions `loadComposite` runs,
    * one at a time, so each gets its own span.
    */
  private def ingestTraced(spark: SparkSession, tr: Trace, db: NshmDb, manifest: String): Unit = {
    tr.beginBuild()
    val systems = tr.span("ingest.resolve_merge", "build") {
      SolutionProvider.downloadCompositeSolution(
        spark, new ManifestSolutionProvider(manifest), SemVer(1, 0, 0))
    }
    systems.foreach { s =>
      tr.span("ingest.faults", "build")(db.insertManyFaults(s.faults))
      tr.span("ingest.ruptures", "build")(db.insertManyRuptures(
        s.ruptureProperties.select("nshm_id", "magnitude", "area", "len", "rate", "fault_system"),
        s.ruptureJoinTable.select(col("rupture_id"), col("fault_id"), col("fault_system"))))
      s.mfds.foreach { m =>
        tr.span("ingest.mfds", "build")(
          db.insertMfds(m.select("nshm_id", "fault_system", "magnitude", "rate")))
      }
    }
    tr.endBuild()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def searchRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => (0 until 7).map(i => if (r.isNullAt(i)) null else r.get(i)))

  private def ruptureAnswer(r: Rupture): Map[String, Any] = Map(
    "sys" -> r.faultSystem, "nshm_id" -> r.ruptureNshmId,
    "mag" -> r.magnitude.orNull, "area" -> r.area.orNull, "len" -> r.length.orNull,
    "rate" -> r.rate.orNull,
    "faults" -> r.faults.map { case (n, f) => n -> f.planes.size })

  private def faultInfoAnswer(f: FaultInfo): Map[String, Any] = Map(
    "sys" -> f.faultSystem, "nshm_id" -> f.faultNshmId, "name" -> f.name,
    "rake" -> f.rake, "tect" -> f.tectType.orNull)

  /** One API call: its answer, reduced to plain values for the check, and
    * the number of rows the API returned.
    */
  def run(db: NshmDb, c: Call, trace: Option[Trace]): (Any, Int) = {
    def traced[T](name: String)(body: => T): T = trace match {
      case Some(tr) => tr.span(name, s"call${c.idx}")(body)
      case None => body
    }
    traced(c.op)(c.op match {
      case "search" | "search_compound" =>
        val rows = trace match {
          case None =>
            searchRows(db.queryRuptures(c.expr, c.mag, c.rate, c.limit, c.fcl).collect())
          case Some(_) =>
            val df = traced(s"${c.op}.build")(db.queryRuptures(c.expr, c.mag, c.rate, c.limit, c.fcl))
            traced(s"${c.op}.prepare")(df.queryExecution.executedPlan)
            searchRows(traced(s"${c.op}.exec")(df.collect()))
        }
        rows -> rows.size
      case "hydrate" =>
        val byNshm = trace match {
          case None => db.query(c.expr, c.mag, c.rate, c.limit, c.fcl)
          case Some(_) =>
            // the two public calls `query()` composes, timed apart
            val rows = traced("hydrate.search")(
              db.queryRuptures(c.expr, c.mag, c.rate, c.limit, c.fcl).collect())
            val faults = traced("hydrate.join")(db.getRupturesFaults(rows.map(_.getLong(0)).toSeq))
            rows.map { r =>
              r.getLong(1) -> Rupture(
                r.getInt(2), r.getLong(1),
                Option(r.get(3)).map(_.asInstanceOf[Double]),
                Option(r.get(4)).map(_.asInstanceOf[Double]),
                Option(r.get(5)).map(_.asInstanceOf[Double]),
                Option(r.get(6)).map(_.asInstanceOf[Double]),
                faults.getOrElse(r.getLong(0), Map.empty))
            }.toMap
        }
        byNshm.map { case (k, r) => k.toString -> ruptureAnswer(r) } -> byNshm.size
      case "rupture_lookup" =>
        ruptureAnswer(traced("nshm.getRupture")(db.getRupture(c.int("sys"), c.long("id")))) -> 1
      case "fault_lookup" =>
        val planes = traced("nshm.getFault")(db.getFault(c.int("sys"), c.long("id"))).planes
        planes.map(_.corners) -> planes.size
      case "fault_info" =>
        faultInfoAnswer(traced("nshm.getFaultInfo")(db.getFaultInfo(c.int("sys"), c.long("id")))) -> 1
      case "rupture_fault_info" =>
        val byName = traced("nshm.getRuptureFaultInfo")(db.getRuptureFaultInfo(c.long("id")))
        byName.map { case (n, f) => n -> faultInfoAnswer(f) } -> byName.size
      case "mfd" =>
        val byName = traced("nshm.mostLikelyFault")(db.mostLikelyFault(c.int("sys"), c.long("id"), c.targets))
        byName -> byName.size
      case other => throw new IllegalArgumentException(s"unknown op $other")
    })
  }
}
