package graft

import graft.nshm.{FaultSystem, Ingest, NshmDb, Schemas}
import graft.ZipFixtures.writeBranchZip
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Listeners
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The store resolves each table's relation once per table version, and
  * every write, from this store or another one on the same directory, is
  * seen by the next read; the NSHM calls submit a bounded number of jobs.
  */
class ParquetNshmStoreSpec extends SparkSpec {
  import spark.implicits._

  /** A parquet store holding the two-rupture branch fixture. */
  private def populated(): (String, NshmDb) = {
    val dir = SparkSpec.tempDir("nshmstore_")
    val db = NshmDb.open(spark, dir)
    Ingest.loadComposite(db, Seq(Ingest.mergeSolutionZips(
      spark, Seq((1.0, writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4))))))
    (dir, db)
  }

  /** The six point lookups on the branch fixture (hydration without the search). */
  private def lookups(db: NshmDb) = Seq[(String, () => Any)](
    "getFault" -> (() => db.getFault(FaultSystem.Crustal, 1L)),
    "getRupture" -> (() => db.getRupture(FaultSystem.Crustal, 0L)),
    "getRupturesFaults" -> (() => db.getRupturesFaults(Seq(1L, 2L))),
    "getFaultInfo" -> (() => db.getFaultInfo(FaultSystem.Crustal, 2L)),
    "getRuptureFaultInfo" -> (() => db.getRuptureFaultInfo(0L)),
    "mostLikelyFault" ->
      (() => db.mostLikelyFault(FaultSystem.Crustal, 0L, Seq("Alpine Fault" -> 6.5, "Kakapo" -> 7.0))))

  /** The lookups' scan threads that are still alive. */
  private def scanThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.getName.startsWith("nshm-scan-") && t.isAlive).toSet

  /** `rupture` rows from (rupture_id, nshm_id, rate). */
  private def ruptures(rows: (Long, Long, Double)*): DataFrame =
    rows.map { case (id, nshmId, rate) => (id, FaultSystem.Crustal, nshmId, 1.0e8, 6.5, 1.0e4, rate) }
      .toDF("rupture_id", "fault_system", "nshm_id", "area", "magnitude", "len", "rate")

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Listeners.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      Listeners.waitUntilEmpty(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("a warm search submits at most 4 jobs and its rows none; a relation is reused until its table changes") {
    val (_, db) = populated()
    assert(db.queryRuptures("Alpine Fault").collect().length === 1)
    var found: DataFrame = null
    val searchJobs = jobsDuring { found = db.queryRuptures("Alpine Fault") }
    assert(searchJobs <= 4, s"queryRuptures submitted $searchJobs jobs")
    assert(jobsDuring(assert(found.collect().length === 1)) === 0)

    val store = db.store
    assert(store.table("rupture") eq store.table("rupture"))
    val before = store.table("rupture")
    store.append("rupture", ruptures((10L, 10L, 0.5)))
    assert(!(store.table("rupture") eq before))
    assert(store.table("rupture").count() === 3)
  }

  test("writes through another store on the same directory are seen; own appends at once") {
    val (dir, db) = populated()
    val a = db.store
    val b = NshmDb.open(spark, dir).store
    def rates() = a.table("rupture").select("nshm_id", "rate").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.table("rupture").count() === 2)

    b.append("rupture", ruptures((10L, 10L, 0.5)))
    assert(a.table("rupture").count() === 3)

    // an overwrite deletes the files A listed: A must re-list, not fail
    val rows = ruptures((1L, 0L, 0.01), (2L, 1L, 0.002), (10L, 10L, 0.7), (11L, 11L, 0.9))
    val schema = Schemas.all("rupture")
    rows.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/rupture")
    assert(rates() === Map(0L -> 0.01, 1L -> 0.002, 10L -> 0.7, 11L -> 0.9))

    a.append("rupture", ruptures((12L, 12L, 0.3)))
    assert(rates()(12L) === 0.3)
    assert(b.table("rupture").count() === 5)
  }

  test("warm point lookups submit a bounded number of jobs") {
    val (_, db) = populated()
    // (lookup, most jobs it may submit once warm): one per scan, plus the
    // search's own jobs for `query`
    val lookups = Seq[(String, () => Any, Int)](
      ("getFault", () => db.getFault(FaultSystem.Crustal, 1L), 2),
      ("getRupture", () => db.getRupture(FaultSystem.Crustal, 0L), 5),
      ("query", () => db.query("Alpine Fault"), 8),
      ("mostLikelyFault",
        () => db.mostLikelyFault(FaultSystem.Crustal, 0L, Seq("Alpine Fault" -> 6.5, "Kakapo" -> 7.0)), 5),
      ("getFaultInfo", () => db.getFaultInfo(FaultSystem.Crustal, 2L), 2),
      ("getRuptureFaultInfo", () => db.getRuptureFaultInfo(0L), 4))
    lookups.foreach { case (_, call, _) => call() }
    val over = lookups.flatMap { case (name, call, most) =>
      val jobs = jobsDuring(call())
      if (jobs > most) Some(s"$name submitted $jobs jobs, expected at most $most") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("a two-branch composite build submits a bounded number of jobs") {
    val branches = Seq(
      (0.25, writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4)),
      (0.75, writeBranchZip(rate0 = 0.03, rate1 = 0.004, mfdRate = 0.8)))
    var merged: Ingest.Solution = null
    val mergeJobs = jobsDuring { merged = Ingest.mergeSolutionZips(spark, branches) }
    val db = freshDb()
    val loadJobs = jobsDuring(Ingest.loadComposite(db, Seq(merged)))
    assert(db.store.table("rupture_faults").count() === 3)
    // the build's counts today: one more job per insert or per member parsed shows here;
    // the merge's one job is the GeoJSON parse, the CSV members run none
    assert(mergeJobs <= 1, s"mergeSolutionZips submitted $mergeJobs jobs")
    assert(loadJobs <= 30, s"loadComposite submitted $loadJobs jobs")
    assert(mergeJobs + loadJobs <= 31, s"mergeSolutionZips submitted $mergeJobs jobs, loadComposite $loadJobs")
  }

  test("point lookups plan no exchange and read the fact tables only through a pushed key filter") {
    val (_, db) = populated()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    Listeners.waitUntilEmpty(sc)
    spark.listenerManager.register(listener)
    val (lookupPlans, notJobs) = try {
      lookups(db).foreach { case (_, call) => call() }
      Listeners.waitUntilEmpty(sc)
      val lookupPlans = plans.asScala.toSeq
      plans.clear()
      // a NOT search: its top-k scans every rupture, but no plan of it may shuffle
      assert(db.queryRuptures("!Alpine Fault").collect().nonEmpty)
      (lookupPlans, jobsDuring(db.queryRuptures("!Alpine Fault")))
    } finally spark.listenerManager.unregister(listener)
    assert(notJobs <= 5, s"the NOT search submitted $notJobs jobs")

    // a fact table's scan must push an equality or IN on its key
    val keyOf = Map(
      "rupture" -> "nshm_id", "rupture_faults" -> "rupture_id",
      "magnitude_frequency_distribution" -> "fault_id")
    object Nodes extends AdaptiveSparkPlanHelper
    val scanned = scala.collection.mutable.Set.empty[String]
    def exchanges(plan: SparkPlan) = Nodes.collect(plan) {
      case e: Exchange => s"${e.nodeName} in\n$plan"
      case e: ReusedExchangeExec => s"${e.nodeName} in\n$plan"
    }
    val problems = plans.asScala.toSeq.flatMap(exchanges) ++ lookupPlans.flatMap { plan =>
      val unkeyed = Nodes.collect(plan) { case s: FileSourceScanExec => s }.flatMap { s =>
        val table = s.relation.location.rootPaths.head.getName
        scanned += table
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        keyOf.get(table).filterNot(k => s"\\b(EqualTo|In)\\($k,".r.findFirstIn(pushed).isDefined)
          .map(k => s"$table scanned without a pushed $k filter: $pushed")
      }
      exchanges(plan) ++ unkeyed
    }
    assert(keyOf.keySet.subsetOf(scanned), s"scanned only ${scanned.mkString(", ")}")
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("a lookup's concurrent scans act as one call: the caller's job group, its failure, no thread left") {
    val (dir, db) = populated()
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    Listeners.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("g", "point lookups", interruptOnCancel = false)
      try lookups(db).foreach { case (name, call) =>
        call()
        assert(scanThreads().isEmpty, s"$name left scan threads running")
      } finally sc.clearJobGroup()
      Listeners.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(!groups.isEmpty)
    assert(groups.asScala.toSet === Set("g"))

    // a scan that fails fails the call, once every scan has finished
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "fault_plane", "part-99999-corrupt.parquet"), "not parquet".getBytes)
    val e = intercept[SparkException](db.getFault(FaultSystem.Crustal, 1L))
    assert(e.getMessage.contains("part-99999-corrupt.parquet"), e.getMessage)
    assert(scanThreads().isEmpty)
  }
}
