package graft

import graft.nshm.{FaultSystem, Ingest, NshmDb, Schemas}
import graft.ZipFixtures.writeBranchZip
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Listeners

/** The store resolves each table's relation once per table version:
  * building a query over resolved tables runs no job, and every write,
  * from this store or another one on the same directory, is seen by the
  * next read.
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

  test("building a search submits no jobs; a relation is reused until its table changes") {
    val (_, db) = populated()
    assert(db.queryRuptures("Alpine Fault").collect().length === 1)
    assert(jobsDuring(db.queryRuptures("Alpine Fault")) === 0)

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
    // (lookup, most jobs it may submit once warm): the broadcasts and the
    // scan, no sort exchange and no second pass over a join
    val lookups = Seq[(String, () => Any, Int)](
      ("getFault", () => db.getFault(FaultSystem.Crustal, 1L), 2),
      ("getRupture", () => db.getRupture(FaultSystem.Crustal, 0L), 5),
      ("query", () => db.query("Alpine Fault"), 9),
      ("mostLikelyFault",
        () => db.mostLikelyFault(FaultSystem.Crustal, 0L, Seq("Alpine Fault" -> 6.5, "Kakapo" -> 7.0)), 5))
    lookups.foreach { case (_, call, _) => call() }
    val over = lookups.flatMap { case (name, call, most) =>
      val jobs = jobsDuring(call())
      if (jobs > most) Some(s"$name submitted $jobs jobs, expected at most $most") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("a two-branch composite build submits a bounded number of jobs") {
    val merged = Ingest.mergeSolutionZips(spark, Seq(
      (0.25, writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4)),
      (0.75, writeBranchZip(rate0 = 0.03, rate1 = 0.004, mfdRate = 0.8))))
    val db = freshDb()
    val jobs = jobsDuring(Ingest.loadComposite(db, Seq(merged)))
    assert(db.store.table("rupture_faults").count() === 3)
    // the build's count today: one more job per insert shows here
    assert(jobs <= 43, s"loadComposite submitted $jobs jobs")
  }
}
