package graft.nshm

import graft.dsl.{BoolSetCompiler, Parser}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Spark-native equivalent of the reference `NSHMDB` facade
  * (`/root/reference/nshmdb/nshmdb.py:82-683`): one engine (no
  * sqlite-for-writes / duckdb-for-analytics split), queries are Catalyst
  * plans, the DSL compiles to `Column`s (no SQL strings), and the
  * reference's per-result N+1 hydration loop (nshmdb.py:664-683) is a
  * single batched join.
  *
  * Scale notes: `fault`, `parent_fault` and the per-query pair/ID lookup
  * frames are broadcast; the `rupture_faults` bridge is the fact side;
  * top-k plans as TakeOrderedAndProject. Behavioral divergences from the
  * reference (each deliberate, see Scaladoc on the method):
  * zero-valued bounds are honored (reference drops them via Python
  * truthiness, query.py:298-311); NOT over compound DSL expressions works
  * (reference crashes, query.py:267-270); surrogate-id allocation orders
  * by natural key rather than insertion order.
  */
final class NshmDb(val store: NshmStore) {
  val spark: SparkSession = store.spark

  private def parentFault = store.table("parent_fault")
  private def fault = store.table("fault")
  private def faultPlane = store.table("fault_plane")
  private def rupture = store.table("rupture")
  private def ruptureFaults = store.table("rupture_faults")
  private def mfd = store.table("magnitude_frequency_distribution")

  /** Register the six tables as temp views so callers can `spark.sql`
    * over them (≙ the reference's SQL-over-one-file surface, S2 — minus
    * the dual-engine split).
    */
  def registerViews(prefix: String = ""): Unit =
    Schemas.all.keys.foreach(n => store.table(n).createOrReplaceTempView(prefix + n))

  // ---------------------------------------------------------------- query

  /** The analytical search (≙ NSHMDB.query → query.to_sql,
    * nshmdb.py:623-663 / query.py:295-338) as a DataFrame plan:
    * J7 join → per-rupture flag aggregation (A5) → HAVING (A6/A7) →
    * top-k by rate DESC NULLS LAST (O1). Returns the reference's 7
    * columns: rupture_id, nshm_id, fault_system, magnitude, area, len,
    * rate.
    *
    * @param ignoreZeroBounds opt-in bug-compat with the reference, which
    *   drops a bound of exactly 0.0 via Python truthiness
    *   (query.py:298-311). Default false: a zero bound is a real bound.
    */
  def queryRuptures(
      queryStr: String,
      magnitudeBounds: (Option[Double], Option[Double]) = (None, None),
      rateBounds: (Option[Double], Option[Double]) = (None, None),
      limit: Int = 100,
      faultCountLimit: Option[Int] = None,
      ignoreZeroBounds: Boolean = false): DataFrame = {
    def eff(b: (Option[Double], Option[Double])) =
      if (!ignoreZeroBounds) b
      else (b._1.filter(_ != 0.0), b._2.filter(_ != 0.0))
    val (magnitudeBoundsEff, rateBoundsEff) = (eff(magnitudeBounds), eff(rateBounds))
    val tree = Parser.parse(queryStr)
    val compiled = BoolSetCompiler.compile(tree, col("name"))
    val r = rupture
    var base = r
      .join(ruptureFaults.as("rf"), r("rupture_id") === col("rf.rupture_id"))
      .join(broadcast(fault).as("f"), col("rf.fault_id") === col("f.fault_id"))
      .join(
        broadcast(parentFault).as("pf"),
        col("f.parent_id") === col("pf.parent_id"))
      .filter(r("rate").isNotNull)
    magnitudeBoundsEff._1.foreach(lo => base = base.filter(r("magnitude") >= lo))
    magnitudeBoundsEff._2.foreach(hi => base = base.filter(r("magnitude") <= hi))
    rateBoundsEff._1.foreach(lo => base = base.filter(r("rate") >= lo))
    rateBoundsEff._2.foreach(hi => base = base.filter(r("rate") <= hi))

    val aggCols = Seq(
      max(r("nshm_id")).as("nshm_id"),
      max(r("fault_system")).as("fault_system"),
      max(r("magnitude")).as("magnitude"),
      max(r("area")).as("area"),
      max(r("len")).as("len"),
      max(r("rate")).as("rate"),
      countDistinct(col("pf.parent_id")).as("__n_faults")) ++ compiled.flagCols
    val having = faultCountLimit
      .map(n => col("__n_faults") <= n && compiled.predicate)
      .getOrElse(compiled.predicate)

    base
      .groupBy(r("rupture_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(having)
      .select(("rupture_id" +: "nshm_id" +: "fault_system" +: ruptureMeasures).map(col): _*)
      .orderBy(col("rate").desc_nulls_last)
      .limit(limit)
  }

  /** ≙ NSHMDB.query (nshmdb.py:623-683): run the search, then hydrate ALL
    * result ruptures' fault geometry in one batched join (the reference
    * re-queries per row). Keyed by NSHM rupture id as in the reference.
    */
  def query(
      queryStr: String,
      magnitudeBounds: (Option[Double], Option[Double]) = (None, None),
      rateBounds: (Option[Double], Option[Double]) = (None, None),
      limit: Int = 100,
      faultCountLimit: Option[Int] = None): Map[Long, Rupture] = {
    val rows = queryRuptures(queryStr, magnitudeBounds, rateBounds, limit, faultCountLimit).collect()
    val faultsById = getRupturesFaults(rows.map(_.getLong(0)).toSeq)
    rows.map { row =>
      row.getLong(1) -> ruptureAt(
        row, 3, row.getInt(2), row.getLong(1), faultsById.getOrElse(row.getLong(0), Map.empty))
    }.toMap
  }

  // ------------------------------------------------------ row decoders

  /** The rupture's nullable measures, in [[Rupture]] field order. */
  private val ruptureMeasures = Seq("magnitude", "area", "len", "rate")

  private def ruptureAt(
      row: Row, i: Int, faultSystem: Int, nshmId: Long, faults: Map[String, Fault]): Rupture = {
    def opt(j: Int) = if (row.isNullAt(i + j)) None else Some(row.getDouble(i + j))
    Rupture(faultSystem, nshmId, opt(0), opt(1), opt(2), opt(3), faults)
  }

  /** The ten flattened corner columns of `fault_plane`, in [[Plane.fromFlat]] order. */
  private def planeCols(fp: DataFrame) = Seq(
    "top_left_lat", "top_left_lon", "top_right_lat", "top_right_lon",
    "bottom_right_lat", "bottom_right_lon", "bottom_left_lat", "bottom_left_lon",
    "top_depth", "bottom_depth").map(fp(_))

  private def planeAt(row: Row, i: Int): Plane = {
    def d(j: Int) = row.getDouble(i + j)
    Plane.fromFlat(d(0), d(1), d(2), d(3), d(4), d(5), d(6), d(7), d(8), d(9))
  }

  /** [[FaultInfo]] columns of a `fault` frame joined to `parent_fault` as `p`. */
  private def faultInfoCols(f: DataFrame) =
    Seq(f("fault_system"), f("nshm_id"), col("p.name"), f("rake"), f("tect_type"))

  private def faultInfoAt(r: Row): FaultInfo =
    FaultInfo(
      faultSystem = r.getInt(0),
      faultNshmId = r.getLong(1),
      name = r.getString(2),
      rake = r.getDouble(3),
      tectType = if (r.isNullAt(4)) None else Some(r.getInt(4)))

  // ----------------------------------------------------------- accessors

  /** ≙ get_rupture (nshmdb.py:470-500). */
  def getRupture(faultSystem: Int, ruptureNshmId: Long): Rupture = {
    val row = rupture
      .filter(col("nshm_id") === ruptureNshmId && col("fault_system") === faultSystem)
      .select(("rupture_id" +: ruptureMeasures).map(col): _*)
      .collect()
      .headOption
      .getOrElse(throw new NoSuchElementException(
        s"No rupture with nshm_id = $ruptureNshmId in fault system = $faultSystem"))
    ruptureAt(row, 1, faultSystem, ruptureNshmId, getRuptureFaults(row.getLong(0)))
  }

  /** ≙ get_rupture_faults (nshmdb.py:502-565) — takes the INTERNAL
    * rupture id (the reference's parameter name says nshm but call sites
    * pass internal; kept honest here).
    */
  def getRuptureFaults(ruptureId: Long): Map[String, Fault] =
    getRupturesFaults(Seq(ruptureId)).getOrElse(ruptureId, Map.empty)

  /** Batched hydration: J3 4-way join + per-fault plane assembly (A9) for
    * many ruptures at once. Plane order is made deterministic by sorting
    * on (parent_id, plane_id) ≙ the reference's ORDER BY f.parent_id +
    * SQLite rowid order (nshmdb.py:525).
    */
  def getRupturesFaults(ruptureIds: Seq[Long]): Map[Long, Map[String, Fault]] = {
    if (ruptureIds.isEmpty) return Map.empty
    val fp = faultPlane
    val rows = fp
      .join(ruptureFaults.as("rf"), fp("fault_id") === col("rf.fault_id"))
      .join(broadcast(fault).as("f"), fp("fault_id") === col("f.fault_id"))
      .join(broadcast(parentFault).as("pf"), col("f.parent_id") === col("pf.parent_id"))
      .filter(col("rf.rupture_id").isin(ruptureIds: _*))
      .select(Seq(
        col("rf.rupture_id"), col("f.parent_id"), col("pf.name"),
        col("f.fault_id"), col("f.fault_system"), fp("plane_id")) ++ planeCols(fp): _*)
      .orderBy(col("rf.rupture_id"), col("f.parent_id"), fp("plane_id"))
      .collect()

    val out = scala.collection.mutable.LinkedHashMap.empty[Long, scala.collection.mutable.LinkedHashMap[String, Vector[Plane]]]
    rows.foreach { row =>
      val ruptureId = row.getLong(0)
      val parentName = row.getString(2)
      val faultId = row.getLong(3)
      val faultSystem = row.getInt(4)
      // HACK preserved from the reference (nshmdb.py:556-563): geometries
      // are only connected in the crustal setting, so subduction faults
      // are split per section.
      val faultName =
        if (faultSystem == FaultSystem.Crustal) parentName
        else s"$parentName: Section $faultId"
      val byName = out.getOrElseUpdate(ruptureId, scala.collection.mutable.LinkedHashMap.empty)
      byName(faultName) = byName.getOrElse(faultName, Vector.empty) :+ planeAt(row, 6)
    }
    out.map { case (id, byName) =>
      id -> byName.map { case (n, planes) => n -> Fault(planes) }.toMap
    }.toMap
  }

  /** ≙ get_fault (nshmdb.py:368-415). Corners in WGS (storage space);
    * apply `.toNztm` per plane for the projected view.
    */
  def getFault(faultSystem: Int, faultNshmId: Long): Fault = {
    val fp = faultPlane
    val rows = fp
      .join(broadcast(fault).as("f"), fp("fault_id") === col("f.fault_id"))
      .filter(col("f.nshm_id") === faultNshmId && col("f.fault_system") === faultSystem)
      .select(fp("plane_id") +: planeCols(fp): _*)
      .orderBy(fp("plane_id"))
      .collect()
    Fault(rows.map(planeAt(_, 1)).toVector)
  }

  /** ≙ get_fault_info (nshmdb.py:417-450); throws on a miss like the
    * reference's ValueError.
    */
  def getFaultInfo(faultSystem: Int, faultNshmId: Long): FaultInfo = {
    val f = fault
    f.join(broadcast(parentFault).as("p"), f("parent_id") === col("p.parent_id"))
      .filter(f("fault_system") === faultSystem && f("nshm_id") === faultNshmId)
      .select(faultInfoCols(f): _*)
      .collect()
      .headOption
      .map(faultInfoAt)
      .getOrElse(throw new IllegalArgumentException(
        s"Could not find fault with id = $faultNshmId in fault system = $faultSystem"))
  }

  /** ≙ get_rupture_fault_info (nshmdb.py:567-594). Quirk preserved and
    * documented: filters only on the rupture NSHM id, NOT fault_system
    * (nshmdb.py:589) — ambiguous when the same nshm_id exists in several
    * systems.
    */
  def getRuptureFaultInfo(ruptureNshmId: Long): Map[String, FaultInfo] = {
    val f = fault
    f.join(ruptureFaults.as("rf"), f("fault_id") === col("rf.fault_id"))
      .join(rupture.as("r"), col("r.rupture_id") === col("rf.rupture_id"))
      .join(broadcast(parentFault).as("p"), f("parent_id") === col("p.parent_id"))
      .filter(col("r.nshm_id") === ruptureNshmId)
      .select(faultInfoCols(f): _*)
      .collect()
      .map { r => val info = faultInfoAt(r); info.name -> info }
      .toMap
  }

  /** ≙ get_fault_names (nshmdb.py:596-608). */
  def getFaultNames: Set[String] =
    parentFault.select("name").distinct().collect().map(_.getString(0)).toSet

  /** ≙ get_fault_ids (nshmdb.py:610-621) — NSHM ids, not surrogates. */
  def getFaultIds: Set[Long] =
    fault.select("nshm_id").distinct().collect().map(_.getLong(0)).toSet

  /** ≙ most_likely_fault (nshmdb.py:165-248): pseudo-activity rate per
    * parent fault. F1 magnitude rounding is ceiling-with-clamp (the
    * smallest stored magnitude ≥ target, clamped to the max stored —
    * searchsorted semantics, nshmdb.py:215-221). The dynamic OR-of-pairs
    * predicate (J11) becomes a broadcast lookup-join on (name, magnitude).
    * Input is an ordered Seq ≙ the reference's insertion-ordered dict.
    */
  def mostLikelyFault(
      faultSystem: Int,
      ruptureNshmId: Long,
      parentFaultMagnitudes: Seq[(String, Double)]): Map[String, Double] = {
    import spark.implicits._
    // One plan, one action: the rupture-restricted mfd join is built once;
    // the F1 ceiling-with-clamp snap (nshmdb.py:215-221) is expressed
    // relationally — distinct magnitudes × broadcast targets, then
    // coalesce(min(mag ≥ target), max(mag)) — instead of a separate
    // collect + driver-side searchsorted.
    val base = mfd.as("mfd")
      .join(ruptureFaults.as("rf"), col("rf.fault_id") === col("mfd.fault_id"))
      .join(rupture.as("r"), col("r.rupture_id") === col("rf.rupture_id"))
      .join(broadcast(fault).as("f"), col("f.fault_id") === col("mfd.fault_id"))
      .join(broadcast(parentFault).as("pf"), col("f.parent_id") === col("pf.parent_id"))
      .filter(col("r.nshm_id") === ruptureNshmId && col("r.fault_system") === faultSystem)
      .select(
        col("pf.name").as("pname"),
        col("mfd.magnitude").as("magnitude"),
        col("mfd.rate").as("rate"))

    val targets = parentFaultMagnitudes.toDF("pname", "target")
    val snapped = base
      .select("magnitude")
      .distinct()
      .crossJoin(broadcast(targets))
      .groupBy("pname", "target")
      .agg(coalesce(
        min(when(col("magnitude") >= col("target"), col("magnitude"))),
        max(col("magnitude"))).as("magnitude"))

    base
      .join(broadcast(snapped.select("pname", "magnitude")), Seq("pname", "magnitude"))
      .groupBy("pname")
      .agg(sum(col("rate")).as("rate"))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap
  }

  // ------------------------------------------------------------- inserts

  /** Scale-safe dense surrogate-id allocation (≙ the reference's max+1
    * scheme, nshmdb.py:270-272, keyed by natural order rather than
    * insertion order): range-partition on the natural key so global order
    * holds across partitions, sort within each, then per-partition counts
    * → cumulative offsets → local rank (`zipWithIndex`, the shape SURVEY
    * §7.D prescribes). Replaces `row_number().over(Window.orderBy(...))`,
    * which serialized every insert batch through a single reducer.
    */
  private def appendWithDenseId(
      table: String,
      df: DataFrame,
      idCol: String,
      start: Long,
      orderCols: Seq[String]): Unit = {
    val ordered = df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    // zipWithIndex runs a per-partition count job before the data job, so
    // without a persist the whole upstream plan (anti-join / nshm-id
    // translation joins) would be computed twice per insert batch.
    val orderedRdd = ordered.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val schema = ordered.schema.add(idCol, LongType, nullable = false)
      val rows = orderedRdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (start + i)) }
      store.append(table, spark.createDataFrame(rows, schema))
    } finally orderedRdd.unpersist(blocking = false)
  }

  /** ≙ insert_many_faults (nshmdb.py:250-311): upsert parent faults on
    * their natural key (left-anti join + append, ≙ INSERT OR IGNORE),
    * allocate surrogate fault ids from max+1 (0-based on an empty table —
    * quirk parity with nshmdb.py:270-272), flatten plane corners (F8).
    */
  def insertManyFaults(faults: Seq[FaultInfo]): Unit = {
    import spark.implicits._
    val names = faults.map(_.name).distinct.toDF("name")
    val newNames = names.join(parentFault, Seq("name"), "left_anti")
    val startParent = maxId("parent_fault", "parent_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId("parent_fault", newNames, "parent_id", startParent, Seq("name"))

    val startFault = maxId("fault", "fault_id").map(_ + 1).getOrElse(0L)
    val faultRows = faults.zipWithIndex.map { case (f, i) =>
      (startFault + i, f.faultSystem, f.faultNshmId, f.rake, f.tectType, f.name)
    }.toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "name")
    store.append(
      "fault",
      faultRows
        .join(broadcast(parentFault), Seq("name"))
        .select("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))

    val planeTuples = faults.zipWithIndex.flatMap { case (f, i) =>
      f.fault.toSeq.flatMap(_.planes).map { p =>
        val c = p.corners
        (c(0)(0), c(0)(1), c(1)(0), c(1)(1), c(2)(0), c(2)(1), c(3)(0), c(3)(1),
          p.topDepth, p.bottomDepth, startFault + i)
      }
    }
    if (planeTuples.nonEmpty) {
      val startPlane = maxId("fault_plane", "plane_id").map(_ + 1).getOrElse(1L)
      val planes = planeTuples.zipWithIndex.map { case (t, j) => (startPlane + j, t) }
        .map { case (id, t) => (id, t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9, t._10, t._11) }
        .toDF(
          "plane_id", "top_left_lat", "top_left_lon", "top_right_lat", "top_right_lon",
          "bottom_right_lat", "bottom_right_lon", "bottom_left_lat", "bottom_left_lon",
          "top_depth", "bottom_depth", "fault_id")
      store.append("fault_plane", planes)
    }
  }

  /** ≙ insert_many_ruptures (nshmdb.py:336-366). `ruptures` carries
    * (nshm_id, magnitude, area, len, rate, fault_system); `ruptureFaultsDf`
    * carries NSHM ids (rupture_id, fault_id, fault_system) and is
    * translated to surrogates via left joins (J8/J9).
    */
  def insertManyRuptures(ruptures: DataFrame, ruptureFaultsDf: DataFrame): Unit = {
    val startRupture = maxId("rupture", "rupture_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId(
      "rupture", ruptures, "rupture_id", startRupture, Seq("fault_system", "nshm_id"))

    val renamed = ruptureFaultsDf
      .withColumnRenamed("rupture_id", "rupture_nshm_id")
      .withColumnRenamed("fault_id", "fault_nshm_id")
    val translated = nshmIdToRuptureId(nshmIdToFaultId(renamed))
    val startRf = maxId("rupture_faults", "rupture_fault_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId(
      "rupture_faults",
      translated.select("rupture_id", "fault_id"),
      "rupture_fault_id", startRf, Seq("rupture_id", "fault_id"))
  }

  /** ≙ insert_magnitude_frequency_distribution (nshmdb.py:452-468).
    * `mfds` carries (nshm_id, fault_system, magnitude, rate).
    */
  def insertMfds(mfds: DataFrame): Unit = {
    val translated = nshmIdToFaultId(mfds.withColumnRenamed("nshm_id", "fault_nshm_id"))
    val start = maxId("magnitude_frequency_distribution", "entry_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId(
      "magnitude_frequency_distribution",
      translated.select("fault_id", "magnitude", "rate"),
      "entry_id", start, Seq("fault_id", "magnitude"))
  }

  /** ≙ _nshm_id_to_fault_id (nshmdb.py:313-322): left join on the
    * composite natural key, dimension side broadcast.
    */
  def nshmIdToFaultId(df: DataFrame): DataFrame =
    df.join(
      broadcast(fault.select(
        col("fault_system"), col("nshm_id").as("fault_nshm_id"), col("fault_id"))),
      Seq("fault_system", "fault_nshm_id"),
      "left")

  /** ≙ _nshm_id_to_rupture_id (nshmdb.py:324-334). */
  def nshmIdToRuptureId(df: DataFrame): DataFrame =
    df.join(
      broadcast(rupture.select(
        col("fault_system"), col("nshm_id").as("rupture_nshm_id"), col("rupture_id"))),
      Seq("fault_system", "rupture_nshm_id"),
      "left")

  private def maxId(table: String, idCol: String): Option[Long] = {
    val row = store.table(table).agg(max(col(idCol))).collect()(0)
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }
}

object NshmDb {

  /** F1 rounding (nshmdb.py:215-221): the smallest stored value ≥ target,
    * clamped to the maximum — searchsorted semantics, NOT
    * nearest-neighbor. `sorted` must be ascending and non-empty.
    */
  def ceilingWithClamp(sorted: Array[Double], target: Double): Double = {
    val i = java.util.Arrays.binarySearch(sorted, target)
    val idx = if (i >= 0) i else -(i + 1) // first index with sorted(idx) >= target
    sorted(math.min(idx, sorted.length - 1))
  }

  def inMemory(spark: SparkSession): NshmDb = new NshmDb(new InMemoryNshmStore(spark))
  def open(spark: SparkSession, dir: String): NshmDb = {
    val store = new ParquetNshmStore(spark, dir)
    store.create()
    new NshmDb(store)
  }
}
