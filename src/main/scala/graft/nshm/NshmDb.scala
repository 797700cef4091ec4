package graft.nshm

import graft.dsl.{BoolSetCompiler, Parser}
import graft.operators.Checkpoints
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Spark-native equivalent of the reference `NSHMDB` facade
  * (`/root/reference/nshmdb/nshmdb.py:82-683`): one engine (no
  * sqlite-for-writes / duckdb-for-analytics split), queries are Catalyst
  * plans, the DSL compiles to `Column`s (no SQL strings), and the
  * reference's per-result N+1 hydration loop (nshmdb.py:664-683) is one
  * batched round of scans.
  *
  * Scale notes: the fault-model tables (`parent_fault`, `fault`,
  * `fault_plane`: one row per parent, section or plane, thousands whatever
  * the rupture count) are read whole and joined on the driver. A search
  * resolves its atoms against them first and reads only the links of the
  * atoms' faults, deciding on the driver which linked ruptures pass and
  * which fail. Spark then takes the top k by rate of the bounded ruptures
  * that can still qualify; the driver reads the links of those k rows
  * only where a NOT or the fault-count limit needs them, and widens the
  * top k while too few survive (see [[queryRuptures]]). A point lookup is
  * one to three rounds of concurrent scans joined on the driver:
  * `rupture`, `rupture_faults` and `magnitude_frequency_distribution` are
  * read only through a filter on their key that reaches the parquet scan.
  * No search or lookup plan has an exchange. Store relations are resolved
  * once per table version (file listing and schema only; no data or
  * result is cached, every call still scans). Behavioral divergences from
  * the reference (each deliberate, see Scaladoc on the method):
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
    * nshmdb.py:623-663 / query.py:295-338): the ruptures whose set of
    * parent-fault names satisfies the DSL expression, top-k by rate DESC
    * (NaN first, as Spark orders it). Returns the reference's 7 columns:
    * rupture_id, nshm_id, fault_system, magnitude, area, len, rate. A
    * bound of exactly 0.0 is a real bound (the reference drops it via
    * Python truthiness, query.py:298-311).
    *
    * Eager: the search runs here, and the rows come back as a local frame,
    * so collecting it submits no job. Every expression takes one path:
    *  - one round collects `parent_fault` and `fault` and joins them on the
    *    driver; a fault counts, with its parent's name, only if its parent
    *    row exists;
    *  - one scan collects the links to the atoms' faults by fault_id (none
    *    when no atom names a fault). Only a rupture with such a link can
    *    have a non-empty hit set, so the driver decides each of these
    *    ruptures: passing (P) or failing (F); every other rupture's hit
    *    set is empty;
    *  - the pool is the `rupture` rows outside F if the expression holds
    *    on the empty set (e.g. `!(a | b)`), else the rows in P (none left
    *    means no rows and no more scans). The `rate IS NOT NULL` and bound
    *    filters run in the same scan;
    *  - Spark takes the pool's top n by rate (one job, no exchange), from
    *    n = `limit`. A rupture counts only with a link to a fault in the
    *    model (the inner join of the reference's query) and, under
    *    `faultCountLimit`, at most that many distinct parents. Every P row
    *    has such a link, so the links of the top rows are read by
    *    rupture_id only when the expression holds on the empty set or
    *    `faultCountLimit` is set. If fewer than `limit` rows survive from
    *    a full top n, n doubles and the round repeats.
    */
  def queryRuptures(
      queryStr: String,
      magnitudeBounds: (Option[Double], Option[Double]) = (None, None),
      rateBounds: (Option[Double], Option[Double]) = (None, None),
      limit: Int = 100,
      faultCountLimit: Option[Int] = None): DataFrame = {
    require(limit >= 0, s"limit must be >= 0, got $limit")
    val tree = Parser.parse(queryStr)
    val Seq(parents, faults) =
      collectAll(parentFault.select("parent_id", "name"), fault.select("fault_id", "parent_id"))
    // (fault_id, parent_id, name) ≙ fault ⋈ parent_fault
    val names = parents.groupMap(_.getLong(0))(_.getString(1))
    val model = for {
      f <- faults.toSeq
      parentId <- longAt(f, 1).toSeq
      name <- names.getOrElse(parentId, Array.empty[String])
    } yield (f.getLong(0), parentId, name)

    val atoms = BoolSetCompiler.atoms(tree).toSet
    val atomsOf = model.filter(m => atoms(m._3)).groupMapReduce(_._1)(m => Set(m._3))(_ ++ _)
    val hits =
      if (atomsOf.isEmpty) Map.empty[Long, Set[String]]
      else ruptureFaults
        .filter(col("fault_id").isin(atomsOf.keys.toSeq: _*))
        .select("rupture_id", "fault_id")
        .collect()
        .filter(!_.isNullAt(0))
        .groupMapReduce(_.getLong(0))(link => atomsOf(link.getLong(1)))(_ ++ _)
    val (passing, failing) = hits.keys.partition(id => BoolSetCompiler.holds(tree, hits(id)))
    val onEmpty = BoolSetCompiler.holds(tree, _ => false)
    val pool = Seq(
      Some(col("rate").isNotNull),
      magnitudeBounds._1.map(col("magnitude") >= _),
      magnitudeBounds._2.map(col("magnitude") <= _),
      rateBounds._1.map(col("rate") >= _),
      rateBounds._2.map(col("rate") <= _),
      if (!onEmpty) Some(col("rupture_id").isin(passing.toSeq: _*))
      else Option.when(failing.nonEmpty)(!col("rupture_id").isin(failing.toSeq: _*))).flatten
    val ranked = rupture.filter(pool.reduce(_ && _))
      .select(searchColumns.map(col): _*)
      .orderBy(col("rate").desc)

    // the rows with a link to a fault in the model, and at most faultCountLimit distinct parents
    val parentsOf = model.groupMap(_._1)(_._2)
    def counted(found: Array[Row]): Array[Row] =
      if ((!onEmpty && faultCountLimit.isEmpty) || found.isEmpty) found
      else {
        val linked = linksOf(found.map(_.getLong(0)).toSeq).collect().groupMapReduce(_.getLong(0))(
          link => longAt(link, 1).toSet[Long].flatMap(parentsOf.getOrElse(_, Nil)))(_ ++ _)
        found.filter { r =>
          linked.get(r.getLong(0)).exists(ps => ps.nonEmpty && faultCountLimit.forall(ps.size <= _))
        }
      }
    @scala.annotation.tailrec
    def top(n: Int): Array[Row] = {
      val found = ranked.limit(n).collect()
      val kept = counted(found)
      if (kept.length >= limit || found.length < n) kept.take(limit)
      else top(math.min(2L * n, Int.MaxValue).toInt)
    }
    val rows = if (!onEmpty && passing.isEmpty) Array.empty[Row] else top(limit)
    spark.createDataFrame(rows.toSeq.asJava, StructType(searchColumns.map(rupture.schema(_))))
  }

  /** ≙ NSHMDB.query (nshmdb.py:623-683): run the search, then hydrate ALL
    * result ruptures' fault geometry in one batched round (the reference
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

  /** The search's output columns, in order. */
  private val searchColumns = Seq("rupture_id", "nshm_id", "fault_system") ++ ruptureMeasures

  private def ruptureAt(
      row: Row, i: Int, faultSystem: Int, nshmId: Long, faults: Map[String, Fault]): Rupture = {
    def opt(j: Int) = if (row.isNullAt(i + j)) None else Some(row.getDouble(i + j))
    Rupture(faultSystem, nshmId, opt(0), opt(1), opt(2), opt(3), faults)
  }

  /** A `fault_plane` row's ten corner columns, from `i`, in [[Plane.fromFlat]] order. */
  private def planeAt(row: Row, i: Int): Plane = {
    def d(j: Int) = row.getDouble(i + j)
    Plane.fromFlat(d(0), d(1), d(2), d(3), d(4), d(5), d(6), d(7), d(8), d(9))
  }

  /** A `fault` row (schema order) under its parent's name. */
  private def faultInfoAt(f: Row, name: String): FaultInfo =
    FaultInfo(
      faultSystem = f.getInt(1),
      faultNshmId = f.getLong(2),
      name = name,
      rake = f.getDouble(3),
      tectType = if (f.isNullAt(4)) None else Some(f.getInt(4)))

  private def longAt(row: Row, i: Int): Option[Long] =
    if (row.isNullAt(i)) None else Some(row.getLong(i))

  // ------------------------------------------------- key-filtered scans

  /** Collects every frame at once and returns the rows in input order.
    * Each scan runs on a fresh daemon thread: Spark's local properties
    * (job group, description, scheduler pool) are inherited by a thread
    * from the one that creates it, so every scan's jobs carry the
    * caller's; a pooled thread would keep the properties it was created
    * with. The call returns once every scan has finished, and then
    * rethrows the first failure in input order.
    */
  private def collectAll(frames: DataFrame*): Seq[Array[Row]] = {
    val rows = new Array[Array[Row]](frames.length)
    val failures = new Array[Throwable](frames.length)
    val scans = frames.zipWithIndex.map { case (df, i) =>
      val t = new Thread(() =>
        try rows(i) = df.collect()
        catch { case e: Throwable => failures(i) = e },
        s"nshm-scan-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    scans.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
    rows.toSeq
  }

  /** `rupture` rows matching one NSHM id: rupture_id, then the measures. */
  private def ruptureByKey(faultSystem: Option[Int], nshmId: Long): DataFrame = {
    val key = col("nshm_id") === nshmId
    rupture
      .filter(faultSystem.fold(key)(fs => key && col("fault_system") === fs))
      .select(("rupture_id" +: ruptureMeasures).map(col): _*)
  }

  /** (rupture_id, fault_id) rows of the given ruptures; rupture_id is never null. */
  private def linksOf(ruptureIds: Seq[Long]): DataFrame =
    ruptureFaults.filter(col("rupture_id").isin(ruptureIds: _*)).select("rupture_id", "fault_id")

  /** `fault` rows (schema order) with their parent's name, by fault_id:
    * the driver side of `fault ⋈ parent_fault`, so a fault whose parent
    * is absent has no entry.
    */
  private def withParentNames(faults: Array[Row], parents: Array[Row]): Map[Long, (Row, String)] = {
    val names = parents.map(r => r.getLong(0) -> r.getString(1)).toMap
    faults.flatMap(f => longAt(f, 5).flatMap(names.get).map(n => f.getLong(0) -> (f, n))).toMap
  }

  /** Each fault's name: its parent's, or, outside the crustal system,
    * "<parent>: Section <fault_id>". HACK preserved from the reference
    * (nshmdb.py:556-563): geometries are only connected in the crustal
    * setting, so subduction faults are split per section.
    */
  private def sectionName(parentName: String, faultId: Long, faultSystem: Int): String =
    if (faultSystem == FaultSystem.Crustal) parentName else s"$parentName: Section $faultId"

  /** Hydration on the driver (J3 + A9): the links joined to the whole
    * `parent_fault`, `fault` and `fault_plane` reads, planes grouped per
    * fault name. Plane order is (rupture_id, parent_id, plane_id)
    * ≙ the reference's ORDER BY f.parent_id + SQLite rowid order
    * (nshmdb.py:525). A link whose fault, parent or planes are absent
    * adds nothing, as in an inner join.
    */
  private def hydrate(
      links: Array[Row],
      parents: Array[Row],
      faults: Array[Row],
      planes: Array[Row]): Map[Long, Map[String, Fault]] = {
    val named = withParentNames(faults, parents)
    val planesOf = planes.filter(!_.isNullAt(11)).groupBy(_.getLong(11))
    val rows = for {
      link <- links
      faultId <- longAt(link, 1).toSeq
      (f, parentName) <- named.get(faultId).toSeq
      p <- planesOf.getOrElse(faultId, Array.empty[Row])
    } yield
      (link.getLong(0), f.getLong(5), p.getLong(0), sectionName(parentName, faultId, f.getInt(1)), p)
    rows.sortBy(r => (r._1, r._2, r._3)).groupBy(_._1).map { case (id, rs) =>
      id -> rs.groupBy(_._4).map { case (n, ps) => n -> Fault(ps.map(r => planeAt(r._5, 1)).toVector) }
    }
  }

  // ----------------------------------------------------------- accessors

  /** ≙ get_rupture (nshmdb.py:470-500): the rupture by key with the
    * fault-model tables, then its links by rupture_id.
    */
  def getRupture(faultSystem: Int, ruptureNshmId: Long): Rupture = {
    val Seq(found, parents, faults, planes) =
      collectAll(ruptureByKey(Some(faultSystem), ruptureNshmId), parentFault, fault, faultPlane)
    val row = found.headOption.getOrElse(throw new NoSuchElementException(
      s"No rupture with nshm_id = $ruptureNshmId in fault system = $faultSystem"))
    val ruptureId = row.getLong(0)
    val faultsById = hydrate(linksOf(Seq(ruptureId)).collect(), parents, faults, planes)
    ruptureAt(row, 1, faultSystem, ruptureNshmId, faultsById.getOrElse(ruptureId, Map.empty))
  }

  /** ≙ get_rupture_faults (nshmdb.py:502-565) — takes the INTERNAL
    * rupture id (the reference's parameter name says nshm but call sites
    * pass internal; kept honest here).
    */
  def getRuptureFaults(ruptureId: Long): Map[String, Fault] =
    getRupturesFaults(Seq(ruptureId)).getOrElse(ruptureId, Map.empty)

  /** Batched hydration for many ruptures at once, in one round: their
    * `rupture_faults` rows by rupture_id beside the fault-model tables,
    * joined on the driver by [[hydrate]].
    */
  def getRupturesFaults(ruptureIds: Seq[Long]): Map[Long, Map[String, Fault]] = {
    if (ruptureIds.isEmpty) return Map.empty
    val Seq(links, parents, faults, planes) =
      collectAll(linksOf(ruptureIds), parentFault, fault, faultPlane)
    hydrate(links, parents, faults, planes)
  }

  /** ≙ get_fault (nshmdb.py:368-415). Corners in WGS (storage space);
    * apply `.toNztm` per plane for the projected view. Planes are sorted
    * by plane_id on the driver; a missing fault has no planes.
    */
  def getFault(faultSystem: Int, faultNshmId: Long): Fault = {
    val Seq(found, planes) = collectAll(
      fault.filter(col("nshm_id") === faultNshmId && col("fault_system") === faultSystem)
        .select("fault_id"),
      faultPlane)
    val ids = found.map(_.getLong(0)).toSet
    val own = planes.filter(p => longAt(p, 11).exists(ids))
    Fault(own.sortBy(_.getLong(0)).map(planeAt(_, 1)).toVector)
  }

  /** ≙ get_fault_info (nshmdb.py:417-450); throws on a miss like the
    * reference's ValueError.
    */
  def getFaultInfo(faultSystem: Int, faultNshmId: Long): FaultInfo = {
    val Seq(found, parents) = collectAll(
      fault.filter(col("fault_system") === faultSystem && col("nshm_id") === faultNshmId),
      parentFault)
    withParentNames(found, parents).values.headOption
      .map { case (f, name) => faultInfoAt(f, name) }
      .getOrElse(throw new IllegalArgumentException(
        s"Could not find fault with id = $faultNshmId in fault system = $faultSystem"))
  }

  /** ≙ get_rupture_fault_info (nshmdb.py:567-594). Quirk preserved and
    * documented: filters only on the rupture NSHM id, NOT fault_system
    * (nshmdb.py:589) — ambiguous when the same nshm_id exists in several
    * systems. Sections sharing a parent give one entry, the lowest
    * fault_id's.
    */
  def getRuptureFaultInfo(ruptureNshmId: Long): Map[String, FaultInfo] = {
    val Seq(found, parents, faults) =
      collectAll(ruptureByKey(None, ruptureNshmId), parentFault, fault)
    if (found.isEmpty) return Map.empty
    val named = withParentNames(faults, parents)
    val sections = linksOf(found.map(_.getLong(0)).toSeq).collect()
      .flatMap(link => longAt(link, 1).flatMap(named.get))
    sections.groupBy(_._2).map { case (name, fs) =>
      name -> faultInfoAt(fs.map(_._1).minBy(_.getLong(0)), name)
    }
  }

  /** ≙ get_fault_names (nshmdb.py:596-608). */
  def getFaultNames: Set[String] =
    parentFault.select("name").collect().map(_.getString(0)).toSet

  /** ≙ get_fault_ids (nshmdb.py:610-621) — NSHM ids, not surrogates. */
  def getFaultIds: Set[Long] =
    fault.select("nshm_id").collect().map(_.getLong(0)).toSet

  /** ≙ most_likely_fault (nshmdb.py:165-248): pseudo-activity rate per
    * parent fault. At most three rounds of key-filtered scans: the
    * rupture by key with `fault` and `parent_fault`, its links by
    * rupture_id, then the MFD bins of its faults by fault_id (a few
    * hundred rows); the rest runs on the driver, as in the reference.
    * F1 magnitude rounding is [[NshmDb.ceilingWithClamp]] over all the
    * rupture's distinct non-null magnitudes (searchsorted semantics,
    * nshmdb.py:215-221); a parent scores the sum of its non-null rates at
    * its snapped magnitude, and has no entry if it stores no such rate.
    * Input is an ordered Seq of distinct names ≙ the reference's dict.
    */
  def mostLikelyFault(
      faultSystem: Int,
      ruptureNshmId: Long,
      parentFaultMagnitudes: Seq[(String, Double)]): Map[String, Double] = {
    val Seq(found, parents, faults) =
      collectAll(ruptureByKey(Some(faultSystem), ruptureNshmId), parentFault, fault)
    if (found.isEmpty) return Map.empty
    val faultIds = linksOf(found.map(_.getLong(0)).toSeq).collect().flatMap(longAt(_, 1))
    if (faultIds.isEmpty) return Map.empty
    val binsOf = mfd
      .filter(col("fault_id").isin(faultIds.distinct.toSeq: _*) && col("magnitude").isNotNull)
      .select("fault_id", "magnitude", "rate")
      .collect()
      .groupBy(_.getLong(0))
    val named = withParentNames(faults, parents)
    // (parent name, magnitude, rate) per link, as the reference's join
    val bins = for {
      faultId <- faultIds
      (_, name) <- named.get(faultId).toSeq
      bin <- binsOf.getOrElse(faultId, Array.empty[Row])
    } yield (name, bin.getDouble(1), Option.unless(bin.isNullAt(2))(bin.getDouble(2)))
    if (bins.isEmpty) return Map.empty

    val magnitudes = bins.map(_._2).distinct.sorted(Ordering.Double.TotalOrdering)
    val snapped = parentFaultMagnitudes.map { case (name, target) =>
      name -> NshmDb.ceilingWithClamp(magnitudes, target)
    }.toMap
    bins
      .collect { case (name, m, Some(rate)) if snapped.get(name).contains(m) => name -> rate }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  // ------------------------------------------------------------- inserts

  /** Surrogate ids for a `DataFrame` insert (≙ the reference's max+1 scheme,
    * nshmdb.py:270-272, in natural-key order, not insertion order): ids
    * fill field 0 of `Schemas.all(table)` from [[nextId]]. Range-partition
    * and sort on the key, pin lazily, then per-partition sizes → offsets
    * → local rank (SURVEY §7.D). The pin's first action, the size job (or
    * the write, for one partition), scans every partition once, so the
    * upstream joins run once; `zipWithIndex` would not do, as its count
    * job skips the last partition and the pin would backfill it.
    */
  private def appendWithDenseId(table: String, rows: DataFrame, orderCols: Seq[String]): Unit = {
    val start = nextId(table)
    val ordered = Checkpoints.pin(
      rows.repartitionByRange(orderCols.map(col): _*).sortWithinPartitions(orderCols.map(col): _*),
      eager = false)
    val sorted = ordered.rdd
    val offsets =
      if (sorted.getNumPartitions == 1) Array(start)
      else sorted.mapPartitions(it => Iterator(it.size.toLong)).collect().scanLeft(start)(_ + _)
    val withIds = sorted.mapPartitionsWithIndex { (p, it) =>
      it.zip(Iterator.iterate(offsets(p))(_ + 1)).map { case (r, id) => Row.fromSeq(r.toSeq :+ id) }
    }
    val schema = ordered.schema.add(Schemas.all(table).fields(0).name, LongType, nullable = false)
    store.append(table, spark.createDataFrame(withIds, schema))
  }

  /** [[idAfter]] the max of `table`'s id, by one aggregate job. */
  private def nextId(table: String): Long = {
    val row = store.table(table).agg(max(col(Schemas.all(table).fields(0).name))).collect().head
    idAfter(table, Option.unless(row.isNullAt(0))(row.getLong(0)))
  }

  /** max + 1; an empty table starts at 1, `fault` at 0 (the reference's quirk, nshmdb.py:270-272). */
  private def idAfter(table: String, maxId: Option[Long]): Long =
    maxId.fold(if (table == "fault") 0L else 1L)(_ + 1)

  /** ≙ insert_many_faults (nshmdb.py:250-311), on the driver: upsert
    * parent faults on their natural key (≙ INSERT OR IGNORE) against one
    * collect of `parent_fault`, new names in Spark's string order; number
    * faults and planes in input order from [[nextId]]; flatten corners (F8).
    * Each table's rows are written as one file, whatever the core count.
    */
  def insertManyFaults(faults: Seq[FaultInfo]): Unit = {
    import spark.implicits._
    val known = parentFault.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    val added = faults.map(_.name).distinct.filterNot(known.contains).sortBy(UTF8String.fromString)
      .zip(Iterator.iterate(idAfter("parent_fault", known.values.maxOption))(_ + 1))
    if (added.nonEmpty) store.append("parent_fault", added.toDF("name", "parent_id").coalesce(1))
    val parentIds = known ++ added

    val startFault = nextId("fault")
    store.append("fault", faults.zipWithIndex.map { case (f, i) =>
      (startFault + i, f.faultSystem, f.faultNshmId, f.rake, f.tectType, parentIds(f.name))
    }.toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id").coalesce(1))

    val planeRows = faults.zipWithIndex.flatMap { case (f, i) =>
      f.fault.toSeq.flatMap(_.planes).map(p => (p, startFault + i))
    }
    if (planeRows.nonEmpty) {
      val startPlane = nextId("fault_plane")
      store.append("fault_plane", planeRows.zipWithIndex.map { case ((p, faultId), j) =>
        val c = p.corners
        (startPlane + j, c(0)(0), c(0)(1), c(1)(0), c(1)(1), c(2)(0), c(2)(1), c(3)(0), c(3)(1),
          p.topDepth, p.bottomDepth, faultId)
      }.toDF(
        "plane_id", "top_left_lat", "top_left_lon", "top_right_lat", "top_right_lon",
        "bottom_right_lat", "bottom_right_lon", "bottom_left_lat", "bottom_left_lon",
        "top_depth", "bottom_depth", "fault_id").coalesce(1))
    }
  }

  /** ≙ insert_many_ruptures (nshmdb.py:336-366). `ruptures` carries
    * (nshm_id, magnitude, area, len, rate, fault_system); `ruptureFaultsDf`
    * carries NSHM ids (rupture_id, fault_id, fault_system) and is
    * translated to surrogates via left joins (J8/J9).
    */
  def insertManyRuptures(ruptures: DataFrame, ruptureFaultsDf: DataFrame): Unit = {
    appendWithDenseId("rupture", ruptures, Seq("fault_system", "nshm_id"))

    val renamed = ruptureFaultsDf
      .withColumnRenamed("rupture_id", "rupture_nshm_id")
      .withColumnRenamed("fault_id", "fault_nshm_id")
    val translated = nshmIdToRuptureId(nshmIdToFaultId(renamed))
    appendWithDenseId(
      "rupture_faults", translated.select("rupture_id", "fault_id"), Seq("rupture_id", "fault_id"))
  }

  /** ≙ insert_magnitude_frequency_distribution (nshmdb.py:452-468).
    * `mfds` carries (nshm_id, fault_system, magnitude, rate).
    */
  def insertMfds(mfds: DataFrame): Unit = {
    val translated = nshmIdToFaultId(mfds.withColumnRenamed("nshm_id", "fault_nshm_id"))
    appendWithDenseId(
      "magnitude_frequency_distribution",
      translated.select("fault_id", "magnitude", "rate"),
      Seq("fault_id", "magnitude"))
  }

  /** ≙ _nshm_id_to_fault_id (nshmdb.py:313-322): left join on the
    * composite natural key, dimension side broadcast.
    */
  private def nshmIdToFaultId(df: DataFrame): DataFrame =
    df.join(
      broadcast(fault.select(
        col("fault_system"), col("nshm_id").as("fault_nshm_id"), col("fault_id"))),
      Seq("fault_system", "fault_nshm_id"),
      "left")

  /** ≙ _nshm_id_to_rupture_id (nshmdb.py:324-334). */
  private def nshmIdToRuptureId(df: DataFrame): DataFrame =
    df.join(
      broadcast(rupture.select(
        col("fault_system"), col("nshm_id").as("rupture_nshm_id"), col("rupture_id"))),
      Seq("fault_system", "rupture_nshm_id"),
      "left")
}

object NshmDb {

  /** F1 rounding (nshmdb.py:215-221), the snap [[NshmDb.mostLikelyFault]]
    * applies: the smallest stored value ≥ target, clamped to the maximum —
    * searchsorted semantics, NOT nearest-neighbor. `sorted` must be
    * ascending and non-empty.
    */
  def ceilingWithClamp(sorted: Array[Double], target: Double): Double = {
    val i = java.util.Arrays.binarySearch(sorted, target)
    val idx = if (i >= 0) i else -(i + 1) // first index with sorted(idx) >= target
    sorted(math.min(idx, sorted.length - 1))
  }

  /** The one way to get a store: open (creating any missing table) the
    * parquet store under `dir`.
    */
  def open(spark: SparkSession, dir: String): NshmDb = {
    val store = new NshmStore(spark, dir)
    store.create()
    new NshmDb(store)
  }
}
