package graft.nshm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed re-expression of the reference's single-process ETL
  * (`/root/reference/nshmdb/api.py`). The network fetch (GraphQL/zip,
  * api.py:41-176) stays a driver-side shim out of engine scope; members are
  * checked on the driver, CSV members typed by role, then merged as DataFrames.
  *
  * [[mergeSolutionZips]] is the one archive entry point; it parses each
  * group's branch-invariant members once and reads only the rates and
  * MFDs of later archives (≙ api.py:481-485).
  *
  * Scale notes: the reference streams one branch at a time purely to bound
  * memory (comments at api.py:498-505); the union-all + groupBy-sum here
  * gets the same bound from Catalyst partial aggregation and distributes.
  */
object Ingest {

  /** U2 (api.py:314-320): wide MFD table (one column per magnitude bin) →
    * long (nshm_id, magnitude, rate), keeping positive rates. The
    * magnitude arrives as a *column name* string → cast to double.
    */
  def meltMfds(wide: DataFrame, faultSystem: Int, idCol: String = "Section Index"): DataFrame = {
    val magCols = wide.columns.filterNot(_ == idCol)
    wide
      .withColumnRenamed(idCol, "nshm_id")
      .unpivot(
        Array(col("nshm_id")),
        magCols.map(c => col(s"`$c`")),
        "magnitude",
        "rate")
      .withColumn("magnitude", col("magnitude").cast("double"))
      .filter(col("rate") > 0)
      .withColumn("fault_system", lit(faultSystem))
  }

  /** S5/U3 (api.py:362-398): ragged indices CSV text — rows of
    * `rupture_id, n, f1..fn` — to one (rupture_id, fault_id) row per pair.
    * Lines are split and checked once, on the driver (line 1 is a header
    * if its first field is not an integer; trailing empty fields are
    * allowed); one IllegalArgumentException names each malformed line.
    * Spark only explodes the id arrays (≙ np.repeat of ids by counts).
    */
  def parseRaggedIndices(spark: SparkSession, csv: String, faultSystem: Int): DataFrame = {
    import spark.implicits._
    def id(f: String) = f.matches("[0-9]+") && f.toLongOption.nonEmpty
    val parsed = csv.linesIterator.zipWithIndex.collect {
      case (line, i) if line.trim.nonEmpty && !(i == 0 && line.split(",", -1)(0).toLongOption.isEmpty) =>
        val fields = line.split(",", -1).reverse.dropWhile(_.isEmpty).reverse
        val wellFormed = fields.length >= 2 && fields.forall(id) &&
          fields(1).toIntOption.contains(fields.length - 2)
        Either.cond(wellFormed, (fields(0).toLong, fields.drop(2).map(_.toLong)), i + 1)
    }.toSeq
    val badLines = parsed.collect { case Left(n) => n }
    if (badLines.nonEmpty)
      throw new IllegalArgumentException(
        s"$RuptureFaultJoinPath has malformed rows (want rupture_id, n, then n fault ids) " +
          s"at line ${badLines.mkString(", ")}")
    parsed.collect { case Right(row) => row }.toDF("rupture_id", "fault_ids")
      .select(col("rupture_id"), explode(col("fault_ids")).as("fault_id"))
      .withColumn("fault_system", lit(faultSystem))
  }

  /** J10 (api.py:336-360): rupture properties ⋈ annual rates on the
    * rupture index, renamed to storage names.
    */
  def extractRuptures(
      properties: DataFrame,
      rates: DataFrame,
      faultSystem: Int,
      indexCol: String = "Rupture Index"): DataFrame =
    properties
      .join(rates, Seq(indexCol), "left")
      .select(
        col(s"`$indexCol`").cast("long").as("nshm_id"),
        col("`Magnitude`").cast("double").as("magnitude"),
        col("`Area (m^2)`").cast("double").as("area"),
        col("`Length (m)`").cast("double").as("len"),
        col("`Annual Rate`").cast("double").as("rate"))
      .withColumn("fault_system", lit(faultSystem))

  /** A8 (api.py:492-515): weighted logic-tree branch merge. The reference
    * accumulates `rate += wᵢ·rateᵢ` sequentially (memory-streaming
    * artifact); semantically it is union-all of weight-tagged branches →
    * groupBy keys → Σ(w·rate), which distributes with map-side partial
    * aggregation.
    */
  def mergeBranchRates(
      branches: Seq[(Double, DataFrame)],
      keyCols: Seq[String],
      rateCol: String = "rate"): DataFrame = {
    require(branches.nonEmpty, "No branches to merge.")
    branches
      .map { case (w, df) =>
        df.select(keyCols.map(col) :+ (col(rateCol) * lit(w)).as("__wrate"): _*)
      }
      .reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__wrate")).as(rateCol))
  }

  /** One fault system's solution, merged over its weighted branch
    * archives (≙ NSHMSolution, api.py:432-452).
    */
  final case class Solution(
      faults: Seq[FaultInfo],
      ruptureProperties: DataFrame,
      ruptureJoinTable: DataFrame,
      mfds: Option[DataFrame],
      faultSystem: Int)

  /** Zip-member names inside a branch solution archive
    * (≙ api.py:31-35).
    */
  val FaultInformationPath = "ruptures/fault_sections.geojson"
  val RuptureFaultJoinPath = "ruptures/indices.csv"
  val RuptureRatesPath = "solution/rates.csv"
  val RupturePropertiesPath = "ruptures/properties.csv"
  val MfdsPath = "ruptures/sub_seismo_on_fault_mfds.csv"

  /** Members every branch archive must carry; the MFD member is optional. */
  private val RequiredMembers: Seq[String] =
    Seq(FaultInformationPath, RuptureFaultJoinPath, RuptureRatesPath, RupturePropertiesPath)

  /** The columns each CSV member must carry, its index first; the MFD member's others are magnitudes. */
  private val MemberColumns: Map[String, Seq[String]] = Map(
    RupturePropertiesPath -> Seq("Rupture Index", "Magnitude", "Area (m^2)", "Length (m)"),
    RuptureRatesPath -> Seq("Rupture Index", "Annual Rate"),
    MfdsPath -> Seq("Section Index"))

  /** Checks by entry name that archive `path` carries every required
    * member, then reads the members named in `read` that it carries.
    */
  private def readZipMembers(path: String, read: Set[String]): Map[String, String] = {
    val zf =
      try new java.util.zip.ZipFile(path)
      catch {
        case e: java.util.zip.ZipException =>
          throw new IllegalArgumentException(s"Branch archive $path is not a zip file", e)
      }
    try {
      val missing = RequiredMembers.filter(zf.getEntry(_) == null)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"Branch archive $path is missing ${missing.mkString(", ")}")
      read.flatMap(name => Option(zf.getEntry(name))).map { e =>
        e.getName -> new String(zf.getInputStream(e).readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      }.toMap
    } finally zf.close()
  }

  /** CSV member `name` of archive `path`, read with no job and checked on
    * the driver: one IllegalArgumentException names each column of
    * [[MemberColumns]] it lacks and each MFD magnitude that is not a number.
    * Types are declared: the index LONG, other required columns and magnitudes DOUBLE, the rest STRING.
    */
  private def csvMember(spark: SparkSession, path: String, members: Map[String, String], name: String): DataFrame = {
    import spark.implicits._
    val df = spark.read.option("header", true).csv(spark.createDataset(members(name).linesIterator.toSeq))
    val required = MemberColumns(name)
    val bad = required.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c))).map(c => s"no '$c'") ++
      df.columns.filter(c => name == MfdsPath && !required.contains(c) && c.toDoubleOption.isEmpty)
        .map(c => s"magnitude '$c' is not a number")
    if (bad.nonEmpty)
      throw new IllegalArgumentException(s"Branch archive $path: $name has bad columns: ${bad.mkString(", ")}")
    def declared(c: String) = if (c.equalsIgnoreCase(required.head)) "long"
      else if (name == MfdsPath || required.exists(_.equalsIgnoreCase(c))) "double" else "string"
    df.select(df.columns.map(c => col(s"`$c`").cast(declared(c)).as(c)).toSeq: _*)
  }

  /** Weighted merge of the branch archives of ONE fault system
    * (≙ _merge_branches, api.py:455-529). The branch-invariant members,
    * GeoJSON faults (S6/F3-F5), the ragged join table (S5/U3) and the
    * rupture properties, are parsed once, from the first archive
    * (≙ api.py:472-485). Every archive gives only its rates and MFDs,
    * merged as Σ(wᵢ·rateᵢ) by [[mergeBranchRates]] (A8); the properties
    * take the merged rates in one [[extractRuptures]] (S4/J10). A later
    * archive's other members are checked by name but not read, so
    * malformed content there is not reported, as in the reference.
    * Hikurangi/Puysegur archives carry no MFD member → None.
    */
  def mergeSolutionZips(spark: SparkSession, branches: Seq[(Double, String)]): Solution = {
    require(branches.nonEmpty, "No branches to merge.")
    val firstPath = branches.head._2
    val first = readZipMembers(firstPath, RequiredMembers.toSet + MfdsPath)
    val faults = parseFaultSectionsJson(spark, first(FaultInformationPath))
    val faultSystem =
      if (faults.isEmpty) FaultSystem.Crustal else faults.head.faultSystem
    val joinTable =
      try parseRaggedIndices(spark, first(RuptureFaultJoinPath), faultSystem)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"Branch archive $firstPath: ${e.getMessage}", e)
      }
    val properties = csvMember(spark, firstPath, first, RupturePropertiesPath)
    val withMfds = first.contains(MfdsPath)
    val rated = branches.map { case (w, path) =>
      val members = if (path == firstPath) first else readZipMembers(path, Set(RuptureRatesPath, MfdsPath))
      if (withMfds && !members.contains(MfdsPath))
        throw new IllegalArgumentException(
          s"Branch archive $path is missing $MfdsPath, which the first archive of its group has")
      (w, csvMember(spark, path, members, RuptureRatesPath),
        Option.when(withMfds)(meltMfds(csvMember(spark, path, members, MfdsPath), faultSystem)))
    }
    val rates = mergeBranchRates(rated.map { case (w, r, _) => (w, r) }, Seq("Rupture Index"), "Annual Rate")
    val mfds = Option.when(withMfds)(mergeBranchRates(
      rated.map { case (w, _, m) => (w, m.get) }, Seq("nshm_id", "magnitude", "fault_system")))
    Solution(faults, extractRuptures(properties, rates, faultSystem), joinTable, mfds, faultSystem)
  }

  /** Stack per-system solutions and load them into a database
    * (≙ download_composite_solution minus the network fetch,
    * api.py:595-622 + nshm_db_generator.py:81-94).
    */
  def loadComposite(
      db: NshmDb,
      systems: Seq[Solution],
      skipFaults: Boolean = false,
      skipRuptures: Boolean = false,
      skipMfds: Boolean = false): Unit = {
    require(systems.nonEmpty, "No solutions to stack.")
    systems.foreach { s =>
      if (!skipFaults) db.insertManyFaults(s.faults)
      if (!skipRuptures)
        db.insertManyRuptures(
          s.ruptureProperties.select("nshm_id", "magnitude", "area", "len", "rate", "fault_system"),
          s.ruptureJoinTable.select(
            col("rupture_id"), col("fault_id"), col("fault_system")))
      if (!skipMfds)
        s.mfds.foreach(m => db.insertMfds(m.select("nshm_id", "fault_system", "magnitude", "rate")))
    }
  }

  /** Fault-system inference from the parent name of the first feature
    * (≙ infer_fault_system, api.py:178-198; the marker names are data
    * constants from the public NSHM 2022 fault-section catalogue).
    */
  val HikurangiName =
    "Hikurangi, Kermadec to Louisville ridge, 30km - with slip deficit smoothed near East Cape and locked near trench."
  val PuysegurName = "Puysegur, 15km, 50% coupling, corrected dip direction"

  def inferFaultSystem(firstParentName: String): Int = firstParentName match {
    case HikurangiName => FaultSystem.Hikurangi
    case PuysegurName => FaultSystem.Puysegur
    case _ => FaultSystem.Crustal
  }

  /** The part of a fault-sections GeoJSON member that
    * [[parseFaultSectionsJson]] reads: ids as BIGINT, depths, angles and
    * coordinates as DOUBLE.
    */
  private val FaultSectionsSchema: String =
    "features ARRAY<STRUCT<" +
      "properties: STRUCT<FaultID: BIGINT, ParentName: STRING, UpDepth: DOUBLE, LowDepth: DOUBLE, " +
      "DipDeg: DOUBLE, Rake: DOUBLE, DipDir: DOUBLE>, " +
      "geometry: STRUCT<coordinates: ARRAY<ARRAY<DOUBLE>>>>>"

  /** S6 (api.py:244-277,475-476): fault_sections.geojson
    * FeatureCollection text → FaultInfo list with plane geometry. Parsed
    * with `spark.read.json` + explode (distributed); the result is
    * collected at the API boundary exactly like the reference returns a
    * Python list. The read declares [[FaultSectionsSchema]], so no
    * inference pass runs, a property no feature carries reads as null, and
    * a value of another type fails the read. Coordinates arrive (lon, lat); dip direction falls back
    * to the trace azimuth + 90 when `DipDir` is absent (F3), consecutive
    * duplicate trace points are dropped (F4), and planes are constructed
    * per trace segment (F5) with dip_dir forced to 0 at dip == 90. Bad
    * features fail the parse on the driver, one IllegalArgumentException
    * naming each: first a null required property (by FaultID, else the
    * `features[i]` index), then a trace of under two distinct points.
    */
  def parseFaultSectionsJson(spark: SparkSession, json: String): Seq[FaultInfo] = {
    import spark.implicits._
    val raw = spark.read.schema(FaultSectionsSchema).option("mode", "FAILFAST")
      .json(spark.createDataset(Seq(json)))
    val required = Seq("FaultID", "ParentName", "UpDepth", "LowDepth", "DipDeg", "Rake")
    // F3-F5 are pure per-row trig — they run distributed inside the map;
    // only the finished corner arrays cross the .collect() API boundary
    // (the reference returns a Python list, api.py:244-277).
    val built = raw
      .select(posexplode(col("features")).as(Seq("i", "f")))
      .select(
        col("f.properties.FaultID").as("fault_id"),
        col("f.properties.ParentName").as("name"),
        col("f.properties.UpDepth").as("top_km"),
        col("f.properties.LowDepth").as("bottom_km"),
        col("f.properties.DipDeg").as("dip"),
        col("f.properties.Rake").as("rake"),
        col("f.properties.DipDir").as("dip_dir"),
        col("f.geometry.coordinates").as("coords"),
        col("i"))
      .map { r =>
        // Row's primitive getters throw on null: columns 0-5 are flagged, not read
        val missing = required.zipWithIndex.collect { case (p, j) if r.isNullAt(j) => p }
        val lonLat =
          if (r.isNullAt(7)) Seq.empty
          else r.getSeq[scala.collection.Seq[Double]](7).map(p => (p(0), p(1))).toSeq
        val trace = removeRepeatedPoints(lonLat).map { case (lon, lat) => (lat, lon) }
        // a trace without a segment has no planes: None, rejected below
        val corners = Option.when(missing.isEmpty && trace.length >= 2) {
          val dipDir =
            if (!r.isNullAt(6)) r.getDouble(6)
            else inferDipDirection(lonLat(0)._1, lonLat(0)._2, lonLat(1)._1, lonLat(1)._2)
          planesFromTrace(trace, r.getDouble(2), r.getDouble(3), r.getDouble(4), dipDir)
            .map(_.corners.map(_.toSeq).toSeq)
        }
        val id = Option.unless(r.isNullAt(0))(r.getLong(0))
        (r.getInt(8), id, r.getString(1), if (missing.isEmpty) r.getDouble(5) else 0.0, missing, corners)
      }
      .collect()
    val incomplete = built.collect { case (i, id, _, _, missing, _) if missing.nonEmpty =>
      s"${id.fold(s"features[$i]")(n => s"FaultID $n")} (no ${missing.mkString(", ")})"
    }
    if (incomplete.nonEmpty)
      throw new IllegalArgumentException(
        s"Fault sections missing required properties: ${incomplete.mkString("; ")}")
    val traceless = built.collect { case (_, id, _, _, _, None) => id.get }
    if (traceless.nonEmpty)
      throw new IllegalArgumentException(
        "Fault sections with fewer than two distinct trace points have no plane: " +
          s"FaultID ${traceless.mkString(", ")}")
    if (built.isEmpty) return Seq.empty
    val faultSystem = inferFaultSystem(built.head._3)
    built.toSeq.map { case (_, id, name, rake, _, corners) =>
      FaultInfo(
        faultSystem = faultSystem,
        faultNshmId = id.get,
        name = name,
        rake = rake,
        tectType = None,
        fault = Some(Fault(corners.get.map(c => Plane(c.map(_.toVector).toVector)).toVector)))
    }
  }

  /** F3 (api.py:201-220): forward azimuth start→end + 90°, in [0, 360).
    * Spherical great-circle azimuth (the reference uses an ellipsoidal
    * geodesic; difference is negligible at trace-segment scale).
    * Inputs/outputs in degrees; points are (lon, lat) like the reference.
    */
  def inferDipDirection(startLon: Double, startLat: Double, endLon: Double, endLat: Double): Double = {
    val phi1 = math.toRadians(startLat)
    val phi2 = math.toRadians(endLat)
    val dLon = math.toRadians(endLon - startLon)
    val azimuth = math.toDegrees(math.atan2(
      math.sin(dLon) * math.cos(phi2),
      math.cos(phi1) * math.sin(phi2) - math.sin(phi1) * math.cos(phi2) * math.cos(dLon)))
    ((azimuth + 90) % 360 + 360) % 360
  }

  /** F4 (api.py:250-263): drop consecutive duplicate trace points. */
  def removeRepeatedPoints(trace: Seq[(Double, Double)]): Seq[(Double, Double)] =
    trace.foldLeft(Vector.empty[(Double, Double)]) { (acc, p) =>
      if (acc.nonEmpty && acc.last == p) acc else acc :+ p
    }

  /** F5 (api.py:268-277): build depth-aligned planes from consecutive
    * WGS trace points. Top edge follows the trace at `topKm`; the bottom
    * edge is offset horizontally by (bottom−top)/tan(dip) km in the dip
    * direction (dip direction forced to 0 when dip == 90, ≙ api.py:276).
    * Returns WGS-corner planes (storage space).
    */
  def planesFromTrace(
      trace: Seq[(Double, Double)], // (lat, lon)
      topKm: Double,
      bottomKm: Double,
      dipDeg: Double,
      dipDirDeg: Double): Vector[Plane] = {
    val effDipDir = if (dipDeg == 90.0) 0.0 else dipDirDeg
    val widthKm =
      if (dipDeg == 90.0) 0.0 else (bottomKm - topKm) / math.tan(math.toRadians(dipDeg))
    val dirRad = math.toRadians(effDipDir)
    // offset in metres: north component cos(dir), east component sin(dir)
    val dN = widthKm * 1000.0 * math.cos(dirRad)
    val dE = widthKm * 1000.0 * math.sin(dirRad)
    trace.sliding(2).collect { case Seq((lat1, lon1), (lat2, lon2)) =>
      val (n1, e1) = Nztm.wgsToNztm(lat1, lon1)
      val (n2, e2) = Nztm.wgsToNztm(lat2, lon2)
      val (bl1Lat, bl1Lon) = Nztm.nztmToWgs(n1 + dN, e1 + dE)
      val (bl2Lat, bl2Lon) = Nztm.nztmToWgs(n2 + dN, e2 + dE)
      Plane(Vector(
        Vector(lat1, lon1, topKm * 1000),
        Vector(lat2, lon2, topKm * 1000),
        Vector(bl2Lat, bl2Lon, bottomKm * 1000),
        Vector(bl1Lat, bl1Lon, bottomKm * 1000)))
    }.toVector
  }
}
