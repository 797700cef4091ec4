package graft

import graft.nshm.{Fault, FaultInfo, FaultSystem, Ingest}

class GeoJsonSpec extends SparkSpec {

  private val sectionsJson =
    """{"type": "FeatureCollection", "features": [
      |  {"type": "Feature",
      |   "properties": {"FaultID": 1, "ParentName": "Alpine Fault", "UpDepth": 0.0,
      |                  "LowDepth": 10.0, "DipDeg": 90.0, "Rake": 180.0, "DipDir": null},
      |   "geometry": {"type": "LineString",
      |                "coordinates": [[172.0, -42.0], [172.0, -42.0], [173.0, -42.5], [174.0, -43.0]]}},
      |  {"type": "Feature",
      |   "properties": {"FaultID": 2, "ParentName": "Kakapo", "UpDepth": 2.0,
      |                  "LowDepth": 12.0, "DipDeg": 45.0, "Rake": 90.0, "DipDir": 135.0},
      |   "geometry": {"type": "LineString",
      |                "coordinates": [[171.0, -44.0], [171.5, -44.2]]}}
      |]}""".stripMargin

  test("parseFaultSections: GeoJSON → FaultInfo with planes (S6/F3-F5, api.py:244-277)") {
    val faults = Ingest.parseFaultSectionsJson(spark, sectionsJson)
    assert(faults.map(_.name) === Seq("Alpine Fault", "Kakapo"))
    assert(faults.forall(_.faultSystem === FaultSystem.Crustal))

    val alpine = faults.head
    // repeated first point dropped (F4): 3 distinct points → 2 planes
    assert(alpine.fault.get.planes.length === 2)
    val p = alpine.fault.get.planes.head
    assert(p.topDepth === 0.0 && p.bottomDepth === 10000.0)
    // dip 90: bottom corners directly under top corners (F5 dip_dir → 0)
    assert(math.abs(p.corners(3)(0) - p.corners(0)(0)) < 1e-9)
    assert(math.abs(p.corners(3)(1) - p.corners(0)(1)) < 1e-9)
    // trace stored (lat, lon) from (lon, lat) input
    assert(p.corners(0)(0) === -42.0 && p.corners(0)(1) === 172.0)

    val kakapo = faults(1)
    assert(kakapo.fault.get.planes.length === 1)
    assert(kakapo.rake === 90.0)
    // declared DipDir honored; 45° dip offsets the bottom edge southeast
    val k = kakapo.fault.get.planes.head
    assert(k.corners(3)(0) < k.corners(0)(0)) // south → smaller latitude
    assert(k.corners(3)(1) > k.corners(0)(1)) // east → larger longitude
  }

  test("a section without two distinct trace points fails with one error naming its FaultID") {
    def feature(id: Int, dipDir: String, coords: String) =
      s"""{"type": "Feature",
         | "properties": {"FaultID": $id, "ParentName": "P$id", "UpDepth": 0.0,
         |                "LowDepth": 10.0, "DipDeg": 60.0, "Rake": 90.0, "DipDir": $dipDir},
         | "geometry": {"type": "LineString", "coordinates": $coords}}""".stripMargin
    val good = feature(1, "null", "[[172.0, -42.0], [173.0, -42.5]]")
    // one point and no DipDir: the dip-direction fallback has no segment
    val onePoint = feature(7, "null", "[[171.0, -44.0]]")
    // DipDir given, but a repeated point is still no segment: zero planes
    val repeated = feature(8, "135.0", "[[171.0, -44.0], [171.0, -44.0]]")
    val noTrace = feature(9, "135.0", "null")
    for ((features, named) <- Seq(
        Seq(good, onePoint) -> "FaultID 7",
        Seq(good, repeated) -> "FaultID 8",
        Seq(good, noTrace) -> "FaultID 9",
        Seq(onePoint, good, repeated) -> "FaultID 7, 8")) {
      val json = s"""{"type": "FeatureCollection", "features": [${features.mkString(",")}]}"""
      val e = intercept[IllegalArgumentException](Ingest.parseFaultSectionsJson(spark, json))
      assert(e.getMessage.endsWith(named), e.getMessage)
    }
  }

  test("sections with a null or absent required property fail with one error naming each") {
    val trace = """"geometry": {"type": "LineString", "coordinates": [[172.0, -42.0], [173.0, -42.5]]}"""
    def feature(props: String) = s"""{"type": "Feature", "properties": {$props}, $trace}"""
    val good = feature(""""FaultID": 1, "ParentName": "Alpine Fault", "UpDepth": 0.0,
      "LowDepth": 10.0, "DipDeg": 60.0, "Rake": 90.0, "DipDir": null""")
    val noDepthRake = feature(""""FaultID": 5, "ParentName": "P5", "UpDepth": null,
      "LowDepth": 10.0, "DipDeg": 60.0, "Rake": null""")
    val noId = feature(""""FaultID": null, "ParentName": "P", "UpDepth": 0.0,
      "LowDepth": 10.0, "DipDeg": 60.0, "Rake": 90.0""")
    // a null ParentName would lose its fault row to the insert's name join
    val noName = feature(""""FaultID": 7, "ParentName": null, "UpDepth": 0.0,
      "LowDepth": 10.0, "DipDeg": 60.0, "Rake": 90.0""")
    val noDip = feature(""""FaultID": 8, "ParentName": "P8", "UpDepth": 0.0,
      "LowDepth": 10.0, "Rake": 90.0""")
    for ((features, named) <- Seq(
        Seq(good, noName) -> "FaultID 7 (no ParentName)",
        Seq(good, noDepthRake, noId, noDip) ->
          "FaultID 5 (no UpDepth, Rake); features[2] (no FaultID); FaultID 8 (no DipDeg)")) {
      val json = s"""{"type": "FeatureCollection", "features": [${features.mkString(",")}]}"""
      val e = intercept[IllegalArgumentException](Ingest.parseFaultSectionsJson(spark, json))
      assert(e.getMessage.endsWith(named), e.getMessage)
    }
  }

  test("a property that no feature carries reads as absent: DipDir is inferred, Rake is an error") {
    def collection(props: String) =
      s"""{"type": "FeatureCollection", "features": [{"type": "Feature", "properties": {$props},
         | "geometry": {"type": "LineString",
         |              "coordinates": [[172.0, -42.0], [173.0, -42.5]]}}]}""".stripMargin
    // integral depths and rake read as doubles
    val noDipDir = Ingest.parseFaultSectionsJson(spark, collection(
      """"FaultID": 4, "ParentName": "Awatere", "UpDepth": 0, "LowDepth": 12.5,
        |"DipDeg": 60.0, "Rake": 180""".stripMargin))
    val dipDir = Ingest.inferDipDirection(172.0, -42.0, 173.0, -42.5)
    assert(noDipDir === Seq(FaultInfo(FaultSystem.Crustal, 4L, "Awatere", 180.0, None, Some(Fault(
      Ingest.planesFromTrace(Seq((-42.0, 172.0), (-42.5, 173.0)), 0.0, 12.5, 60.0, dipDir))))))

    val e = intercept[IllegalArgumentException](Ingest.parseFaultSectionsJson(spark, collection(
      """"FaultID": 4, "ParentName": "Awatere", "UpDepth": 0.0, "LowDepth": 12.5, "DipDeg": 60.0""")))
    assert(e.getMessage === "Fault sections missing required properties: FaultID 4 (no Rake)")
  }

  test("fault system inference from the catalogue marker names (api.py:178-198)") {
    assert(Ingest.inferFaultSystem(Ingest.HikurangiName) === FaultSystem.Hikurangi)
    assert(Ingest.inferFaultSystem(Ingest.PuysegurName) === FaultSystem.Puysegur)
    assert(Ingest.inferFaultSystem("Alpine Fault") === FaultSystem.Crustal)
  }

  test("registerViews exposes the tables to spark.sql (S2)") {
    import spark.implicits._
    val db = freshDb()
    db.store.append("parent_fault", Seq((1L, "Alpine Fault")).toDF("parent_id", "name"))
    db.store.append(
      "fault",
      Seq((1L, 3, 1L, 90.0, Option.empty[Int], 1L))
        .toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))
    db.registerViews("v_")
    val got = spark.sql(
      "SELECT p.name FROM v_fault f JOIN v_parent_fault p ON f.parent_id = p.parent_id")
      .collect().map(_.getString(0))
    assert(got.toSeq === Seq("Alpine Fault"))
  }
}
