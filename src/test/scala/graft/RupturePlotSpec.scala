package graft

import graft.nshm.{Fault, Plane, RupturePlot}
import java.nio.file.{Files, Paths}

/** S10 plot sink (≙ reference `nshmdb/plotting/rupture.py:18-49`): the
  * engine owns the plot MODEL — padded region, ring closure, polygon
  * features — as GeoJSON; the raster render is the documented stub.
  */
class RupturePlotSpec extends SparkSpec {

  private def plane(lat0: Double, lon0: Double): Plane = Plane.fromFlat(
    topLeftLat = lat0, topLeftLon = lon0,
    topRightLat = lat0, topRightLon = lon0 + 0.2,
    bottomRightLat = lat0 - 0.1, bottomRightLon = lon0 + 0.2,
    bottomLeftLat = lat0 - 0.1, bottomLeftLon = lon0,
    topDepth = 0.0, bottomDepth = 12000.0)

  private val faults = Map(
    "Alpine" -> Fault(Vector(plane(-42.0, 172.0), plane(-42.1, 172.2))),
    "Kakapo" -> Fault(Vector(plane(-44.0, 171.0))))

  test("region: stacked-corner extent padded lon ±0.5, lat ±0.25 (rupture.py:31-36)") {
    val r = RupturePlot.region(faults.values)
    // lons span [171.0, 172.2+0.2], lats span [-44.1, -42.0]; expectations
    // use the same float arithmetic the corner construction does
    assert(r.lonMin === 171.0 - 0.5 && r.lonMax === (172.2 + 0.2) + 0.5)
    assert(r.latMin === -44.1 - 0.25 && r.latMax === -42.0 + 0.25)
  }

  test("featureCollection: one closed polygon per plane, reference styling") {
    val fc = RupturePlot.featureCollection("rupture 7", faults)
    import spark.implicits._
    val parsed = spark.read.json(spark.createDataset(Seq(fc)))
    val feats = parsed.selectExpr("explode(features) AS f")
      .selectExpr("f.properties.fault AS fault", "f.properties.plane AS plane",
        "f.properties.fill AS fill", "f.geometry.type AS gtype",
        "f.geometry.coordinates AS coords")
      .collect()
    assert(feats.length === 3) // 2 Alpine planes + 1 Kakapo plane
    assert(feats.forall(_.getAs[String]("gtype") == "Polygon"))
    assert(feats.forall(_.getAs[String]("fill") == "red"))
    // ring closure: 5 positions, first == last (rupture.py:43-44)
    val rings = feats.map(_.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](4).head)
    assert(rings.forall(_.length == 5))
    assert(rings.forall(r => r.head == r.last))
    // positions are (lon, lat): Alpine plane 0's TL corner is (172.0, -42.0)
    val alpine0 = feats.find(r => r.getAs[String]("fault") == "Alpine" &&
      r.getAs[Long]("plane") == 0L).get
    val tl = alpine0.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](4).head.head
    assert(tl(0) === 172.0 && tl(1) === -42.0)
    // bbox is [w, s, e, n] of the padded region
    val bbox = parsed.selectExpr("bbox").collect().head.getSeq[Double](0)
    assert(bbox === Seq(170.5, -44.35, (172.2 + 0.2) + 0.5, -41.75))
  }

  test("plotRupture: writes the .geojson plot model next to the raster path (S10 stub)") {
    val dir = Paths.get(SparkSpec.tempDir("rupture_plot"))
    val out = RupturePlot.plotRupture("t", faults, dir.resolve("rupture_7.png"))
    assert(out === dir.resolve("rupture_7.geojson"))
    val fc = Files.readString(out)
    assert(fc.contains("\"type\":\"FeatureCollection\""))
    // the model re-ingests through the engine's own GeoJSON reader path
    import spark.implicits._
    val n = spark.read.json(spark.createDataset(Seq(fc)))
      .selectExpr("size(features)").collect().head.getInt(0)
    assert(n === 3)
  }
}
