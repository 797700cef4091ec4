package graft.nshm

/** Domain model ≙ the reference's dataclasses
  * (`/root/reference/nshmdb/nshmdb.py:32-79`) and the external
  * `source_modelling.sources.Fault`/`Plane` geometry objects.
  *
  * Geometry convention: `Plane.corners` is 4 rows of `[lat, lon, depth]` in
  * WGS84 (storage space) ordered TL, TR, BR, BL — the flattened layout of
  * the `fault_plane` table (`/root/reference/nshmdb/schema/schema.sql:20-34`).
  * The NZTM map-projected view is available via [[Nztm]] at the hydration
  * boundary; storage stays WGS exactly as in the reference.
  */
object FaultSystem {
  val Hikurangi = 1
  val Puysegur = 2
  val Crustal = 3
}

/** A depth-aligned quadrilateral fault plane; corners TL,TR,BR,BL as
  * `[lat, lon, depth_m]` (≙ reconstruction at nshmdb.py:406-414).
  */
final case class Plane(corners: Vector[Vector[Double]]) {
  require(corners.length == 4, s"plane needs 4 corners, got ${corners.length}")
  def topDepth: Double = corners(0)(2)
  def bottomDepth: Double = corners(2)(2)
  /** Corners projected to NZTM (y, x, depth). */
  def toNztm: Plane = Plane(corners.map { c =>
    val (n, e) = Nztm.wgsToNztm(c(0), c(1)); Vector(n, e, c(2))
  })
}

object Plane {
  /** ≙ the 10-column flattened storage row → 4×3 corner array
    * (nshmdb.py:406-414): 8 corner lat/lons share the two depths.
    */
  def fromFlat(
      topLeftLat: Double, topLeftLon: Double,
      topRightLat: Double, topRightLon: Double,
      bottomRightLat: Double, bottomRightLon: Double,
      bottomLeftLat: Double, bottomLeftLon: Double,
      topDepth: Double, bottomDepth: Double): Plane =
    Plane(Vector(
      Vector(topLeftLat, topLeftLon, topDepth),
      Vector(topRightLat, topRightLon, topDepth),
      Vector(bottomRightLat, bottomRightLon, bottomDepth),
      Vector(bottomLeftLat, bottomLeftLon, bottomDepth)))
}

/** A fault: an ordered list of planes (≙ source_modelling Fault). */
final case class Fault(planes: Vector[Plane]) {
  /** 4N×3 stacked corner matrix (≙ Fault.corners in the reference tests). */
  def corners: Vector[Vector[Double]] = planes.flatMap(_.corners)
}

/** ≙ Rupture dataclass (nshmdb.py:40-58). Scalars nullable in storage. */
final case class Rupture(
    faultSystem: Int,
    ruptureNshmId: Long,
    magnitude: Option[Double],
    area: Option[Double],
    length: Option[Double],
    rate: Option[Double],
    faults: Map[String, Fault])

/** ≙ FaultInfo dataclass (nshmdb.py:61-79). */
final case class FaultInfo(
    faultSystem: Int,
    faultNshmId: Long,
    name: String,
    rake: Double,
    tectType: Option[Int],
    fault: Option[Fault] = None)
