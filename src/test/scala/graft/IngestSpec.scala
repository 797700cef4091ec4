package graft

import graft.nshm.{Ingest, FaultSystem}
import org.apache.spark.sql.functions._

/** ETL transforms ≙ /root/reference/nshmdb/api.py (melt U2, ragged
  * indices S5/U3, props⋈rates J10, weighted merge A8, stacking U1).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("meltMfds: wide→long, magnitude from column name, positive rates only (≙ api.py:314-320)") {
    val wide = Seq((1L, 0.5, 0.0, 0.25), (2L, 0.0, 0.1, 0.0))
      .toDF("Section Index", "6.5", "6.75", "7.0")
    val got = Ingest.meltMfds(wide, FaultSystem.Crustal)
      .orderBy("nshm_id", "magnitude")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq === Seq(
      (1L, 6.5, 0.5, 3), (1L, 7.0, 0.25, 3), (2L, 6.75, 0.1, 3)))
  }

  test("parseRaggedIndices: variable-arity rows explode to pairs (≙ api.py:362-398)") {
    val rows = Seq("0,3,10,11,12", "1,1,20", "2,2,30,31")
    // line 1 is a header only when its first field is not an integer
    val header = "Rupture Index,Num Sections,# 1,# 2,# 3"
    for (csv <- Seq(header +: rows, rows).map(_.mkString("\n"))) {
      val got = Ingest.parseRaggedIndices(spark, csv, FaultSystem.Hikurangi)
        .orderBy("rupture_id", "fault_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === Seq(
        (0L, 10L), (0L, 11L), (0L, 12L), (1L, 20L), (2L, 30L), (2L, 31L)))
    }
  }

  test("extractRuptures: props left-join rates with storage names (≙ api.py:336-360)") {
    val props = Seq((0L, 6.5, 1.0e8, 1.0e4), (1L, 7.0, 2.0e8, 2.0e4))
      .toDF("Rupture Index", "Magnitude", "Area (m^2)", "Length (m)")
    val rates = Seq((0L, 0.01)).toDF("Rupture Index", "Annual Rate")
    val got = Ingest.extractRuptures(props, rates, FaultSystem.Crustal)
      .orderBy("nshm_id").collect()
    assert(got.length === 2)
    assert(got(0).getDouble(4) === 0.01)
    assert(got(1).isNullAt(4)) // missing rate stays NULL through the left join
  }

  test("mergeBranchRates: Σ(w·rate) across branches ≡ sequential accumulation (≙ api.py:492-515)") {
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("nshm_id", "rate")
    val b2 = Seq((1L, 100.0), (2L, 200.0)).toDF("nshm_id", "rate")
    val got = Ingest.mergeBranchRates(Seq((0.25, b1), (0.75, b2)), Seq("nshm_id"))
      .orderBy("nshm_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq((1L, 0.25 * 10 + 0.75 * 100), (2L, 0.25 * 20 + 0.75 * 200)))
  }

  test("inferDipDirection: strike azimuth + 90 in [0, 360) (≙ api.py:201-220)") {
    // due-north strike → dip direction east (90°)
    val dd = Ingest.inferDipDirection(173.0, -43.0, 173.0, -42.0)
    assert(math.abs(dd - 90.0) < 1.0, s"got $dd")
    // due-south strike → dip direction west (270°)
    val dd2 = Ingest.inferDipDirection(173.0, -42.0, 173.0, -43.0)
    assert(math.abs(dd2 - 270.0) < 1.0, s"got $dd2")
  }

  test("removeRepeatedPoints drops consecutive duplicates only (≙ api.py:250-263)") {
    assert(Ingest.removeRepeatedPoints(
      Seq((1.0, 2.0), (1.0, 2.0), (3.0, 4.0), (1.0, 2.0))) ===
      Seq((1.0, 2.0), (3.0, 4.0), (1.0, 2.0)))
  }

  test("planesFromTrace: vertical dip keeps bottom under top; depths in metres (≙ api.py:268-277)") {
    val planes = Ingest.planesFromTrace(
      Seq((-42.0, 172.0), (-42.0, 173.0), (-42.0, 174.0)), 0.0, 10.0, 90.0, 45.0)
    assert(planes.length === 2)
    val p = planes.head
    assert(p.topDepth === 0.0 && p.bottomDepth === 10000.0)
    // dip 90 forces dip_dir 0 and zero horizontal offset: corners align
    assert(math.abs(p.corners(3)(0) - p.corners(0)(0)) < 1e-9)
    assert(math.abs(p.corners(3)(1) - p.corners(0)(1)) < 1e-9)
  }

  test("planesFromTrace: 45-degree dip offsets bottom edge in the dip direction") {
    val planes = Ingest.planesFromTrace(
      Seq((-42.0, 172.0), (-42.0, 173.0)), 0.0, 10.0, 45.0, 90.0) // dips due east
    val p = planes.head
    // bottom-left sits ~10 km east of top-left at 45°: longitude grows
    assert(p.corners(3)(1) > p.corners(0)(1))
    // and latitude barely moves
    assert(math.abs(p.corners(3)(0) - p.corners(0)(0)) < 0.01)
  }
}
