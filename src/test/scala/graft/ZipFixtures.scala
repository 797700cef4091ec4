package graft

import graft.nshm.Ingest
import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Branch-archive fixtures shared by ZipIngestSpec (local-file path)
  * and SourcesSpec (loopback-HTTP path) — FIXTURES.md §1.3 member
  * formats.
  */
object ZipFixtures {

  val geojson: String =
    """{"type":"FeatureCollection","features":[
      |{"type":"Feature","properties":{"FaultID":1,"ParentName":"Alpine Fault","UpDepth":0.0,
      |"LowDepth":10.0,"DipDeg":90.0,"Rake":180.0,"DipDir":null},
      |"geometry":{"type":"LineString","coordinates":[[172.0,-42.0],[173.0,-42.5]]}},
      |{"type":"Feature","properties":{"FaultID":2,"ParentName":"Kakapo","UpDepth":0.0,
      |"LowDepth":12.0,"DipDeg":60.0,"Rake":90.0,"DipDir":45.0},
      |"geometry":{"type":"LineString","coordinates":[[171.0,-44.0],[171.5,-44.2]]}}
      |]}""".stripMargin

  /** The two ruptures' ragged rows: 0 on faults 1 and 2, 1 on fault 2. */
  val twoRuptureIndices: String =
    """Rupture Index,Num Sections,# 1,# 2
      |0,2,1,2
      |1,1,2""".stripMargin

  /** Writes a branch archive; members named in `omit` are left out, and
    * those in `overrides` carry the given content. The archive is named
    * after its fresh directory, so every archive's file name is unique
    * (SourcesSpec serves archives by file name).
    */
  def writeBranchZip(
      rate0: Double,
      rate1: Double,
      mfdRate: Double,
      omit: Set[String] = Set.empty,
      overrides: Map[String, String] = Map.empty): String = {
    val dir = java.nio.file.Paths.get(SparkSpec.tempDir("branch_"))
    val path = dir.resolve(s"${dir.getFileName}.zip").toString
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def member(name: String, content: String): Unit =
      if (!omit.contains(name)) {
        zos.putNextEntry(new ZipEntry(name))
        zos.write(overrides.getOrElse(name, content).getBytes("UTF-8"))
        zos.closeEntry()
      }
    member(Ingest.FaultInformationPath, geojson)
    member(Ingest.RupturePropertiesPath,
      s"""Rupture Index,Magnitude,Area (m^2),Length (m)
         |0,6.5,1.0e8,1.0e4
         |1,7.0,2.0e8,2.0e4""".stripMargin)
    member(Ingest.RuptureRatesPath,
      s"""Rupture Index,Annual Rate
         |0,$rate0
         |1,$rate1""".stripMargin)
    member(Ingest.RuptureFaultJoinPath, twoRuptureIndices)
    member(Ingest.MfdsPath,
      s"""Section Index,6.5,7.0
         |1,$mfdRate,0.0
         |2,0.0,${mfdRate / 2}""".stripMargin)
    zos.close()
    path
  }
}
