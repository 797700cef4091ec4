package graft

import graft.nshm.{FaultSystem, Ingest, NshmDb}
import graft.ZipFixtures.writeBranchZip

/** End-to-end composite-solution ingestion from branch zip archives
  * (≙ api.py download path minus the network fetch; FIXTURES.md §1.3
  * member formats).
  */
class ZipIngestSpec extends SparkSpec {

  test("composite build: two weighted branches merge, stack, and load (≙ api.py:455-622)") {
    val z1 = writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4)
    val z2 = writeBranchZip(rate0 = 0.03, rate1 = 0.004, mfdRate = 0.8)

    val merged = Ingest.mergeSolutionZips(spark, Seq((0.25, z1), (0.75, z2)))
    assert(merged.faultSystem === FaultSystem.Crustal)
    assert(merged.faults.map(_.name) === Seq("Alpine Fault", "Kakapo"))

    // weighted rates: 0.25·r1 + 0.75·r2
    val rates = merged.ruptureProperties.orderBy("nshm_id")
      .select("rate").collect().map(_.getDouble(0))
    assert(math.abs(rates(0) - (0.25 * 0.01 + 0.75 * 0.03)) < 1e-12)
    assert(math.abs(rates(1) - (0.25 * 0.002 + 0.75 * 0.004)) < 1e-12)

    // positive-rate filter kept only the nonzero melted cells
    val mfds = merged.mfds.get.orderBy("nshm_id", "magnitude").collect()
    assert(mfds.length === 2)

    val db = NshmDb.inMemory(spark)
    Ingest.loadComposite(db, Seq(merged))
    assert(db.getFaultNames === Set("Alpine Fault", "Kakapo"))
    assert(db.store.table("rupture").count() === 2)
    assert(db.store.table("rupture_faults").count() === 3)

    // and the DSL query works over the loaded composite
    val hits = db.query("Alpine Fault & Kakapo")
    assert(hits.keySet === Set(0L))
    val only = db.query("Kakapo & !Alpine Fault")
    assert(only.keySet === Set(1L))
  }

  test("malformed branch archive fails with one error naming the path and missing member") {
    val z = writeBranchZip(0.01, 0.002, 0.4, omit = Set(Ingest.RuptureFaultJoinPath))
    val e = intercept[IllegalArgumentException](Ingest.loadSolutionZip(spark, z))
    assert(e.getMessage.contains(z))
    assert(e.getMessage.contains(Ingest.RuptureFaultJoinPath))
    assert(!e.getMessage.contains(Ingest.RuptureRatesPath))

    val notZip = java.nio.file.Files.createTempFile("branch", ".zip")
    java.nio.file.Files.writeString(notZip, "not a zip")
    val e2 = intercept[IllegalArgumentException](Ingest.loadSolutionZip(spark, notZip.toString))
    assert(e2.getMessage.contains(notZip.toString))
  }

  test("CLI generator: manifest → merged branches → parquet store round-trip " +
    "(≙ nshm_db_generator.py:49-94)") {
    import graft.nshm.NshmDbGenerator
    val z1 = writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4)
    val z2 = writeBranchZip(rate0 = 0.03, rate1 = 0.004, mfdRate = 0.8)
    val manifest = s"/tmp/manifest_${System.nanoTime()}.csv"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(manifest),
      s"""# group,weight,path
         |group,weight,path
         |CRU,0.25,$z1
         |CRU,0.75,$z2
         |CRU,0.99,$z2
         |""".stripMargin) // header + duplicate path both ignored
    val outDir = s"/tmp/gendb_${System.nanoTime()}"

    val cfg = NshmDbGenerator.parseArgs(
      Seq("1.0.4", outDir, "--manifest", manifest))
    assert(cfg.version === graft.nshm.SemVer(1, 0, 4))
    val db = NshmDbGenerator.run(spark, cfg)

    // binary zip path end-to-end: weighted rates landed in parquet
    val reopened = NshmDb.open(spark, outDir)
    assert(reopened.getFaultNames === Set("Alpine Fault", "Kakapo"))
    val r0 = reopened.getRupture(FaultSystem.Crustal, 0L)
    assert(math.abs(r0.rate.get - (0.25 * 0.01 + 0.75 * 0.03)) < 1e-12)
    assert(r0.faults.keySet === Set("Alpine Fault", "Kakapo"))
    assert(db.store.table("magnitude_frequency_distribution").count() === 2)

    // skip flags suppress exactly their insert (fresh store)
    val outDir2 = s"/tmp/gendb_${System.nanoTime()}"
    NshmDbGenerator.run(spark, NshmDbGenerator.parseArgs(Seq(
      "1.0", outDir2, "--manifest", manifest,
      "--skip-rupture-creation", "--skip-mfds-creation")))
    val db2 = NshmDb.open(spark, outDir2)
    assert(db2.getFaultNames === Set("Alpine Fault", "Kakapo"))
    assert(db2.store.table("rupture").count() === 0)
    assert(db2.store.table("magnitude_frequency_distribution").count() === 0)

    intercept[IllegalArgumentException](
      NshmDbGenerator.parseArgs(Seq("1.0.4", outDir, "--bogus")))

    // a malformed manifest line past the header is one clear error naming
    // the manifest, the line number and the line — never a dropped branch
    for (bad <- Seq("CRU,0.5", s"CRU,O.5,$z2")) {
      val badManifest = s"/tmp/manifest_bad_${System.nanoTime()}.csv"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(badManifest),
        s"# comment\ngroup,weight,path\nCRU,0.25,$z1\n$bad\n")
      val e = intercept[IllegalArgumentException](NshmDbGenerator.run(spark,
        NshmDbGenerator.parseArgs(Seq("1.0", s"/tmp/gendb_${System.nanoTime()}",
          "--manifest", badManifest))))
      assert(e.getMessage.contains(badManifest), e.getMessage)
      assert(e.getMessage.contains("line 4"), e.getMessage)
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }
}
