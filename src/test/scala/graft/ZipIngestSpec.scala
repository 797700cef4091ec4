package graft

import graft.nshm.{FaultSystem, Ingest, NshmDb, Schemas}
import graft.ZipFixtures.writeBranchZip

/** End-to-end composite-solution ingestion from branch zip archives
  * (≙ api.py download path minus the network fetch; FIXTURES.md §1.3
  * member formats).
  */
class ZipIngestSpec extends SparkSpec {

  test("composite build: two weighted branches merge, stack, and load (≙ api.py:455-622)") {
    val z1 = writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4)
    // the second archive's branch-invariant members differ; the merge
    // keeps the first archive's (≙ api.py:481-485)
    val z2 = writeBranchZip(rate0 = 0.03, rate1 = 0.004, mfdRate = 0.8, overrides = Map(
      Ingest.RupturePropertiesPath ->
        "Rupture Index,Magnitude,Area (m^2),Length (m)\n0,5.0,3.0e8,3.0e4\n1,5.5,4.0e8,4.0e4",
      Ingest.FaultInformationPath -> ZipFixtures.geojson.replace("Alpine Fault", "Other Fault")))

    val merged = Ingest.mergeSolutionZips(spark, Seq((0.25, z1), (0.75, z2)))
    assert(merged.faultSystem === FaultSystem.Crustal)
    assert(merged.faults.map(_.name) === Seq("Alpine Fault", "Kakapo"))

    // first-archive properties with weighted rates: 0.25·r1 + 0.75·r2
    val props = merged.ruptureProperties.orderBy("nshm_id").collect()
    assert(props.map(_.getAs[Double]("magnitude")).toSeq === Seq(6.5, 7.0))
    assert(props.map(_.getAs[Double]("area")).toSeq === Seq(1.0e8, 2.0e8))
    val rates = props.map(_.getAs[Double]("rate"))
    assert(math.abs(rates(0) - (0.25 * 0.01 + 0.75 * 0.03)) < 1e-12)
    assert(math.abs(rates(1) - (0.25 * 0.002 + 0.75 * 0.004)) < 1e-12)

    // a later archive's GeoJSON, indices and properties are checked by
    // name only: content that would fail to parse is not read
    val unread = writeBranchZip(rate0 = 0.03, rate1 = 0.004, mfdRate = 0.8, overrides = Seq(
      Ingest.FaultInformationPath, Ingest.RuptureFaultJoinPath, Ingest.RupturePropertiesPath)
      .map(_ -> "0,not parsed").toMap)
    val same = Ingest.mergeSolutionZips(spark, Seq((0.25, z1), (0.75, unread)))
    assert(same.ruptureProperties.orderBy("nshm_id").collect() === props)

    // positive-rate filter kept only the nonzero melted cells
    val mfds = merged.mfds.get.orderBy("nshm_id", "magnitude").collect()
    assert(mfds.length === 2)

    val db = freshDb()
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

  test("a rupture whose indices line lists no section has no faults") {
    val z = writeBranchZip(0.01, 0.002, 0.4, overrides = Map(Ingest.RuptureFaultJoinPath ->
      """Rupture Index,Num Sections,# 1,# 2
        |0,2,1,2
        |1,0""".stripMargin))
    val db = freshDb()
    Ingest.loadComposite(db, Seq(Ingest.mergeSolutionZips(spark, Seq((1.0, z)))))
    assert(db.store.table("rupture_faults").count() === 2)
    val r = db.getRupture(FaultSystem.Crustal, 1L)
    assert(r.rate === Some(0.002))
    assert(r.faults === Map.empty)
    assert(db.getRuptureFaultInfo(1L) === Map.empty)
    assert(db.mostLikelyFault(FaultSystem.Crustal, 1L, Seq("Kakapo" -> 7.0)) === Map.empty)
    assert(db.getRupture(FaultSystem.Crustal, 0L).faults.keySet === Set("Alpine Fault", "Kakapo"))
  }

  test("malformed branch archive fails with one error naming the path and missing member") {
    val good = writeBranchZip(0.01, 0.002, 0.4)
    val z = writeBranchZip(0.01, 0.002, 0.4, omit = Set(Ingest.RuptureFaultJoinPath))
    // a later archive is checked by member name too
    for (branches <- Seq(Seq((1.0, z)), Seq((0.5, good), (0.5, z)))) {
      val e = intercept[IllegalArgumentException](Ingest.mergeSolutionZips(spark, branches))
      assert(e.getMessage.contains(z))
      assert(e.getMessage.contains(Ingest.RuptureFaultJoinPath))
      assert(!e.getMessage.contains(Ingest.RuptureRatesPath))
    }

    val notZip = java.nio.file.Paths.get(SparkSpec.tempDir("notzip_"), "branch.zip")
    java.nio.file.Files.writeString(notZip, "not a zip")
    val e2 = intercept[IllegalArgumentException](
      Ingest.mergeSolutionZips(spark, Seq((1.0, notZip.toString))))
    assert(e2.getMessage.contains(notZip.toString))

    // indices rows that would be dropped as a header, fail a cast deep in
    // a later job, or be truncated to the ids listed: one error at load
    // naming the archive, the member and each bad line; line 1 is a
    // header only when its first field is not an integer
    val header = "Rupture Index,Num Sections,# 1,# 2"
    for ((rows, lines) <- Seq(
        Seq(header, "0,2,1,2", "5.0,2,1,2") -> "line 3",
        Seq(header, "0,two,1,2", "1,1,2") -> "line 2",
        Seq(header, "0,2,1,2", "1,3,2") -> "line 3",
        Seq(header, "0,x,1", "", "1,1,2,", "1,2,2,,") -> "line 2, 5",
        Seq("0,3,1", "1,1,2") -> "line 1")) {
      val bad = writeBranchZip(0.01, 0.002, 0.4,
        overrides = Map(Ingest.RuptureFaultJoinPath -> rows.mkString("\n")))
      val e3 = intercept[IllegalArgumentException](Ingest.mergeSolutionZips(spark, Seq((1.0, bad))))
      assert(e3.getMessage.contains(bad), e3.getMessage)
      assert(e3.getMessage.contains(Ingest.RuptureFaultJoinPath), e3.getMessage)
      assert(e3.getMessage.endsWith(lines), e3.getMessage)
    }
  }

  test("a CSV member without a column ingest reads fails on the driver, naming archive, member and column") {
    val good = writeBranchZip(0.01, 0.002, 0.4)
    val properties = "Rupture Index,Magnitude,Area (m^2),Length (m)"
    def build(branches: Seq[(Double, String)]): NshmDb = {
      val db = freshDb()
      Ingest.loadComposite(db, Seq(Ingest.mergeSolutionZips(spark, branches)))
      db
    }
    def tables(db: NshmDb) = Schemas.all.keys.map(n => n -> db.store.table(n).collect().toSet).toMap
    // (member, content, what the error names; nothing when the build equals the default member's)
    for ((member, content, named) <- Seq(
        (Ingest.RupturePropertiesPath, "Rupture Index,Area (m^2)\n0,1.0e8\n1,2.0e8",
          Seq("'Magnitude'", "'Length (m)'")),
        (Ingest.RuptureRatesPath, "Rupture Index,Rate\n0,0.01\n1,0.002", Seq("'Annual Rate'")),
        (Ingest.MfdsPath, "Section Index,6.5,M7\n1,0.4,0.0\n2,0.0,0.2", Seq("'M7'")),
        (Ingest.MfdsPath, "Section,6.5,7.0\n1,0.4,0.0\n2,0.0,0.2", Seq("'Section Index'", "'Section'")),
        // declared types: a cell that is not a number fails the cast, never reads as null
        (Ingest.RupturePropertiesPath, s"$properties\n0,6.5,1.0e8,1.0e4\n1,big,2.0e8,2.0e4",
          Seq("CAST_INVALID_INPUT", "'big'")),
        (Ingest.RuptureRatesPath, "Rupture Index,Annual Rate\n0,0.03\n1,often", Seq("CAST_INVALID_INPUT", "'often'")),
        (Ingest.MfdsPath, "Section Index,6.5,7.0\n1,0.8,0.0\n2,lots,0.4", Seq("CAST_INVALID_INPUT", "'lots'")),
        // a column ingest does not read is a string, whatever it holds
        (Ingest.RupturePropertiesPath,
          "Rupture Index,Magnitude,Name,Area (m^2),Length (m)\n0,6.5,Alpine,1.0e8,1.0e4\n1,7.0,Kakapo,2.0e8,2.0e4",
          Seq.empty))) {
      val bad = writeBranchZip(0.03, 0.004, 0.8, overrides = Map(member -> content))
      // properties are read from the first archive; rates and MFDs from every archive
      def branches(z: String) =
        if (member == Ingest.RupturePropertiesPath) Seq((1.0, z)) else Seq((0.5, good), (0.5, z))
      if (named.isEmpty)
        assert(tables(build(branches(bad))) === tables(build(branches(writeBranchZip(0.03, 0.004, 0.8)))))
      else if (named.head == "CAST_INVALID_INPUT") {
        val e = intercept[Exception](build(branches(bad)))
        val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
        for (part <- named) assert(messages.contains(part), messages)
      } else {
        val e = intercept[IllegalArgumentException](Ingest.mergeSolutionZips(spark, branches(bad)))
        for (part <- bad +: member +: named) assert(e.getMessage.contains(part), e.getMessage)
      }
    }

    // a later archive without the MFD member the first archive has is named
    val noMfds = writeBranchZip(0.03, 0.004, 0.8, omit = Set(Ingest.MfdsPath))
    val e = intercept[IllegalArgumentException](
      Ingest.mergeSolutionZips(spark, Seq((0.5, good), (0.5, noMfds))))
    assert(e.getMessage.contains(noMfds) && e.getMessage.contains(Ingest.MfdsPath), e.getMessage)
  }

  test("reopening a store through a file: URI keeps every row") {
    val dir = SparkSpec.tempDir("uristore_")
    val db = NshmDb.open(spark, dir)
    Ingest.loadComposite(db, Seq(Ingest.mergeSolutionZips(
      spark, Seq((1.0, writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4))))))
    def counts(db: NshmDb) = Schemas.all.keys.map(n => n -> db.store.table(n).count()).toMap
    val before = counts(db)
    assert(before("rupture") === 2 && before("fault_plane") === 2)
    assert(counts(NshmDb.open(spark, s"file:$dir")) === before)
  }

  test("CLI generator: manifest → merged branches → parquet store round-trip " +
    "(≙ nshm_db_generator.py:49-94)") {
    import graft.nshm.NshmDbGenerator
    val z1 = writeBranchZip(rate0 = 0.01, rate1 = 0.002, mfdRate = 0.4)
    val z2 = writeBranchZip(rate0 = 0.03, rate1 = 0.004, mfdRate = 0.8)
    val manifest = s"${SparkSpec.tempDir("manifest_")}/manifest.csv"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(manifest),
      s"""# group,weight,path
         |group,weight,path
         |CRU,0.25,$z1
         |CRU,0.75,$z2
         |CRU,0.99,$z2
         |""".stripMargin) // header + duplicate path both ignored
    val outDir = SparkSpec.tempDir("gendb_")

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
    val outDir2 = SparkSpec.tempDir("gendb_")
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
    for (bad <- Seq("CRU,0.5", s"CRU,O.5,$z2", s"CRU,NaN,$z2", s"CRU,Infinity,$z2", s"CRU,-0.5,$z2")) {
      val badManifest = s"${SparkSpec.tempDir("manifest_")}/bad.csv"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(badManifest),
        s"# comment\ngroup,weight,path\nCRU,0.25,$z1\n$bad\n")
      val e = intercept[IllegalArgumentException](NshmDbGenerator.run(spark,
        NshmDbGenerator.parseArgs(Seq("1.0", SparkSpec.tempDir("gendb_"),
          "--manifest", badManifest))))
      assert(e.getMessage.contains(badManifest), e.getMessage)
      assert(e.getMessage.contains("line 4"), e.getMessage)
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }
}
