package graft

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet: ORC round-trip with
  * predicate pushdown, CSV with explicit schema, JSON lines — the
  * formats a mixed-estate 100 TB ingest actually encounters.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = SparkSpec.tempDir(prefix) + "/data"

  test("ORC round-trip preserves schema and pushes filters to the scan") {
    val dir = tmp("graft-orc")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "tag", "v")
    df.write.orc(dir)
    val back = spark.read.orc(dir)
    // ORC relaxes nullability on read; names and types must survive
    assert(back.schema.map(f => (f.name, f.dataType)) === df.schema.map(f => (f.name, f.dataType)))
    val filtered = back.filter(col("id") > 1)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,1"), plan)
    assert(filtered.count() === 2)
  }

  test("CSV with explicit schema round-trips typed columns (S4 shape)") {
    val dir = tmp("graft-csv")
    val df = Seq((1L, 6.5, "x y"), (2L, 7.0, "z,w")).toDF("nshm_id", "magnitude", "note")
    df.write.option("header", "true").csv(dir)
    val back = spark.read
      .option("header", "true")
      .schema("nshm_id LONG, magnitude DOUBLE, note STRING")
      .csv(dir)
    assert(back.schema.map(_.dataType) === df.schema.map(_.dataType))
    assert(back.orderBy("nshm_id").collect().map(_.getString(2)).toSeq === Seq("x y", "z,w"))
  }

  test("compaction shrinks a fragmented parquet dir, preserves data, rolls up sizes") {
    import spark.implicits._
    val dir = tmp("graft-compact")
    // 20 tiny files
    (1 to 2000).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
      .repartition(20).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val expected = before.orderBy("id").collect().toSeq
    val (nBefore, nAfter) = graft.sources.Maintenance.compact(spark, dir, targetBytes = 1L << 20)
    assert(nBefore == 20)
    assert(nAfter < nBefore, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(dir)
    assert(after.orderBy("id").collect().toSeq == expected)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".compact-tmp")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".compact-bak")))
  }

  test("S7: HTTP-backed SolutionProvider resolves a composite over loopback " +
    "(manifest fetch + archive download + dedup)") {
    import graft.nshm.{HttpSolutionProvider, Ingest, SemVer, SolutionProvider}
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress

    val z1 = java.nio.file.Paths.get(ZipFixtures.writeBranchZip(0.01, 0.002, 0.4))
    val z2 = java.nio.file.Paths.get(ZipFixtures.writeBranchZip(0.03, 0.004, 0.8))
    // duplicate z2 line: manifest dedup keeps the first weight; the
    // provider must also download each archive exactly once
    val manifest =
      s"""# group,weight,path
         |CRU,0.25,archives/${z1.getFileName}
         |CRU,0.75,archives/${z2.getFileName}
         |CRU,0.99,archives/${z2.getFileName}
         |""".stripMargin

    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val path = exchange.getRequestURI.getPath
      hits.merge(path, 1, (a, b) => a + b)
      val body: Array[Byte] = path match {
        case "/manifest/1.0.4" => manifest.getBytes("UTF-8")
        case p if p == s"/archives/${z1.getFileName}" => java.nio.file.Files.readAllBytes(z1)
        case p if p == s"/archives/${z2.getFileName}" => java.nio.file.Files.readAllBytes(z2)
        case _ => Array.emptyByteArray
      }
      val code = if (body.isEmpty) 404 else 200
      exchange.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val cache = java.nio.file.Paths.get(SparkSpec.tempDir("graft-http-cache"))
      val provider = new HttpSolutionProvider(base, cache)

      val solutions = SolutionProvider.downloadCompositeSolution(
        spark, provider, SemVer(1, 0, 4))
      assert(solutions.size === 1)
      val rates = solutions.head.ruptureProperties.orderBy("nshm_id")
        .select("rate").collect().map(_.getDouble(0))
      assert(math.abs(rates(0) - (0.25 * 0.01 + 0.75 * 0.03)) < 1e-12)
      assert(math.abs(rates(1) - (0.25 * 0.002 + 0.75 * 0.004)) < 1e-12)

      // each archive fetched exactly once despite the duplicate line
      assert(hits.get("/manifest/1.0.4") === 1)
      assert(hits.get(s"/archives/${z1.getFileName}") === 1)
      assert(hits.get(s"/archives/${z2.getFileName}") === 1)

      // and the composite loads into the store end-to-end
      val db = freshDb()
      Ingest.loadComposite(db, solutions)
      assert(db.getFaultNames === Set("Alpine Fault", "Kakapo"))

      // a missing version surfaces as a loud failure, not a silent empty
      intercept[IllegalArgumentException](
        provider.groupedSources(SemVer(9, 9, 9)))
    } finally server.stop(0)
  }

  test("JSON lines round-trip nested structs") {
    val dir = tmp("graft-json")
    val df = Seq((1L, ("a", 2.0)), (2L, ("b", 3.0))).toDF("id", "payload")
    df.write.json(dir)
    val back = spark.read.json(dir).select("id", "payload._1", "payload._2")
    assert(back.count() === 2)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq === Seq("a", "b"))
  }
}
