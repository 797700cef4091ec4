package graft

import graft.streaming.EventStreams

/** The startup schema-contract gate ([[Tables.validate]]) and the
  * event-time normalization it guards: one loud, named error per
  * producer-side schema drift instead of dozens of scattered downstream
  * crashes (the exact failure mode of the events TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS) refresh).
  */
class SchemaContractSpec extends SparkSpec {

  /** Total bytes of the leaf files under a table path (file or dir) —
    * the dominant component of [[Tables]]' memo-invalidation stat.
    */
  private def leafBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  test("validate passes on the shipped testdata") {
    Tables.validate(spark, "/root/testdata/sf0.001")
  }

  test("validate names the mis-typed column of a bad fixture") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("contract_bad")
    Seq((1L, "not-a-time", 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](
      Tables.validate(spark, dir, Seq("events")))
    assert(e.getMessage.contains("events.ts"))
  }

  test("validate reports a missing column and a missing table, not just the first problem") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("contract_missing")
    Seq((1L, "x", "en", "web")) // n_chars absent
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](
      Tables.validate(spark, dir, Seq("documents", "events")))
    assert(e.getMessage.contains("documents.n_chars"))
    assert(e.getMessage.contains("events: missing file"))
  }

  test("validate aggregates a mis-typed column, a missing column and a missing table into one error") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("contract_drifted")
    Seq((1L, "not-a-time", 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    Seq((1L, "x", "en", "web")) // n_chars absent
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](
      Tables.validate(spark, dir, Seq("events", "documents", "lineitem")))
    for (problem <- Seq("events.ts", "documents.n_chars", "lineitem: missing file"))
      assert(e.getMessage.contains(problem), s"error does not name $problem:\n${e.getMessage}")
  }

  test("loadEvents normalizes both encodings to the same instants") {
    import spark.implicits._
    // micros-native fixture: what the refreshed testdata declares
    val dir = SparkSpec.tempDir("enc_ntz")
    spark.sql(
      """SELECT CAST(1 AS BIGINT) AS event_id,
                TIMESTAMP_NTZ'2024-03-01 12:00:00.000123' AS ts,
                CAST(7 AS BIGINT) AS user_id, 'click' AS event_type,
                CAST(1.5 AS DOUBLE) AS value, '{}' AS props""")
      .write.parquet(s"$dir/events.parquet")
    // legacy fixture: the same instant as nanos-since-epoch INT64
    val legacyDir = SparkSpec.tempDir("enc_long")
    val us = java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0, 123000)
      .toInstant(java.time.ZoneOffset.UTC)
    val ns = us.getEpochSecond * 1000000000L + us.getNano
    Seq((1L, ns, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$legacyDir/events.parquet")
    val a = Tables.load(spark, dir, "events").select($"ts".cast("string")).head.getString(0)
    val b = Tables.load(spark, legacyDir, "events").select($"ts".cast("string")).head.getString(0)
    assert(a == "2024-03-01 12:00:00.000123")
    assert(b == a)
  }

  test("load memo: relation reused per session, invalidated when the file changes") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("tables_memo")
    Seq((1L, "a", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = Tables.load(spark, dir, "documents")
    // metadata memo: the SAME relation handle comes back (no footer
    // re-probe), and it still scans current parquet bytes on execution
    assert(Tables.load(spark, dir, "documents") eq first)
    assert(first.count() === 1)
    // rewrite with MORE content: the table's total leaf bytes change,
    // so the (bytes, fileCount, mtime) invalidation key differs even
    // when the rewrite lands inside the filesystem's mtime granularity
    // — no sleep needed, and no granularity assumption to flake on
    val bytesBefore = leafBytes(s"$dir/documents.parquet")
    Seq((1L, "a", "en", "s", 1L), (2L, "b", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(leafBytes(s"$dir/documents.parquet") != bytesBefore,
      "fixture must change total bytes or the invalidation key is untested")
    assert(Tables.load(spark, dir, "documents").count() === 2,
      "a rewritten table must be re-loaded, not served from the memo")
  }

  test("tsMicros is full-microsecond and monotonic across second boundaries") {
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    // getTime already contains the integral millis of the nanos fraction:
    // the naive getTime*1000 + nanos/1000 formula would map 0.9s above 1.1s
    val a = ts("2024-01-01 00:00:00.9")
    val b = ts("2024-01-01 00:00:01.1")
    assert(EventStreams.tsMicros(a) < EventStreams.tsMicros(b))
    // sub-millisecond ordering that getTime alone cannot see
    val c = ts("2024-01-01 00:00:00.000250")
    val d = ts("2024-01-01 00:00:00.000750")
    assert(c.getTime == d.getTime)
    assert(EventStreams.tsMicros(c) < EventStreams.tsMicros(d))
    assert(EventStreams.tsMicros(d) - EventStreams.tsMicros(c) == 500L)
  }
}
