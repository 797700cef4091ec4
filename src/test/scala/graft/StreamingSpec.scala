package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("tumbling windowed aggregation over a memory stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStreams.tumblingAgg(stream.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("t_tumbling").outputMode("complete").start()
    try {
      stream.addData(
        Event(1, ts("2024-01-01 00:00:10"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:01:00"), 2, "view", 2.0),
        Event(3, ts("2024-01-01 00:06:00"), 1, "click", 3.0))
      query.processAllAvailable()
      val rows = spark.table("t_tumbling")
        .orderBy("bucket", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq === Seq(
        ("2024-01-01 00:00:00.0", "click", 1L, 1.0),
        ("2024-01-01 00:00:00.0", "view", 1L, 2.0),
        ("2024-01-01 00:05:00.0", "click", 1L, 3.0)))
    } finally query.stop()
  }

  test("sessionize: gap closes a session and emits it (flatMapGroupsWithState)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStreams.sessionize(stream.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("t_sessions").outputMode("append").start()
    try {
      stream.addData(
        Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 00:10:00"), 7, "view", 2.0))
      query.processAllAvailable()
      // beyond the 30-minute gap: closes the first session on arrival
      stream.addData(Event(3, ts("2024-01-01 03:00:00"), 7, "click", 5.0))
      query.processAllAvailable()
      val sessions = spark.table("t_sessions").as[Session].collect()
      assert(sessions.length === 1)
      val s = sessions.head
      assert(s.user_id === 7L)
      assert(s.n_events === 2)
      assert(s.start === ts("2024-01-01 00:00:00"))
      assert(s.end === ts("2024-01-01 00:10:00"))
      assert(s.total_value === 3.0)
    } finally query.stop()
  }

  test("session_window: declarative gap sessionization merges and closes at watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStreams.sessionWindowAgg(stream.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("t_swin").outputMode("append").start()
    try {
      stream.addData(
        Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 00:10:00"), 7, "view", 2.0))
      query.processAllAvailable()
      // advance the watermark far past session end + gap → emits the closed session
      stream.addData(Event(3, ts("2024-01-01 03:00:00"), 7, "click", 5.0))
      query.processAllAvailable()
      val rows = spark.table("t_swin")
        .orderBy("start")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
          r.getLong(3), r.getDouble(4)))
      assert(rows.toSeq === Seq(
        (7L, "2024-01-01 00:00:00.0", "2024-01-01 00:40:00.0", 2L, 3.0)))
    } finally query.stop()
  }

  test("transformWithState: running totals emit threshold-crossing alerts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val query = EventStreams.thresholdAlerts(stream.toDS(), threshold = 100.0)
        .writeStream.format("memory").queryName("t_alerts").outputMode("append").start()
      try {
        stream.addData(
          Event(1, ts("2024-01-01 00:00:00"), 7, "buy", 60.0),
          Event(2, ts("2024-01-01 00:01:00"), 7, "buy", 30.0))
        query.processAllAvailable() // total 90: no alert yet
        assert(spark.table("t_alerts").count() === 0)
        stream.addData(Event(3, ts("2024-01-01 00:02:00"), 7, "buy", 15.0))
        query.processAllAvailable() // total 105: crossed 100 → alert
        stream.addData(Event(4, ts("2024-01-01 00:03:00"), 7, "buy", 250.0))
        query.processAllAvailable() // total 355: crossed 200 and 300 → one more alert
        val alerts = spark.table("t_alerts")
          .orderBy("n_events")
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        assert(alerts.toSeq === Seq((7L, 105.0, 3L), (7L, 355.0, 4L)))
      } finally query.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("idempotent batch sink: replaying a batch id overwrites, not appends") {
    val dir = SparkSpec.tempDir("graft-sink") + "/out"
    import spark.implicits._
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    EventStreams.writeBatchIdempotent(dir)(b0, 0L)
    EventStreams.writeBatchIdempotent(dir)(Seq((3L, "c")).toDF("id", "tag"), 1L)
    // replay batch 0 (checkpoint recovery): same rows, no duplication
    EventStreams.writeBatchIdempotent(dir)(b0, 0L)
    val got = spark.read.parquet(dir).select("id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("checkpointed restart resumes exactly-once: no re-reads, no losses") {
    import spark.implicits._
    val base = SparkSpec.tempDir("graft-restart")
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    def run(): Unit = {
      val q = spark.readStream
        .schema("event_id LONG, v STRING")
        .parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(EventStreams.writeBatchIdempotent(out) _)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (1L to 5L).map(i => (i, s"a$i")).toDF("event_id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    // second wave lands AFTER the first run fully stopped; the restarted
    // query must pick up only the new files from the checkpointed offset
    (6L to 10L).map(i => (i, s"b$i")).toDF("event_id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 10L), s"expected exactly-once coverage, got $ids")
  }

  test("sliding windows overlap: one event lands in two 10-minute windows sliding by 5") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStreams.slidingAgg(stream.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("t_sliding").outputMode("complete").start()
    try {
      stream.addData(Event(1, ts("2024-01-01 00:07:00"), 1, "click", 4.0))
      query.processAllAvailable()
      val rows = spark.table("t_sliding").orderBy("bucket")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
      assert(rows.toSeq === Seq(
        ("2024-01-01 00:00:00.0", 1L), ("2024-01-01 00:05:00.0", 1L)))
    } finally query.stop()
  }

  test("stream dedup drops duplicate event ids within the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStreams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try {
      stream.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:00:02"), 2, "view", 2.0))
      query.processAllAvailable()
      stream.addData(Event(1, ts("2024-01-01 00:00:03"), 1, "click", 1.0))
      query.processAllAvailable()
      val ids = spark.table("t_dedup").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally query.stop()
  }

  test("stream-static enrichment joins a broadcast dimension") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[Event]
    val query = EventStreams.enrich(stream.toDF(), dim)
      .writeStream.format("memory").queryName("t_enrich").outputMode("append").start()
    try {
      stream.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:00:01"), 9, "view", 2.0))
      query.processAllAvailable()
      val rows = spark.table("t_enrich").select(col("event_id"), col("tier"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
      assert(rows.toSeq === Seq((1L, Some("gold")), (2L, None)))
    } finally query.stop()
  }

  test("stream-stream interval join matches clicks to in-window purchases") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStreams.clickToPurchase(stream.toDF(), windowSeconds = 600)
      .writeStream.format("memory").queryName("t_ssjoin").outputMode("append").start()
    try {
      stream.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "click", 0.0),
        Event(2, ts("2024-01-01 00:05:00"), 1, "purchase", 9.99), // in window
        Event(3, ts("2024-01-01 00:30:00"), 1, "purchase", 5.00), // outside window
        Event(4, ts("2024-01-01 00:02:00"), 2, "purchase", 1.00)) // other user, no click
      query.processAllAvailable()
      val rows = spark.table("t_ssjoin")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq === Seq((1L, 1L, 2L)))
    } finally query.stop()
  }

  test("streaming transforms run identically on a batch frame") {
    val batch = Seq(
      Event(1, ts("2024-01-01 00:00:10"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:02:00"), 1, "click", 2.0)).toDF()
    val got = EventStreams.tumblingAgg(batch).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("n") === 2L)
  }
}
