package graft

import graft.queries.StreamQ
import org.apache.spark.sql.Row

/** The streaming read path must produce IDENTICAL results whatever ts
  * encoding the producer wrote — the micros-timestamp files the current
  * testdata declares, or the legacy INT64-nanos layout. This drives the
  * real gate queries (source staging, footer-probed schema, sentinel
  * write, drain) end-to-end on both encodings of the same event set and
  * requires byte-equal output — guarding the LongType branches of
  * `eventStream`/`stageSentinel` that no shipped testdata exercises
  * anymore.
  */
class StreamEncodingSpec extends SparkSpec {

  private def fixtures(): (String, String) = {
    import spark.implicits._
    // µs-grained, same-millisecond collisions included; 3 users, gaps
    // around the 30-minute session boundary
    val base = java.time.Instant.parse("2024-05-01T00:00:00Z")
    val rows = (0 until 300).map { i =>
      val user = i % 3
      // mix of sub-second jitter and occasional >30min jumps
      val offsetUs = i.toLong * 137000L + (i % 7) * 250L +
        (if (i % 50 == 0) i.toLong * 120L * 1000000L else 0L)
      val ts = base.plusNanos(offsetUs * 1000)
      (i.toLong, ts, user.toLong, if (i % 5 == 0) "purchase" else "click",
        (i % 13) * 0.37 + 0.11, "{}")
    }
    // the testdata contract is a single FILE named events.parquet, not a
    // directory — write to a scratch dir and move the part file in place
    def asSingleFile(df: org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Paths.get(SparkSpec.tempDir("enc_stream"))
      val scratch = java.nio.file.Paths.get(SparkSpec.tempDir("enc_scratch"), "p")
      df.coalesce(1).write.parquet(scratch.toString)
      val part = java.nio.file.Files.list(scratch).iterator()
      val found = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(found, dir.resolve("events.parquet"))
      dir.toString
    }
    val ntzDir = asSingleFile(rows.map { case (id, ts, u, t, v, p) =>
      (id, java.time.LocalDateTime.ofInstant(ts, java.time.ZoneOffset.UTC), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val longDir = asSingleFile(rows.map { case (id, ts, u, t, v, p) =>
      (id, ts.getEpochSecond * 1000000000L + ts.getNano, u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    (ntzDir, longDir)
  }

  private def run(q: Q, dir: String): Seq[Row] = q.run(spark, dir).collect().toSeq

  test("windowed agg, session_window, and custom-state sessionize agree across encodings") {
    val (ntzDir, longDir) = fixtures()
    for (q <- Seq(StreamQ.qStreamWindow, StreamQ.qStreamSessions, StreamQ.qStreamSessionize,
                  StreamQ.qStreamAlerts)) {
      val a = run(q, ntzDir)
      val b = run(q, longDir)
      assert(a.nonEmpty, s"${q.name}: empty result")
      assert(a == b, s"${q.name}: encodings diverge")
    }
  }
}
