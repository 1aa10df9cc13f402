package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** Streaming gap sessionization: inline closure on a within-batch gap
  * jump, event-time-timeout closure once the watermark passes end+gap,
  * and no emission for sessions the watermark hasn't passed. */
class StreamingSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Write batch files with strictly increasing mtimes: the file source
    * orders batches by modification time, and same-millisecond writes
    * would make the batch order (and thus the watermark progression)
    * nondeterministic. */
  private def writeBatches(in: java.nio.file.Path,
                           batches: (String, String)*): Unit =
    batches.zipWithIndex.foreach { case ((name, content), i) =>
      val p = in.resolve(name)
      Files.writeString(p, content)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }

  test("sessions close inline on gap jumps and by event-time timeout") {
    val dir = Files.createTempDirectory("graft_ssess")
    val in = dir.resolve("in"); Files.createDirectory(in)
    // u1: burst A (00:00, 00:05), burst B (01:30, 01:31) — the 85-min
    // jump exceeds the 30-min gap → two sessions; u2 at 06:00/06:05
    // pushes the watermark (10-min delay) past both ends+gap so u1's
    // timeouts fire across b2/b3
    writeBatches(in,
      "b1.json" ->
        """{"user_id":1,"event_ts":"2026-01-01T00:00:00.000Z"}
          |{"user_id":1,"event_ts":"2026-01-01T00:05:00.000Z"}
          |{"user_id":1,"event_ts":"2026-01-01T01:30:00.000Z"}
          |{"user_id":1,"event_ts":"2026-01-01T01:31:00.000Z"}
          |""".stripMargin,
      "b2.json" ->
        """{"user_id":2,"event_ts":"2026-01-01T06:00:00.000Z"}
          |""".stripMargin,
      "b3.json" ->
        """{"user_id":2,"event_ts":"2026-01-01T06:05:00.000Z"}
          |""".stripMargin)

    val stream = spark.readStream
      .schema("user_id LONG, event_ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = StreamingIngest.streamingSessions(spark, stream,
        gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    val out = spark.sql("select * from sess_out")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    // both u1 sessions close once the watermark passes their end+gap;
    // u2's session stays OPEN (the watermark never passes 06:05 + 30min)
    // → not emitted
    assert(out === Set(
      (1L, t0, t0 + 5 * 60 * 1000L, 2L),
      (1L, t0 + 90 * 60 * 1000L, t0 + 91 * 60 * 1000L, 2L)))
  }

  test("null-key and null-timestamp events are dropped, not a crash loop") {
    // the watermark's late-data filter KEEPS null-event-time rows (null
    // never compares <= wm), so before the input filter one such record
    // NPE'd the handler and the restarted query replayed the same batch
    // forever — the poison-pill class. Garbage rows must vanish without
    // changing any session.
    val dir = Files.createTempDirectory("graft_ssess_null")
    val in = dir.resolve("in"); Files.createDirectory(in)
    writeBatches(in,
      "b1.json" ->
        """{"user_id":1,"event_ts":"2026-01-01T00:00:00.000Z"}
          |{"user_id":1,"event_ts":null}
          |{"user_id":null,"event_ts":"2026-01-01T00:02:00.000Z"}
          |{"user_id":1,"event_ts":"2026-01-01T00:05:00.000Z"}
          |""".stripMargin,
      "b2.json" ->
        """{"user_id":2,"event_ts":"2026-01-01T06:00:00.000Z"}
          |{"user_id":2,"event_ts":null}
          |""".stripMargin)

    val stream = spark.readStream
      .schema("user_id LONG, event_ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = StreamingIngest.streamingSessions(spark, stream,
        gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_null_out")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    val out = spark.sql("select * from sess_null_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    // u1's session closes when u2 pushes the watermark; the null-keyed
    // and null-ts rows contribute to NOTHING (no null-user session, no
    // extra count on u1)
    assert(out === Set((1L, t0, t0 + 5 * 60 * 1000L, 2L)))
  }

  test("close at end+gap == watermark is final: a ts == wm event is dropped by Spark") {
    // Pins the boundary semantics the close condition relies on: Spark's
    // stateful late-data filter drops rows with ts <= watermark, so an
    // event at EXACTLY ts == wm never reaches the handler — which makes
    // `end + gap <= wm` the exact close condition (the earliest
    // admissible event has ts > wm >= end + gap and cannot merge). Gap
    // 30 min, watermark delay 10 min: b1 (u1@00:00, u2@00:40) sets
    // wm = 00:30; b2's u1@00:35 invokes u1's group at wm == end+gap ==
    // 00:30, closing [00:00] finally; b3's u1@00:30 (ts == wm) is
    // dropped by the watermark filter — it neither resurrects the
    // closed session nor seeds a spurious singleton nor glues onto the
    // open 00:35 session. If Spark admitted ts == wm events, this spec
    // would fail with a (00:30, 00:35, n=2) remnant — the close
    // condition would then need to tighten to strict <.
    val dir = Files.createTempDirectory("graft_ssess3")
    val in = dir.resolve("in"); Files.createDirectory(in)
    writeBatches(in,
      "b1.json" ->
        """{"user_id":1,"event_ts":"2026-01-01T00:00:00.000Z"}
          |{"user_id":2,"event_ts":"2026-01-01T00:40:00.000Z"}
          |""".stripMargin,
      "b2.json" ->
        """{"user_id":1,"event_ts":"2026-01-01T00:35:00.000Z"}
          |""".stripMargin,
      "b3.json" ->
        """{"user_id":1,"event_ts":"2026-01-01T00:30:00.000Z"}
          |""".stripMargin,
      "b4.json" ->
        """{"user_id":2,"event_ts":"2026-01-01T01:30:00.000Z"}
          |""".stripMargin,
      "b5.json" ->
        """{"user_id":2,"event_ts":"2026-01-01T02:30:00.000Z"}
          |""".stripMargin)

    val stream = spark.readStream
      .schema("user_id LONG, event_ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = StreamingIngest.streamingSessions(spark, stream,
        gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out3")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    val min = 60 * 1000L
    val out = spark.sql("select * from sess_out3 where user_id = 1")
      .collect()
      .map(r => (r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    // two singletons: the boundary event at ts == wm influenced NOTHING
    assert(out === Set(
      (t0, t0, 1L),
      (t0 + 35 * min, t0 + 35 * min, 1L)))
  }

  test("an out-of-order event in a later batch merges into the earlier session") {
    val dir = Files.createTempDirectory("graft_ssess2")
    val in = dir.resolve("in"); Files.createDirectory(in)
    // b1: two events a >gap jump apart — NEITHER may close inline,
    // because the 00:20 event in b2 arrives LATER but above the
    // watermark (00:00): it must extend the 00:00 session, not be glued
    // to the open 01:00 one; b3/b4 (u2) push the watermark so u1's
    // sessions become closable
    writeBatches(in,
      "b1.json" ->
        """{"user_id":1,"event_ts":"2026-01-01T00:00:00.000Z"}
          |{"user_id":1,"event_ts":"2026-01-01T01:00:00.000Z"}
          |""".stripMargin,
      "b2.json" ->
        """{"user_id":1,"event_ts":"2026-01-01T00:20:00.000Z"}
          |""".stripMargin,
      "b3.json" ->
        """{"user_id":2,"event_ts":"2026-01-01T03:00:00.000Z"}
          |""".stripMargin,
      "b4.json" ->
        """{"user_id":2,"event_ts":"2026-01-01T03:05:00.000Z"}
          |""".stripMargin)

    val stream = spark.readStream
      .schema("user_id LONG, event_ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = StreamingIngest.streamingSessions(spark, stream,
        gapMs = 30L * 60 * 1000, watermark = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out2")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    val min = 60 * 1000L
    val out = spark.sql("select * from sess_out2 where user_id = 1")
      .collect()
      .map(r => (r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    // [00:00, 00:20] n=2 (late event merged back), [01:00] n=1 — matching
    // what the batch sessionizer computes over the same events
    assert(out === Set((t0, t0 + 20 * min, 2L), (t0 + 60 * min, t0 + 60 * min, 1L)))
  }
}
