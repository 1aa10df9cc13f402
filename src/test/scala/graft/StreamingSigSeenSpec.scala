package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.SigSeen

/** The rolling MEDIA crawl end to end: SigSeen.foldBatch inside
  * foreachBatch with the streaming batchId as the fold stamp — the
  * [[StreamingUrlSeenSpec]] contract over Hamming near-match state.
  * At-least-once replay of a micro-batch must leave the standing
  * signature index unchanged, and a near-dup (not byte-equal) of an
  * earlier batch's signature must still land in the state (every
  * distinct signature persists — near-dup is not transitive). */
class StreamingSigSeenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stateSet(path: String): Set[(Long, Long, Long)] =
    SigSeen.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("micro-batches fold into the standing signature index; restart " +
      "replays are no-ops") {
    val dir = Files.createTempDirectory("graft_ssig")
    val in = dir.resolve("in"); Files.createDirectory(in)
    val state = dir.resolve("state").toString
    // b1: sig 0 (new) and sig 3 (hamming 2 from 0 → dup_in_batch, but
    // still exact-novel, so the delta persists BOTH)
    Files.writeString(in.resolve("b1.json"),
      """{"doc_id":1,"sig":0}
        |{"doc_id":2,"sig":3}
        |""".stripMargin)
    // b2: sig 1 (hamming 1 from state's 0 → seen, yet exact-novel →
    // persisted) and sig 4294967295 (32 bits from anything → new)
    Files.writeString(in.resolve("b2.json"),
      """{"doc_id":9,"sig":1}
        |{"doc_id":10,"sig":4294967295}
        |""".stripMargin)

    def runStream(): Unit = {
      val q = spark.readStream.schema("doc_id LONG, sig LONG")
        .option("maxFilesPerTrigger", 1).json(in.toString)
        .writeStream
        .foreachBatch { (mb: org.apache.spark.sql.DataFrame, id: Long) =>
          SigSeen.foldBatch(mb, col("doc_id"), col("sig"), state, id)
            .count() // a consumer would sink the annotation
          ()
        }
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    runStream()
    val expected = Set(
      (0L, 0L, 1L), (3L, 0L, 2L), (1L, 1L, 9L), (4294967295L, 1L, 10L))
    assert(stateSet(state) === expected)
    assert(SigSeen.watermark(spark, state) === Some(1L))

    // fresh query over the same checkpoint: nothing re-processes; a
    // hand replay of batch 0 (the at-least-once shape) is a no-op on
    // the state AND annotates identically to the first run
    runStream()
    assert(stateSet(state) === expected)
    val replay = SigSeen.foldBatch(
      Seq((1L, 0L), (2L, 3L)).toDF("doc_id", "sig"),
      col("doc_id"), col("sig"), state, 0L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(replay === Seq((1L, "new"), (2L, "dup_in_batch")))
    assert(stateSet(state) === expected)
    assert(SigSeen.watermark(spark, state) === Some(1L))
  }

  test("VIDEO payloads stream through the multi-signature fold; " +
      "replay is a no-op and any-frame re-sights judge seen") {
    import graft.multimodal.{Avi, ImageHash}
    val dir = Files.createTempDirectory("graft_svid")
    val in = dir.resolve("in"); Files.createDirectory(in)
    val state = dir.resolve("state").toString
    // realistic wire shape: crawl shards ship base64 payloads in JSONL;
    // the fold hashes REAL AVI bytes after unbase64. Frames realize
    // EXACT target dHashes via the gate fixtures' shared ±14 walk
    // (GateFixtures.dhashWalkGray), so frame classes sit ≥ 32
    // bits apart.
    def clip(sig0: Long, sig1: Long): String =
      java.util.Base64.getEncoder.encodeToString(
        Avi.encodeAviGray(9, 8, 2,
          (f, k) => graft.queries.GateFixtures.dhashWalkGray(
            if (f == 0) sig0 else sig1, k)))
    val c1 = clip(0L, -1L)
    val c3 = clip(0x0F0F0F0F0F0F0F0FL, 0xF0F0F0F0F0F0F0F0L)
    Files.writeString(in.resolve("b1.jsonl"),
      s"""{"doc_id":1,"p":"$c1"}""" + "\n")
    // b2: doc 2 is a BYTE clone of doc 1 (every frame re-sighted —
    // seen), doc 3 shares NO frame class (new)
    Files.writeString(in.resolve("b2.jsonl"),
      s"""{"doc_id":2,"p":"$c1"}""" + "\n" +
      s"""{"doc_id":3,"p":"$c3"}""" + "\n")

    def runStream(): Unit = {
      val q = spark.readStream.schema("doc_id LONG, p STRING")
        .option("maxFilesPerTrigger", 1).json(in.toString)
        .writeStream
        .foreachBatch { (mb: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.dedup.SigSeen.foldBatchMulti(mb, col("doc_id"),
            ImageHash.frameDHash(unbase64(col("p")), 4), state, id)
            .count()
          ()
        }
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    runStream()
    val after = stateSet(state)
    runStream() // fresh query over the same checkpoint: no-op
    assert(stateSet(state) === after)
    // hand replay of batch 1 (at-least-once): annotation stable,
    // state unchanged — doc 2 seen via its cloned frames at hamming 0
    val mb = Seq((2L, c1), (3L, c3)).toDF("doc_id", "p")
    val replay = graft.dedup.SigSeen.foldBatchMulti(mb, col("doc_id"),
        ImageHash.frameDHash(unbase64(col("p")), 4), state, 1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(replay.map(_._1) === Seq(2L, 3L))
    assert(replay(0)._2 === "seen")
    assert(replay(1)._2 === "new")
    assert(stateSet(state) === after)
  }
}
