package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** Stream-stream interval join: matches within the window pair up
  * across micro-batches; rows outside the window never pair. */
class StreamingJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("watermarked interval join pairs within-window rows across batches") {
    val dir = Files.createTempDirectory("graft_sjoin")
    val le = dir.resolve("left"); Files.createDirectory(le)
    val ri = dir.resolve("right"); Files.createDirectory(ri)
    // left events and right events on key 7; the 00:10 right row is
    // within 30min of the 00:25 left row; the 02:00 right row is not
    Files.writeString(le.resolve("l1.json"),
      """{"key":7,"ts":"2026-01-01T00:25:00.000Z","l_id":1}
        |{"key":8,"ts":"2026-01-01T00:25:00.000Z","l_id":2}
        |""".stripMargin)
    Files.writeString(ri.resolve("r1.json"),
      """{"key":7,"ts":"2026-01-01T00:10:00.000Z","r_id":10}
        |{"key":7,"ts":"2026-01-01T02:00:00.000Z","r_id":11}
        |{"key":9,"ts":"2026-01-01T00:10:00.000Z","r_id":12}
        |""".stripMargin)

    val l = spark.readStream.schema("key LONG, ts TIMESTAMP, l_id LONG")
      .json(le.toString)
    val r = spark.readStream.schema("key LONG, ts TIMESTAMP, r_id LONG")
      .json(ri.toString)
    val q = StreamingIngest.intervalJoin(l, r,
        window = "30 minutes", watermark = "1 hour")
      .select("l_id", "r_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("sjoin_out")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val out = spark.sql("select * from sjoin_out")
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    // only (l1, r10): same key, within window. r11 too late, r12/l2
    // have no partner on their keys
    assert(out === Set((1L, 10L)))
  }
}
