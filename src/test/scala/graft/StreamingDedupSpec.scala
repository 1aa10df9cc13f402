package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** Streaming exact dedup: duplicates arriving across micro-batches are
  * dropped by fingerprint state. */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cross-micro-batch duplicates are dropped by fingerprint state") {
    val dir = Files.createTempDirectory("graft_sdedup")
    val in = dir.resolve("in"); Files.createDirectory(in)
    // batch files land one at a time; doc "alpha beta" repeats in both
    Files.writeString(in.resolve("b1.json"),
      """{"doc_id":1,"text":"alpha beta","ts":"2026-01-01T00:00:00.000Z"}
        |{"doc_id":2,"text":"gamma delta","ts":"2026-01-01T00:01:00.000Z"}
        |""".stripMargin)
    Files.writeString(in.resolve("b2.json"),
      """{"doc_id":3,"text":"alpha  beta!","ts":"2026-01-01T00:02:00.000Z"}
        |{"doc_id":4,"text":"epsilon zeta","ts":"2026-01-01T00:03:00.000Z"}
        |""".stripMargin)

    val schema = "doc_id LONG, text STRING, ts TIMESTAMP"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
      .withColumnRenamed("ts", "event_ts")
    val q = StreamingIngest.streamingDedup(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val ids = spark.sql("select doc_id from dedup_out")
      .as[Long].collect().sorted.toSeq
    // doc 3 normalizes to the same fingerprint as doc 1 → dropped
    assert(ids === Seq(1L, 2L, 4L))
  }

  test("exact-raw mode keys on md5 of the raw text, like dedup_exact") {
    val dir = Files.createTempDirectory("graft_sdedup_raw")
    val in = dir.resolve("in"); Files.createDirectory(in)
    Files.writeString(in.resolve("b1.json"),
      """{"doc_id":1,"text":"alpha beta","ts":"2026-01-01T00:00:00.000Z"}
        |{"doc_id":2,"text":"gamma delta","ts":"2026-01-01T00:01:00.000Z"}
        |""".stripMargin)
    Files.writeString(in.resolve("b2.json"),
      """{"doc_id":3,"text":"alpha beta","ts":"2026-01-01T00:02:00.000Z"}
        |{"doc_id":4,"text":"Alpha, Beta!","ts":"2026-01-01T00:03:00.000Z"}
        |""".stripMargin)

    val schema = "doc_id LONG, text STRING, ts TIMESTAMP"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
      .withColumnRenamed("ts", "event_ts")
    val q = StreamingIngest.streamingDedup(stream, normalized = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_raw_out")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val ids = spark.sql("select doc_id from dedup_raw_out")
      .as[Long].collect().sorted.toSeq
    // doc 3 is a byte-exact repeat of doc 1 → dropped; doc 4 differs
    // only after normalization → KEPT (the normalized mode would drop it)
    assert(ids === Seq(1L, 2L, 4L))
  }

  test("streaming batches are annotated against the standing corpus") {
    val dir = Files.createTempDirectory("graft_sincr")
    val in = dir.resolve("in"); Files.createDirectory(in)
    Files.writeString(in.resolve("b1.json"),
      """{"doc_id":100,"text":"alpha beta gamma"}
        |{"doc_id":101,"text":"fresh new content"}
        |""".stripMargin)
    Files.writeString(in.resolve("b2.json"),
      """{"doc_id":102,"text":"delta epsilon zeta"}
        |""".stripMargin)

    val existing = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in.toString)

    val seen = scala.collection.concurrent.TrieMap[Long, (Option[Long], Int)]()
    val q = StreamingIngest.incrementalDedupBatches(stream, existing,
        (annotated, _) =>
          annotated.collect().foreach { r =>
            seen.put(r.getAs[Long]("doc_id"),
              (Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong),
                r.getAs[Int]("is_new")))
          })
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    assert(seen(100L) === ((Some(1L), 0))) // dup of standing corpus doc 1
    assert(seen(101L) === ((None, 1)))     // genuinely new
    assert(seen(102L) === ((Some(2L), 0))) // dup arriving in a later batch
  }

  test("bloom-path streaming decontamination matches the broadcast path") {
    val dir = Files.createTempDirectory("graft_sdecon_bloom")
    val in = dir.resolve("in"); Files.createDirectory(in)
    Files.writeString(in.resolve("b1.json"),
      """{"doc_id":100,"text":"prefix the quick brown fox jumps over the lazy dog suffix"}
        |{"doc_id":101,"text":"totally original writing about distributed query engines"}
        |""".stripMargin)
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val flags = scala.collection.concurrent.TrieMap[Long, Int]()
    val built = StreamingIngest.decontaminateBloomBatches(stream, bench,
        (flagged, _) =>
          flagged.collect().foreach(r =>
            flags.put(r.getAs[Long]("doc_id"), r.getAs[Int]("contaminated"))),
        expectedBenchGrams = 1024)
    val q = built.writer
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    built.release()
    assert(flags(100L) === 1)
    assert(flags(101L) === 0)
  }

  test("streaming batches are decontaminated against a static benchmark") {
    val dir = Files.createTempDirectory("graft_sdecon")
    val in = dir.resolve("in"); Files.createDirectory(in)
    Files.writeString(in.resolve("b1.json"),
      """{"doc_id":100,"text":"prefix the quick brown fox jumps over the lazy dog suffix"}
        |{"doc_id":101,"text":"totally original writing about distributed query engines"}
        |""".stripMargin)

    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in.toString)

    val flags = scala.collection.concurrent.TrieMap[Long, Int]()
    val q = StreamingIngest.decontaminateBatches(stream, bench,
        (flagged, _) =>
          flagged.collect().foreach(r =>
            flags.put(r.getAs[Long]("doc_id"), r.getAs[Int]("contaminated"))))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    assert(flags(100L) === 1) // embeds a full benchmark sentence
    assert(flags(101L) === 0)
  }
}
