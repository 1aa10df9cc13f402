package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Delims
import graft.ingest.KvStore
import graft.streaming.StreamingIngest

/** Streaming extension specs: file-source micro-batch ingest with
  * AvailableNow (the reference's drain-the-backlog batch model), windowed
  * event-time aggregation equal to its batch twin, and keyed custom
  * state. Memory/parquet sinks + processAllAvailable make the streams
  * synchronous for the test. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val D = Delims.Delim

  test("streaming MUPR ingest packs each file batch into the KV store") {
    val dir = Files.createTempDirectory("graft_stream")
    val inDir = dir.resolve("incoming"); Files.createDirectory(inDir)
    val store = dir.resolve("store").toString

    def fileFor(lot: String, unit: Int): String =
      Seq(unit.toString, "SS01", "2", "1", "1.0", "7", "0.5", "A", "P", "M",
        s"t_$lot").mkString(D)
    Files.writeString(inDir.resolve(s"lot1_x.dat"), fileFor("a", 1001))
    Files.writeString(inDir.resolve(s"lot2_x.dat"), fileFor("b", 2002))

    // Lots_seq_key DOUBLE-typed on purpose: TriggerMeta.read's
    // inferSchema does this to a "2.0"-valued column, and the stream
    // must build the same int-cast rowKey the batch path does (an
    // inline enrich re-implementation once produced "…\x002.0\x00…"
    // streaming keys that batch-format prefix scans silently missed)
    val meta = Seq(
      ("lot1_x.dat", "L1", 202032, 2.0),
      ("lot2_x.dat", "L2", 202032, 3.0))
      .toDF("File_Name", "Lot", "Lato_Start_WW", "Lots_seq_key")

    def run(): Unit = {
      val q = StreamingIngest.muprStream(spark, inDir.toString + "/*.dat", meta,
          keyParts = Seq(col("Lot"), col("Lato_Start_WW"), col("Lots_seq_key"),
            col("Unit_Testing_Seq_Key")),
          qualifier = col("Test_Name"),
          valueParts = Seq(col("Substructure_ID"), col("Measurement_Value")),
          storePath = store)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      q.awaitTermination(60000)
    }
    run()

    val kv = KvStore.read(spark, store)
    assert(kv.count() === 2)
    val keys = kv.select("rowKey").as[String].collect().sorted
    assert(keys(0).startsWith("L1" + D))
    assert(keys(1).startsWith("L2" + D))
    // the int-cast seq key, not the raw double rendering
    assert(keys(0).contains(D + "2" + D) && !keys(0).contains("2.0"))
    // cells carry the count prefix
    assert(kv.select("value").as[String].collect().forall(_.startsWith("1" + D)))

    // REPLAY idempotence: drop the commit marker so the restarted stream
    // re-executes batch 0 from the pinned offsets — the at-least-once
    // path a driver crash between parquet commit and checkpoint commit
    // takes. Dynamic batch_id-partition overwrite must leave the store
    // with ONE copy of each cell (the old append path doubled them).
    val commit0 = dir.resolve("ckpt/commits/0")
    assert(Files.deleteIfExists(commit0), "commit marker to replay")
    // the local checkpoint FS shadows each file with a .crc; a stale one
    // blocks the re-written marker's rename
    Files.deleteIfExists(dir.resolve("ckpt/commits/.0.crc"))
    run()
    assert(KvStore.read(spark, store).count() === 2)
  }

  test("muprStream sets dynamic overwrite per write, never in the session conf") {
    // SQLExecution copies the session SQL conf into each job's local
    // properties, so a job carrying partitionOverwriteMode=dynamic ran
    // while the session conf said dynamic — which every other query on
    // that session would then inherit
    val key = "spark.sql.sources.partitionOverwriteMode"
    val marker = "graft.test.listenerMarker"
    val modes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty(key)).foreach(modes.add)
          if (p.getProperty(marker) != null) markerSeen.countDown()
        }
    }
    val dir = Files.createTempDirectory("graft_stream_conf")
    val inDir = dir.resolve("incoming"); Files.createDirectory(inDir)
    val store = dir.resolve("store").toString
    val meta = Seq(("lot1_x.dat", "L1", 202032, 2.0),
      ("lot2_x.dat", "L2", 202032, 3.0))
      .toDF("File_Name", "Lot", "Lato_Start_WW", "Lots_seq_key")
    def line(unit: Int): String = Seq(unit.toString, "SS01", "2", "1",
      "1.0", "7", "0.5", "A", "P", "M", "t_a").mkString(D)
    def run(): Unit =
      StreamingIngest.muprStream(spark, inDir.toString + "/*.dat", meta,
          keyParts = Seq(col("Lot"), col("Unit_Testing_Seq_Key")),
          qualifier = col("Test_Name"),
          valueParts = Seq(col("Measurement_Value")), storePath = store)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
        .awaitTermination(60000)
    spark.sparkContext.addSparkListener(listener)
    try {
      // two micro-batches: batch 1's overwrite must be dynamic, or it
      // would have replaced batch 0's partitions too
      Files.writeString(inDir.resolve("lot1_x.dat"), line(1001))
      run()
      Files.writeString(inDir.resolve("lot2_x.dat"), line(2002))
      run()
      assert(KvStore.read(spark, store).count() === 2)
      // the listener bus is FIFO: once the marker job's start arrives,
      // every earlier job's start has been seen
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!modes.contains("dynamic"),
      s"stream jobs ran under session partitionOverwriteMode: $modes")
  }

  test("muprStream quarantines corrupt lines exactly like batch readClean") {
    // before the shared-parse fix, the raw CSV stream PERMISSIVE-parsed
    // a corrupt line into a null-field row whose shortened rowKey landed
    // as a garbage cell — while the batch path quarantined the same
    // line. One parse path now; only the clean line may reach the store.
    val dir = Files.createTempDirectory("graft_stream_q")
    val inDir = dir.resolve("incoming"); Files.createDirectory(inDir)
    val store = dir.resolve("store").toString
    val good = Seq("1001", "SS01", "2", "1", "1.0", "7", "0.5", "A", "P",
      "M", "t_a").mkString(D)
    val corrupt = "not_an_int" + D + "truncated_line"
    val file = inDir.resolve("lot1_x.dat")
    Files.writeString(file, good + "\n" + corrupt + "\n")
    // batch parity reference: readClean keeps exactly the good line
    assert(graft.ingest.MuprReader.readClean(
      spark, file.toString, sep = D).count() === 1)
    val meta = Seq(("lot1_x.dat", "L1", 202032, 2.0))
      .toDF("File_Name", "Lot", "Lato_Start_WW", "Lots_seq_key")
    val q = StreamingIngest.muprStream(spark, inDir.toString + "/*.dat", meta,
        keyParts = Seq(col("Lot"), col("Lato_Start_WW"), col("Lots_seq_key"),
          col("Unit_Testing_Seq_Key")),
        qualifier = col("Test_Name"),
        valueParts = Seq(col("Substructure_ID"), col("Measurement_Value")),
        storePath = store)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val kv = KvStore.read(spark, store)
    assert(kv.count() === 1, "only the clean line may become a cell")
    val key = kv.select("rowKey").as[String].head()
    assert(key.startsWith("L1" + D) && key.contains(D + "1001"))
  }

  test("muprStream refuses a pre-batch_id v1 store layout") {
    val dir = Files.createTempDirectory("graft_stream_v1")
    val store = dir.resolve("store")
    // a v1 store: salt=… directly under the root, no batch_id level
    Files.createDirectories(store.resolve("salt=0"))
    val meta = Seq(("f.dat", "L1", 202032, 2.0))
      .toDF("File_Name", "Lot", "Lato_Start_WW", "Lots_seq_key")
    val e = intercept[IllegalStateException] {
      StreamingIngest.muprStream(spark, dir.toString + "/in/*.dat", meta,
        keyParts = Seq(col("Lot")), qualifier = col("Test_Name"),
        valueParts = Seq(col("Substructure_ID")),
        storePath = store.toString)
    }
    assert(e.getMessage.contains("batch_id=-1"))
  }

  test("windowed event counts equal the batch aggregation") {
    val dir = Files.createTempDirectory("graft_stream2")
    val events = Tables(spark, "/root/testdata/sf0.001", "events")

    // batch twin of the streaming plan
    val expected = StreamingIngest.windowedEventCounts(events)
      .orderBy("window_start", "event_type").collect()

    // the file stream source wants a directory; stage the table file
    val inDir = dir.resolve("events_in")
    Files.createDirectory(inDir)
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      inDir.resolve("events.parquet"))
    val stream = spark.readStream
      .schema(events.schema)
      .parquet(inDir.toString)
    val q = StreamingIngest.windowedEventCounts(stream)
      .writeStream
      .outputMode("append")
      .format("memory").queryName("win_counts")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    // append mode only emits windows the watermark has closed; every
    // emitted row must match its batch twin, and the backlog (bounded
    // input) closes all but the trailing watermark margin
    val got = spark.sql("select * from win_counts")
      .orderBy("window_start", "event_type").collect()
    assert(got.nonEmpty)
    val expectedMap = expected.map(r => (r.getTimestamp(0), r.getString(1)) -> r).toMap
    got.foreach { r =>
      val k = (r.getTimestamp(0), r.getString(1))
      val e = expectedMap(k)
      assert(r.getLong(2) === e.getLong(2), s"count for $k")
      assert(r.getDouble(3) === e.getDouble(3), s"sum for $k")
    }
  }

  test("mapGroupsWithState accumulates per-user running totals") {
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val out = StreamingIngest.runningUserTotals(spark, events)
      .collect().map(s => s.user_id -> s).toMap
    val expected = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(1 + 1))).toMap
    assert(out.keySet === expected.keySet)
    for ((uid, s) <- out) {
      assert(s.n_events === expected(uid)._1, s"user $uid")
      assert(math.abs(s.total_value - expected(uid)._2) < 1e-6, s"user $uid")
    }
  }

  test("runningUserTotals tolerates null keys and values like an aggregate") {
    // a null user_id would crash the primitive key decode (a poison
    // pill on a stream); a null value must count the event with +0 —
    // the same semantics as count(*) + sum(value)
    val events = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "click", 2.5), (1L, "view", null), (null, "click", 9.9),
      (2L, "click", 1.0))
      .toDF("user_id", "event_type", "value")
    val out = StreamingIngest.runningUserTotals(spark, events)
      .collect().map(s => s.user_id -> ((s.n_events, s.total_value))).toMap
    assert(out === Map(1L -> ((2L, 2.5)), 2L -> ((1L, 1.0))))
  }
}
