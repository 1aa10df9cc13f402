package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{CdxLog, Warc}
import graft.ingest.Warc.WarcSpecRec

/** The rolling archive index: append growth, replay no-ops,
  * out-of-order rejection, cross-batch point-reads, health telemetry,
  * and compaction equivalence — the shared DeltaLog lifecycle over
  * CDX rows. */
class CdxLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rec(i: Long): WarcSpecRec =
    WarcSpecRec("resource", s"<urn:uuid:r-$i>",
      Some(s"https://a.example/$i"), "2026-01-02T03:04:05Z",
      "text/plain", s"payload-$i".getBytes(UTF_8))

  private def shards(ids: Seq[Long]) =
    ids.map(id => (id, Warc.buildWarcGz(Seq(rec(id)))))
      .toDF("fid", "payload")

  test("appends accumulate, replays write nothing, out-of-order fails " +
      "loudly, and point-reads span generations") {
    val path = Files.createTempDirectory("graft_cdxlog").toString
    val all = shards(0L until 8L).localCheckpoint(true)
    CdxLog.append(spark, all.where(col("fid") < 4),
      col("fid"), col("payload"), path, 0L)
    assert(CdxLog.read(spark, path).count() == 4)
    assert(CdxLog.watermark(spark, path) === Some(0L))
    CdxLog.append(spark, all.where(col("fid") >= 4),
      col("fid"), col("payload"), path, 1L)
    assert(CdxLog.read(spark, path).count() == 8)
    // replay: byte-identical standing index
    val before = CdxLog.read(spark, path).collect().map(_.toString).sorted
    CdxLog.append(spark, all.where(col("fid") < 4),
      col("fid"), col("payload"), path, 0L)
    val after = CdxLog.read(spark, path).collect().map(_.toString).sorted
    assert(before.sameElements(after))
    // out-of-order backfill: loud
    val e = intercept[IllegalArgumentException] {
      CdxLog.append(spark, all, col("fid"), col("payload"), path, -3L)
    }
    assert(e.getMessage.contains("out-of-order"))
    // a point-read through the standing log reaches both generations
    val want = CdxLog.read(spark, path)
      .where(col("file_id").isin(1L, 6L))
      .select(col("file_id"), col("offset"), col("length"),
        col("member_ord"))
    val got = Warc.fetchSpans(spark, all, col("fid"), col("payload"),
      want).orderBy(col("file_id")).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 6L))
    assert(got.forall(r => new String(r.getAs[Array[Byte]]("block"),
      UTF_8) == s"payload-${r.getLong(0)}"))
  }

  test("health reports the lifecycle; compact collapses the log and " +
      "heals out-of-contract duplicates first-batch-wins") {
    val path = Files.createTempDirectory("graft_cdxlog_h").toString
    val all = shards(0L until 6L).localCheckpoint(true)
    CdxLog.append(spark, all.where(col("fid") < 3),
      col("fid"), col("payload"), path, 0L)
    CdxLog.append(spark, all.where(col("fid") >= 3),
      col("fid"), col("payload"), path, 1L)
    val h = CdxLog.health(spark, path)
    assert(h.keys == 6 && h.maxList == 1 && h.files >= 2)
    // a rogue writer re-indexes file 2 under a later stamp (with a
    // DIFFERENT uri, so the heal's winner is observable)
    val rogue = Seq((2L, Warc.buildWarcGz(Seq(
      rec(2).copy(targetUri = Some("https://rogue.example/2")))))).
      toDF("fid", "payload")
    CdxLog.append(spark, rogue, col("fid"), col("payload"), path, 2L)
    assert(CdxLog.health(spark, path).maxList == 2)
    val dest = Files.createTempDirectory("graft_cdxlog_c").toString
    CdxLog.compact(spark, path, dest)
    val healed = CdxLog.read(spark, dest)
    assert(healed.count() == 6)
    val f2 = healed.where(col("file_id") === 2).collect()(0)
    assert(f2.getAs[String]("target_uri") == "https://a.example/2")
    assert(f2.getAs[Long]("batch_id") == 0L)
    assert(CdxLog.health(spark, dest).maxList == 1)
    // only the watermark stamp survives compaction as replayable
    assert(CdxLog.watermark(spark, dest) === Some(2L))
    val e = intercept[IllegalArgumentException] {
      CdxLog.append(spark, rogue, col("fid"), col("payload"), dest, 1L)
    }
    assert(e.getMessage.contains("out-of-order"))
  }

  test("compaction heals a planted duplicate key to the earliest " +
      "batch's full row") {
    val path = Files.createTempDirectory("graft_cdxlog_d").toString
    CdxLog.append(spark, shards(0L until 3L),
      col("fid"), col("payload"), path, 0L)
    val orig = CdxLog.read(spark, path).where(col("file_id") === 1L)
      .collect()(0)
    // a rogue row for (1, 0) under a later batch whose every other field
    // sorts BELOW the original: a per-column min would splice the two
    CdxLog.read(spark, path).where(col("file_id") === 1L)
      .select(col("file_id"), col("rec_idx"), lit(-1L).as("offset"),
        lit(-1L).as("length"), lit(-1).as("member_ord"),
        lit("").as("warc_type"), lit("").as("record_id"),
        lit("").as("target_uri"), lit("").as("date_s"),
        lit(9L).as("batch_id"))
      .write.parquet(graft.core.DeltaLog.deltaDir(path, 9L))
    assert(CdxLog.health(spark, path).maxList == 2)
    val dest = Files.createTempDirectory("graft_cdxlog_d2").toString
    CdxLog.compact(spark, path, dest)
    val healed = CdxLog.read(spark, dest)
    assert(healed.count() == 3)
    assert(healed.where(col("file_id") === 1L).collect().toSeq === Seq(orig))
    assert(CdxLog.watermark(spark, dest) === Some(9L))
  }

  test("the compacted generation is range-laid-out on file_id: the " +
      "files' file_id ranges do not overlap") {
    val path = Files.createTempDirectory("graft_cdxlog_r").toString
    // interleaved batches, so every delta spans the whole file_id range
    for (b <- 0L until 4L)
      CdxLog.append(spark, shards((0L until 40L).filter(_ % 4 == b)),
        col("fid"), col("payload"), path, b)
    assert(CdxLog.compactInPlace(spark, path, targetFiles = 4) === 1L)
    val l = graft.core.DeltaLog.listing(spark, path)
    assert(l.deltas.size == 1)
    val dir = new org.apache.hadoop.fs.Path(l.deltas.head.dir).toUri.getPath
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size > 1, s"expected a multi-file generation: $files")
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f).select(col("file_id")).as[Long]
        .collect().toSeq
      assert(ids === ids.sorted, s"$f is not sorted on file_id")
      (ids.min, ids.max)
    }.sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file_id ranges: $ranges")
    }
    assert(ranges.map(_._1).min == 0L && ranges.map(_._2).max == 39L)
  }

  test("crash safety: an uncommitted delta (no _SUCCESS) is invisible " +
      "to reads, watermark, and the replay guard; the retry lands") {
    val path = Files.createTempDirectory("graft_cdxlog_x").toString
    val all = shards(0L until 4L).localCheckpoint(true)
    CdxLog.append(spark, all.where(col("fid") < 2),
      col("fid"), col("payload"), path, 0L)
    // simulate a fold of batch 1 that died mid-write: delta dir with
    // data but its _SUCCESS marker removed
    CdxLog.append(spark, all.where(col("fid") >= 2),
      col("fid"), col("payload"), path, 1L)
    val marker = new java.io.File(
      graft.core.DeltaLog.deltaDir(path, 1L), "_SUCCESS")
    assert(marker.delete())
    assert(CdxLog.read(spark, path).count() == 2) // crash invisible
    assert(CdxLog.watermark(spark, path) === Some(0L))
    // the retry is NOT a replay (nothing committed at 1): it rewrites
    // the delta and commits
    CdxLog.append(spark, all.where(col("fid") >= 2),
      col("fid"), col("payload"), path, 1L)
    assert(CdxLog.read(spark, path).count() == 4)
    assert(CdxLog.watermark(spark, path) === Some(1L))
    assert(CdxLog.health(spark, path).maxList == 1)
  }

  test("delta-log stress: 40 ordered appends — the standing index " +
      "equals the from-scratch index, and appends continue after a " +
      "mid-stream compaction") {
    val path = Files.createTempDirectory("graft_cdxlog_s").toString
    def batch(b: Long) = shards(Seq(b * 10, b * 10 + 1, b * 10 + 2))
    for (b <- 1L to 40L)
      CdxLog.append(spark, batch(b), col("fid"), col("payload"), path, b)
    def spanSet(p: String) = CdxLog.read(spark, p)
      .select(col("file_id"), col("rec_idx"), col("offset"),
        col("length"), col("record_id"))
      .collect().map(_.toString).toSet
    val st = spanSet(path)
    assert(st.size == 120)
    // from-scratch: one append over the union indexes identically
    // (batch stamps aside)
    val scratch = Files.createTempDirectory("graft_cdxlog_s2").toString
    CdxLog.append(spark, shards((1L to 40L).flatMap(b =>
      Seq(b * 10, b * 10 + 1, b * 10 + 2))), col("fid"), col("payload"),
      scratch, 1L)
    assert(spanSet(scratch) === st)
    // compaction mid-stream: one generation, same spans, appends go on
    val dest = Files.createTempDirectory("graft_cdxlog_s3").toString
    CdxLog.compact(spark, path, dest)
    assert(spanSet(dest) === st)
    assert(CdxLog.health(spark, dest).files <
      CdxLog.health(spark, path).files)
    CdxLog.append(spark, batch(41L), col("fid"), col("payload"),
      dest, 41L)
    assert(spanSet(dest).size == 123)
    // and the grown log still serves point-reads from the oldest
    // generation: fetch batch 1's first record through the index
    val want = CdxLog.read(spark, dest).where(col("file_id") === 10L)
      .select(col("file_id"), col("offset"), col("length"),
        col("member_ord"))
    val got = Warc.fetchSpans(spark, batch(1L), col("fid"),
      col("payload"), want).collect()
    assert(got.length == 1 &&
      new String(got(0).getAs[Array[Byte]]("block"), UTF_8) ==
        "payload-10")
  }
}
