package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.UrlSeen

/** Rolling-crawl URL-seen state: fold/annotate semantics, replay
  * idempotence by batch watermark, and compaction equivalence. */
class UrlSeenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_urlseen")
    p.toFile.deleteOnExit()
    p.toString + "/idx"
  }

  private def stateSet(path: String): Set[(String, Long, Long)] =
    UrlSeen.read(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def annotate(rows: Seq[(Long, String)], path: String, b: Long) =
    UrlSeen.foldBatch(rows.toDF("doc_id", "url"),
        col("doc_id"), col("url"), path, b)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
      .toMap

  test("fold annotates new / dup_in_batch / seen and grows by novelty") {
    val path = tmp()
    assert(UrlSeen.watermark(spark, path).isEmpty)
    val b1 = annotate(Seq(
      (1L, "https://a.example/x"),
      (2L, "HTTPS://A.EXAMPLE:443/x#frag"),   // same canonical as doc 1
      (3L, "https://b.example/y")), path, 1L)
    assert(b1(1L) === (("https://a.example/x", "new", 1L)))
    assert(b1(2L) === (("https://a.example/x", "dup_in_batch", 1L)))
    assert(b1(3L) === (("https://b.example/y", "new", 3L)))
    assert(UrlSeen.watermark(spark, path) === Some(1L))
    // batch 2: one seen URL, one new
    val b2 = annotate(Seq(
      (9L, "https://a.example/x?"),           // seen in batch 1 via doc 1
      (10L, "https://c.example/z")), path, 2L)
    assert(b2(9L) === (("https://a.example/x", "seen", 1L)))
    assert(b2(10L) === (("https://c.example/z", "new", 10L)))
    // the state holds each canonical URL once, stamped at first sight
    assert(stateSet(path) === Set(
      ("https://a.example/x", 1L, 1L),
      ("https://b.example/y", 1L, 3L),
      ("https://c.example/z", 2L, 10L)))
  }

  test("replay fold: state untouched, annotation identical to first run") {
    val path = tmp()
    annotate(Seq((1L, "https://a.example/x")), path, 1L)
    val batch2 = Seq((5L, "https://a.example/x"), (6L, "https://n.example/q"))
    val first = annotate(batch2, path, 2L)
    val before = stateSet(path)
    val replay = annotate(batch2, path, 2L) // batchId == watermark
    assert(stateSet(path) === before, "replay must not touch the state")
    assert(replay === first,
      "replay annotation must equal the first run (its own delta invisible)")
    // an OLDER batch id replays too (no rewind) — its delta exists
    annotate(Seq((7L, "https://late.example/")), path, 1L)
    assert(stateSet(path) === before)
  }

  test("out-of-order fold (skipped-then-backfilled batch) fails loudly " +
      "instead of silently dropping its novel URLs") {
    val path = tmp()
    annotate(Seq((1L, "https://a.example/1")), path, 1L)
    annotate(Seq((2L, "https://a.example/2")), path, 5L) // gap: 2-4 skipped
    // batch 3 was never committed: below the watermark but NOT a replay
    val e = intercept[IllegalArgumentException] {
      annotate(Seq((9L, "https://never.example/")), path, 3L)
    }
    assert(e.getMessage.contains("out-of-order"))
    // the state is untouched and the committed batches still replay
    assert(stateSet(path).map(_._1) ===
      Set("https://a.example/1", "https://a.example/2"))
    annotate(Seq((1L, "https://a.example/1")), path, 1L) // replay ok
  }

  test("compact: one delta, same state, watermark preserved") {
    val path = tmp()
    annotate(Seq((1L, "https://a.example/1")), path, 1L)
    annotate(Seq((2L, "https://a.example/2")), path, 2L)
    annotate(Seq((3L, "https://a.example/3")), path, 3L)
    val dest = tmp()
    UrlSeen.compact(spark, path, dest)
    assert(stateSet(dest) === stateSet(path))
    assert(UrlSeen.watermark(spark, dest) === Some(3L))
    // a fold after compaction keeps judging against the full history
    val b4 = annotate(Seq((9L, "https://a.example/1")), dest, 4L)
    assert(b4(9L)._2 === "seen" && b4(9L)._3 === 1L)
    intercept[IllegalArgumentException](UrlSeen.compact(spark, dest, dest))
  }

  test("health telemetry mirrors the SigSeen lifecycle contract") {
    val path = tmp()
    annotate(Seq((1L, "https://a.example/1"),
      (2L, "https://a.example/2")), path, 1L)
    val h1 = UrlSeen.health(spark, path)
    assert(h1.keys === 2L && h1.skew === 1.0 && h1.files >= 1)
    annotate(Seq((3L, "https://a.example/3")), path, 2L)
    val h2 = UrlSeen.health(spark, path)
    assert(h2.keys === 3L && h2.files > h1.files)
    annotate(Seq((3L, "https://a.example/3")), path, 2L) // replay
    assert(UrlSeen.health(spark, path).files === h2.files)
    val dest = tmp()
    UrlSeen.compact(spark, path, dest)
    val hc = UrlSeen.health(spark, dest)
    assert(hc.keys === 3L && hc.files < h2.files && hc.skew === 1.0)
  }

  test("compaction heals an out-of-contract duplicate URL to the " +
      "earliest batch's full row") {
    val path = tmp()
    annotate(Seq((5L, "https://a.example/1"),
      (6L, "https://a.example/2")), path, 1L)
    // a rogue writer plants url 1 again under a LATER batch but with a
    // SMALLER first_doc: a per-column min would splice (1, 0); the heal
    // must keep batch 1's row whole
    UrlSeen.read(spark, path).where(col("url_canon") === "https://a.example/1")
      .select(col("url_canon"), lit(9L).as("first_seen_batch"),
        lit(0L).as("first_doc"))
      .write.parquet(path + "/delta-b9")
    assert(UrlSeen.health(spark, path).maxList === 2L)
    val dest = tmp()
    UrlSeen.compact(spark, path, dest)
    assert(stateSet(dest) === Set(
      ("https://a.example/1", 1L, 5L), ("https://a.example/2", 1L, 6L)))
    assert(UrlSeen.health(spark, dest).maxList === 1L)
    assert(UrlSeen.watermark(spark, dest) === Some(9L))
  }

  test("unparseable URLs drop; cold read is empty with schema") {
    val path = tmp()
    val empty = UrlSeen.read(spark, path)
    assert(empty.columns.toSeq === Seq("url_canon", "first_seen_batch", "first_doc"))
    assert(empty.count() === 0)
    val out = annotate(Seq(
      (1L, "https://ok.example/"), (2L, null.asInstanceOf[String])), path, 1L)
    assert(out.keySet === Set(1L), s"null URL must drop: $out")
  }
}
