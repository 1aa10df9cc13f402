package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Jsonl

/** JSONL reader: clean/corrupt split from ONE parse, schema tolerance
  * (missing fields null, extra fields ignored), whitespace-line and
  * null-struct handling, file-glob entry points, and streaming reuse
  * of the same parse. */
class JsonlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = new StructType()
    .add("id", "long").add("text", "string")

  test("clean and corrupt partition the lines; neither loses a row") {
    val lines = Seq(
      """{"id": 1, "text": "one"}""",
      """{"id": 2 "text": "missing comma"}""",  // malformed
      """{"id": 3, "text": "three", "extra": [1,2]}""", // extra ignored
      """{"id": 4}""",                           // missing field → null
      "",                                        // blank line
      "   ",                                     // whitespace line
      """not json at all""",
      """{"id": 7, "text": "séven 😀"}""" // escapes
    ).toDF("value")
    val clean = Jsonl.cleanFrom(lines, schema)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(clean === Set((1L, "one"), (3L, "three"), (4L, null),
      (7L, "séven 😀")))

    val dir = Files.createTempDirectory("graft_jsonl")
    val p = dir.resolve("in.jsonl").toString
    lines.coalesce(1).write.text(p)
    assert(Jsonl.readClean(spark, p, schema).count() === 4)
    val corrupt = Jsonl.readCorrupt(spark, p, schema)
      .as[String].collect().toSet
    // every non-clean line lands verbatim in the dead-letter frame
    assert(corrupt.exists(_.contains("missing comma")))
    assert(corrupt.contains("not json at all"))
    // blank/whitespace lines: no document, quarantined or dropped by
    // the text source — but NEVER a clean row (asserted above via count)
  }

  test("the clean path parses each line in exactly one operator") {
    val dir = Files.createTempDirectory("graft_jsonl_once")
    val p = dir.resolve("in.jsonl").toString
    Seq("""{"id": 1, "text": "one"}""", "broken", "   ")
      .toDF("value").coalesce(1).write.text(p)
    val clean = Jsonl.readClean(spark, p, schema)
    // a scan's pushed DataFilters are display only, so scans do not count
    val parsing = clean.queryExecution.executedPlan.collect {
      case n if !n.isInstanceOf[FileSourceScanExec] &&
          n.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs])) =>
        n.nodeName
    }
    assert(parsing.size === 1, clean.queryExecution.executedPlan.toString)
    assert(clean.as[(Long, String)].collect().toSeq === Seq((1L, "one")))
    assert(Jsonl.readCorrupt(spark, p, schema).count() === 2)
  }

  test("schema must not predeclare the capture column") {
    val e = intercept[IllegalArgumentException] {
      Jsonl.parse(Seq("{}").toDF("value"), col("value"),
        new StructType().add("_corrupt_record", "string"))
    }
    assert(e.getMessage.contains("_corrupt_record"))
  }

  test("streaming shares the parse: micro-batches split identically") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_jsonl_stream")
    val in = dir.resolve("in"); Files.createDirectory(in)
    Files.writeString(in.resolve("a.jsonl"),
      "{\"id\": 1, \"text\": \"a\"}\nbroken\n{\"id\": 2, \"text\": \"b\"}")
    val q = Jsonl.cleanFrom(
        spark.readStream.schema("value STRING").text(in.toString + "/*.jsonl"),
        schema)
      .writeStream.format("memory").queryName("jsonl_stream_out")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("jsonl_stream_out").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("export: shard + manifest round trip, gzip, hostile text, " +
      "record cap honored") {
    val out = Files.createTempDirectory("graft_jsonl_export").toString
    // text exercising JSON escaping: quotes, backslash, newline, tab,
    // control char, astral unicode, and a null
    val docs = Seq(
      (1L, "plain"),
      (2L, "quo\"te \\ back\nnew\tlinectl"),
      (3L, "astral 😀 é accents"),
      (4L, null.asInstanceOf[String]),
      (5L, ""),
      (6L, "six"), (7L, "seven")).toDF("id", "text")
    Jsonl.export(spark, docs.repartition(1),
      struct(col("id"), col("text")), out,
      maxRecordsPerFile = 3, gzip = true)
    // 7 records at cap 3 in one partition → 3 shards; manifest agrees
    val man = spark.read.parquet(out + "/_manifest")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(man.length === 3)
    assert(man.map(_._2).sum === 7L)
    assert(man.forall(_._2 <= 3L))
    assert(man.forall(_._1.endsWith(".jsonl.gz")))
    // byte-exact round trip through the reader (gzip transparent)
    val back = Jsonl.readClean(spark, out + "/part-*.jsonl.gz", schema)
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(back === Map(1L -> "plain",
      2L -> "quo\"te \\ back\nnew\tlinectl",
      3L -> "astral 😀 é accents", 4L -> null, 5L -> "",
      6L -> "six", 7L -> "seven"))
    // uncompressed export reads back identically too
    val out2 = Files.createTempDirectory("graft_jsonl_export2").toString
    Jsonl.export(spark, docs, struct(col("id"), col("text")), out2,
      maxRecordsPerFile = 100, gzip = false)
    val back2 = Jsonl.readClean(spark, out2 + "/part-*.jsonl", schema)
    assert(back2.count() === 7L)
    // export is a destructive overwrite: re-export leaves no stale shard
    Jsonl.export(spark, docs.where(col("id") <= 2),
      struct(col("id"), col("text")), out2, maxRecordsPerFile = 100)
    assert(Jsonl.readClean(spark, out2 + "/part-*.jsonl", schema)
      .count() === 2L)
  }
}
