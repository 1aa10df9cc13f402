package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ROLLING archive index: each landed shard batch appends its CDX
  * rows ([[Warc.cdxIndex]]) as one committed delta under the shared
  * [[graft.core.DeltaLog]] layout, so the standing index grows with
  * the crawl and a point-read consumer ([[Warc.fetchSpans]]) always
  * sees every record ever archived — "index once at landing time,
  * ranged-read forever", with the same replay-idempotence, monotone
  * ordering, and crash safety the URL and media-signature states
  * carry. This is what a web archive actually operates: Common Crawl
  * publishes exactly this artifact (the per-crawl CDX next to the
  * monthly WARC drop), cumulatively.
  *
  * Append semantics: indexing is deterministic per file, so a replayed
  * batch is a pure no-op (the committed delta already holds its rows
  * — re-appending would double every span and double every fetch); an
  * out-of-order backfill fails loudly via the shared guard. Write
  * volume ∝ the batch's own records — the standing index is never
  * rewritten by an append.
  *
  * Scale shape: one narrow indexing pass over the batch's shards
  * (slim index rows only — payload bytes never leave their tasks),
  * one parquet write. No shuffle at all. Read, health and compaction
  * are the shared [[graft.core.DeltaIndex]] lifecycle: [[compact]]
  * merges the delta log into one generation with a first-batch-wins
  * heal keyed by (file_id, rec_idx) — the degree an in-contract writer
  * keeps at exactly one row — laid out for point reads ([[layout]]). */
object CdxLog extends graft.core.DeltaIndex {

  val schema: StructType = StructType(Seq(
    StructField("file_id", LongType),
    StructField("rec_idx", IntegerType),
    StructField("offset", LongType),
    StructField("length", LongType),
    StructField("member_ord", IntegerType),
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("date_s", StringType),
    StructField("batch_id", LongType)))
  protected val key: Seq[String] = Seq("file_id", "rec_idx")
  protected val stamp: String = "batch_id"

  /** The compacted generation is the index's long-lived READ form:
    * range-layout + sort it on the point-read key so a selection like
    * `file_id IN (…)` prunes whole files via parquet min/max stats
    * instead of scanning the full index — the layout that keeps
    * "select 10k records out of a 100 TB archive's index" an
    * O(selection) read — with the bounded-file contract on top. */
  override protected def layout(healed: DataFrame,
                                targetFiles: Int): DataFrame =
    healed.repartitionByRange(targetFiles, key.map(col): _*)
      .sortWithinPartitions(key.map(col): _*)

  /** Index one landed shard batch into the standing log. Replays are
    * no-ops; out-of-order batch ids fail loudly. */
  def append(spark: SparkSession, files: DataFrame, fileId: Column,
             payload: Column, path: String, batchId: Long): Unit = {
    // ONE log resolution serves the guard and the delta-dir placement
    val l = graft.core.DeltaLog.listing(spark, path)
    if (!graft.core.DeltaLog.replayOrGuard(l, batchId, path))
      writeDelta(Warc.cdxIndex(spark, files, fileId, payload)
        .withColumn("batch_id", lit(batchId)), l.genRoot, batchId)
  }
}
