package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted URL-seen state for ROLLING crawls: each crawl batch is
  * judged against the standing canonical-URL index WITHOUT rescanning
  * prior batches, and the index grows by exactly the batch's new URLs.
  *
  * Layout — log-structured deltas (the `dedup_index_append`
  * discipline, not a rewrite-the-world fold):
  * {{{
  *   path/delta-b<batchId>/   parquet (url_canon, first_seen_batch,
  *                            first_doc) + _SUCCESS
  * }}}
  * The standing state is the union of committed deltas; a fold WRITES
  * only the batch's first-occurrence URLs, so per-batch write volume
  * is proportional to novelty, never to the accumulated index — the
  * property that keeps a year of rolling crawls foldable. Read,
  * health and compaction are the shared [[graft.core.DeltaIndex]]
  * lifecycle, healed on `url_canon`; [[compact]] merges the delta log
  * into one generation when the file count grows (the
  * `compactMinhashIndex` response to append telemetry).
  *
  * IDEMPOTENT by batch watermark: a fold whose `batchId` is at or
  * below the max committed delta stamp is a REPLAY — the state is not
  * touched, and the annotation filters the standing state to rows
  * with `first_seen_batch < batchId`, so a replayed batch sees
  * exactly the state view its first run saw (its own contribution,
  * already committed at `first_seen_batch == batchId`, is invisible
  * to it). Crash safety: a delta dir without `_SUCCESS` is a crashed
  * write — invisible to reads, overwritten by the retry. Single
  * writer per path assumed (the GenState convention).
  *
  * Scale shape: the fold shuffles state and batch once each on
  * `url_canon` (slim 3-column rows on the state side); the batch-
  * internal first-doc aggregate collapses map-side. Null-normalizing
  * URLs (unparseable) drop from both the state and the annotation —
  * they can never be "seen". */
object UrlSeen extends graft.core.DeltaIndex {

  val schema: StructType = StructType(Seq(
    StructField("url_canon", StringType),
    StructField("first_seen_batch", LongType),
    StructField("first_doc", LongType)))
  protected val key: Seq[String] = Seq("url_canon")
  protected val stamp: String = "first_seen_batch"

  /** Fold one crawl batch into the standing index and return the
    * annotated batch: (doc_id, url_canon, status, first_doc) where
    * status ∈ {"new", "dup_in_batch", "seen"} — `seen` means the URL
    * was first crawled in an EARLIER batch (with that batch's first
    * doc), `dup_in_batch` a second spelling within this batch, `new`
    * the batch's first occurrence of a never-seen URL. `first_doc` is
    * the URL's canonical first document across all folds.
    *
    * The state mutation (the delta write) happens EAGERLY inside this
    * call when `batchId` is above the watermark; replays mutate
    * nothing and annotate identically to the first run. */
  def foldBatch(batch: DataFrame, id: Column, url: Column, path: String,
                batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    val canon = batch.select(id.cast("long").as("doc_id"),
        graft.ops.HtmlExprs.urlNormalize(url).as("url_canon"))
      .where(col("url_canon").isNotNull)
      // consumed by the delta write AND annotation; LAZY — the delta
      // write (the fold's first action) materializes it, the
      // annotation reads the cache: one serial job fewer per fold in
      // the stage-count-bound lifecycle gates
      .localCheckpoint(false)
    val batchMin = canon.groupBy(col("url_canon"))
      .agg(min(col("doc_id")).as("batch_first"))
    // ONE log resolution serves the guard, both state reads, and the
    // delta-dir placement for this whole fold
    val l = graft.core.DeltaLog.listing(spark, path)
    if (!graft.core.DeltaLog.replayOrGuard(l, batchId, path)) {
      // delta = this batch's first-occurrence URLs only: write volume
      // ∝ novelty. Anti-join against the full standing state (which
      // cannot yet contain rows at/above batchId — watermark checked).
      writeDelta(batchMin
        .join(readFrom(spark, l).select(col("url_canon")),
          Seq("url_canon"), "left_anti")
        .select(col("url_canon"), lit(batchId).as("first_seen_batch"),
          col("batch_first").as("first_doc")), l.genRoot, batchId)
    }
    // annotation view: strictly-earlier state rows — a replayed fold's
    // own committed delta (first_seen_batch == batchId) carries
    // first_seen_batch == batchId and a first-run's just-written delta
    // is not in the pre-write listing, so either way this is exactly
    // the state view the first run saw
    val seenBefore = readFrom(spark, l)
      .where(col("first_seen_batch") < batchId)
      .select(col("url_canon"), col("first_seen_batch").as("seen_batch"),
        col("first_doc").as("seen_doc"))
    canon
      .join(batchMin.hint("merge"), Seq("url_canon"))
      .join(seenBefore.hint("shuffle_hash"), Seq("url_canon"), "left")
      .select(col("doc_id"), col("url_canon"),
        when(col("seen_batch").isNotNull, lit("seen"))
          .when(col("doc_id") =!= col("batch_first"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("seen_doc"), col("batch_first")).as("first_doc"))
  }
}
