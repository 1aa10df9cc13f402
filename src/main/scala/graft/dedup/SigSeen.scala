package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted 64-bit perceptual-signature state for ROLLING media
  * crawls — the [[UrlSeen]] discipline generalized from exact URL
  * equality to Hamming NEAR-match: each batch of media signatures
  * (image dHash, per-frame animation dHash, audio fingerprint — any
  * family [[Dedup.hammingPairs]] accepts) is judged against the
  * standing signature index WITHOUT rescanning prior batches, and a
  * crawler that consults it never refetches a near-dup of anything it
  * has EVER seen, not just of this batch's cohort.
  *
  * Layout — log-structured deltas, identical to [[UrlSeen]]:
  * {{{
  *   path/delta-b<batchId>/  parquet (sig, first_seen_batch,
  *                           first_doc) + _SUCCESS
  * }}}
  * The standing state holds every DISTINCT exact signature ever
  * folded, stamped with its first batch and first document. Storing
  * every distinct signature (not just near-dup-free "canonicals") is
  * what makes near-judgment correct forever: near-dup is not
  * transitive, so a future item is judged against each past signature
  * link-by-link, and dropping a "duplicate" signature from the state
  * would blind the index to ITS near-neighborhood. A fold writes only
  * the batch's exactly-novel signatures — write volume ∝ novelty.
  *
  * Fold semantics (per batch row, deterministic):
  *  - `seen` — the signature is within `maxHamming` of a signature
  *    first folded in an EARLIER batch; `first_doc`/`hamming` report
  *    the best state match (min over (hamming, batch, doc) — a total
  *    order, so ties break identically on every run).
  *  - `dup_in_batch` — not seen, but an earlier row of THIS batch
  *    (smaller first doc) carries a signature within the radius;
  *    `first_doc` is the earliest such in-radius predecessor.
  *  - `new` — the batch's first occurrence of a signature with no
  *    in-radius precedent anywhere.
  * Null signatures (undecodable payloads) drop from both state and
  * annotation — they can never be seen, and never fail a task.
  *
  * Idempotence and ordering are the shared [[graft.core.DeltaLog]]
  * contract, as in [[UrlSeen]]: a batchId with a committed delta is a
  * replay (state untouched, annotation filtered to strictly-earlier
  * state rows — identical to the first run); a batchId at/below the
  * watermark WITHOUT its own delta is an out-of-order backfill and
  * fails loudly.
  *
  * Scale shape — the fold never shuffles the standing state: the
  * batch collapses to its distinct signatures map-side, those are
  * pigeonhole-expanded (the [[Dedup.hammingPairs]] table layout,
  * pinned single-chunk here so fold N and fold N+1 always run the
  * same plan) and BROADCAST against a single in-place scan of the
  * state — per-fold cost is one state scan plus a broadcast
  * proportional to the batch, not a corpus-scale exchange. (A batch
  * too large to broadcast — hundreds of millions of distinct
  * signatures — sets `broadcastBatch = false` for a shuffle-hash
  * plan.) The match frame is localCheckpointed: it is consumed by
  * both the delta write and the annotation, and is at most one row
  * per distinct batch signature. Read, health and compaction are the
  * shared [[graft.core.DeltaIndex]] lifecycle, healed on `sig`:
  * [[compact]] merges the delta log into one generation with the
  * min-fold heal, bounding the per-fold file count a year of rolling
  * folds would otherwise accumulate. */
object SigSeen extends graft.core.DeltaIndex {

  val schema: StructType = StructType(Seq(
    StructField("sig", LongType),
    StructField("first_seen_batch", LongType),
    StructField("first_doc", LongType)))
  protected val key: Seq[String] = Seq("sig")
  protected val stamp: String = "first_seen_batch"

  /** Fold one media batch into the standing index and return the
    * annotated batch: (doc_id, sig, status, first_doc, hamming) with
    * the semantics in the object scaladoc. `hamming` is the best
    * state-match distance for `seen` rows, null otherwise. */
  def foldBatch(batch: DataFrame, id: Column, sig: Column, path: String,
                batchId: Long, maxHamming: Int = 7,
                broadcastBatch: Boolean = true): DataFrame = {
    require(maxHamming <= 7, "radius > 7 needs a wider table design")
    val spark = batch.sparkSession
    val canon = batch.select(id.cast("long").as("doc_id"), sig.as("sig"))
      .where(col("sig").isNotNull)
      // consumed by the match build AND annotation; LAZY — the fold's
      // first action materializes it (the UrlSeen.foldBatch stage-diet
      // discipline: no dedicated checkpoint job per fold)
      .localCheckpoint(false)
    val batchMin = canon.groupBy(col("sig"))
      .agg(min(col("doc_id")).as("batch_first"))
    // monotone-fold guard (the shared DeltaLog contract), against ONE
    // log resolution shared with the state read and the delta write
    val l = graft.core.DeltaLog.listing(spark, path)
    val replay = graft.core.DeltaLog.replayOrGuard(l, batchId, path)
    // ── the ONE state pass: banded near-match of batch sigs vs the
    // strictly-earlier state (when !replay the state cannot contain
    // rows at/above batchId, so this view doubles as the exact-novelty
    // test for the delta — one scan serves both consumers).
    // Single-chunk layout pinned: both layouts are exhaustive at the
    // radius, and an auto-sampled flip between folds would make fold
    // cost drift unattributable.
    val bKeys0 = Dedup.simhashKeys(
      batchMin.select(col("sig"), col("batch_first")), maxHamming,
      wideTables = false)
    val bKeys = if (broadcastBatch) broadcast(bKeys0) else bKeys0
    val stKeys = Dedup.simhashKeys(
      readFrom(spark, l).where(col("first_seen_batch") < batchId),
      maxHamming, wideTables = false)
      .select(col("chunk"), col("ckey"), col("sig").as("ssig"),
        col("first_seen_batch"), col("first_doc"))
    val matches = stKeys.join(bKeys, Seq("chunk", "ckey"))
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("ssig"))))
      .where(col("hamming") <= maxHamming)
      .groupBy(col("sig"))
      .agg(min(struct(col("hamming"), col("first_seen_batch"),
          col("first_doc"))).as("m"),
        max((col("ssig") === col("sig")).cast("int")).as("exact"))
      // ≤ one row per distinct batch signature; LAZY — the delta
      // write (or on replay the annotation) materializes it once
      .localCheckpoint(false)
    if (!replay)
      writeDelta(batchMin
        .join(matches.where(col("exact") === 1).select(col("sig")),
          Seq("sig"), "left_anti")
        .select(col("sig"), lit(batchId).as("first_seen_batch"),
          col("batch_first").as("first_doc")), l.genRoot, batchId)
    // in-batch near relation: for each distinct batch signature, the
    // earliest first-doc among its in-radius batch neighbors (itself
    // included — near_first == batch_first means no precedent). The
    // self-join is batch×batch on banded keys, small next to the
    // corpus; candidates ∝ true near relations by the pigeonhole.
    val nb = bKeys0.select(col("chunk"), col("ckey"),
      col("sig").as("nsig"), col("batch_first").as("nfirst"))
    val nearFirst = bKeys0.join(
        if (broadcastBatch) broadcast(nb) else nb, Seq("chunk", "ckey"))
      .where(bit_count(col("sig").bitwiseXOR(col("nsig"))) <= maxHamming)
      .groupBy(col("sig"))
      .agg(min(col("nfirst")).as("near_first"))
    canon
      .join(batchMin.hint("merge"), Seq("sig"))
      .join(nearFirst.hint("merge"), Seq("sig"))
      .join(matches.hint("shuffle_hash"), Seq("sig"), "left")
      .select(col("doc_id"), col("sig"),
        when(col("m").isNotNull, lit("seen"))
          .when(col("doc_id") === col("batch_first") &&
            col("batch_first") === col("near_first"), lit("new"))
          .otherwise(lit("dup_in_batch")).as("status"),
        coalesce(col("m.first_doc"), col("near_first")).as("first_doc"),
        when(col("m").isNotNull, col("m.hamming").cast("long"))
          .otherwise(lit(null).cast("long")).as("hamming"))
  }

  /** Doc-level fold for MULTI-signature media — an animation's frames,
    * a clip's segments: explode `sigs` (array&lt;long&gt;) to signature
    * rows, fold them through [[foldBatch]] (the state stores every
    * distinct SIGNATURE, so a future item matches if it shares ANY
    * signature with anything ever folded), then aggregate one verdict
    * per id: `seen` iff any signature matches strictly-earlier state
    * (best (hamming, first_doc) reported — a total order, ties break
    * identically on every run), else `dup_in_batch` iff any signature
    * has an earlier in-batch precedent (the earliest reported), else
    * `new` (first_doc = the id itself). An item whose array is empty
    * (undecodable payload) contributes no rows and gets no verdict —
    * the null-signature totality contract. */
  def foldBatchMulti(batch: DataFrame, id: Column, sigs: Column,
                     path: String, batchId: Long, maxHamming: Int = 7,
                     broadcastBatch: Boolean = true): DataFrame = {
    val rows = batch.select(id.cast("long").as("doc_id"),
      explode(sigs).as("sig"))
    foldBatch(rows, col("doc_id"), col("sig"), path, batchId,
        maxHamming, broadcastBatch)
      .groupBy(col("doc_id"))
      .agg(
        min(when(col("status") === "seen",
          struct(col("hamming"), col("first_doc")))).as("m"),
        min(when(col("status") === "dup_in_batch", col("first_doc")))
          .as("pred"))
      .select(col("doc_id"),
        when(col("m").isNotNull, lit("seen"))
          .when(col("pred").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("m.first_doc"), col("pred"), col("doc_id"))
          .as("first_doc"),
        col("m").getField("hamming").as("hamming"))
  }
}
