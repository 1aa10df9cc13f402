package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.ingest.{KvStore, TriggerMeta}

/** Streaming extension (SURVEY.md §2.10). The reference is batch-only —
  * its incrementality is an external scheduler dropping ~2000-file
  * batches plus a trigger file (Utils.scala:689-698). Structured
  * Streaming expresses that natively: a file source discovers new files,
  * each micro-batch runs the SAME enrichment + pack plan the batch path
  * uses (one code path, two execution modes), and `Trigger.AvailableNow`
  * reproduces drain-the-backlog-then-stop semantics.
  *
  * Flagged as an extension: not part of the §2 parity surface.
  */
object StreamingIngest {

  /** Streaming MUPR ingest: watch `pathGlob` for new measurement files,
    * enrich each batch through [[graft.ingest.TriggerMeta.enrich]] — the
    * SAME code path the batch ingest uses, so rowKeys/salts cannot
    * diverge between modes (an inline re-implementation here once
    * dropped enrich's Lots_seq_key int cast: a trigger CSV whose seq key
    * inferred as double built `…\x002.0\x00…` streaming rowKeys next to
    * `…\x002\x00…` batch ones, and prefix scans keyed to the batch
    * format silently missed every streaming row) — and pack into KV
    * cells per micro-batch. Pack aggregation is per-batch by design (the
    * reference packs per file load), so no cross-batch state store is
    * needed.
    *
    * Replay-safe: foreachBatch is at-least-once, so the store write is
    * keyed by `batch_id` and committed via DYNAMIC partition overwrite —
    * a replayed micro-batch (driver died after the parquet commit but
    * before the checkpoint recorded the batch) overwrites ONLY its own
    * `batch_id=…` partitions with identical content (the file source
    * pins each batch's input files in the offset log, and pack is
    * deterministic) instead of appending a second copy of every cell.
    * Files route through [[KvStore.writeLayout]] with `batch_id` leading
    * the sort, so each batch's files stay (salt, rowKey)-sorted and
    * row-group pruning serves prefix scans — the plain `.write.append`
    * this replaces wrote arrival-order files whose min/max stats spanned
    * the whole key range. */
  def muprStream(spark: SparkSession, pathGlob: String, meta: DataFrame,
                 keyParts: Seq[Column], qualifier: Column,
                 valueParts: Seq[Column], storePath: String) = {
    // Store layout is v2: batch_id=…/salt=…. Refuse a pre-existing v1
    // store (salt=… at the top level): Spark partition discovery on the
    // mixed tree throws "conflicting directory structures" for EVERY
    // reader of the store, and v1 files sit outside any batch_id
    // partition, so a replayed pre-upgrade batch could never overwrite
    // its old copy — the duplicate the batch_id keying exists to
    // prevent. Migrate by moving the v1 salt=* dirs under a single
    // batch_id=-1/ (one rename each, content untouched) or point the
    // stream at a fresh storePath.
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root) &&
        fs.listStatus(root).exists(_.getPath.getName.startsWith("salt=")))
      throw new IllegalStateException(
        s"muprStream store at $storePath uses the pre-batch_id v1 layout " +
          "(top-level salt=… directories); move them under batch_id=-1/ " +
          "or use a fresh storePath — mixing layouts breaks partition " +
          "discovery for every reader")
    // text source + the SHARED MuprReader parse/quarantine: a raw CSV
    // stream would PERMISSIVE-parse corrupt lines into null-field rows
    // whose shortened rowKeys land as garbage cells, while the batch
    // path (readClean) quarantines the same line — one parse path, so
    // clean-row semantics cannot diverge between modes either
    val lines = graft.ingest.MuprReader.cleanFrom(
      spark.readStream.text(pathGlob))
    val enriched = TriggerMeta.enrich(lines, meta,
      element_at(split(input_file_name(), "/"), -1))
    enriched.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val kv = KvStore.pack(batch, keyParts, qualifier, valueParts)
            .withColumn("batch_id", lit(batchId))
          // dynamic overwrite as a per-write option, never a session
          // conf: a replayed batch replaces only its own batch_id
          // partitions, and no other query on the session is touched
          KvStore.writeLayout(kv, Seq(col("batch_id")))
            .write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "salt").parquet(storePath)
        }
      }
  }

  /** Event-time windowed counts with a watermark — the standing
    * aggregation a metrics stream wants. `ts` is either a native
    * TIMESTAMP/TIMESTAMP_NTZ (current events fixture) or Long epoch
    * nanoseconds (legacy nanosAsLong read) — the projection branches on
    * the actual dtype ([[graft.ops.TemporalOps.eventTime]]), with
    * integral `div` in the Long branch because epoch nanos (~1.7e18)
    * exceed double's exact-integer range and boundary events would
    * mis-bucket under double division. */
  /** Streaming crawl ingest: WARC shards (plain or per-record-gzip
    * `.warc.gz`, e.g. [[graft.ingest.Warc.wetExport]] output or crawl
    * drops) arriving under `pathGlob` become a stream of parsed record
    * rows — the `binaryFile` file source feeding the SAME
    * [[graft.ingest.Warc.recordTable]] walk the batch path uses, so
    * batch and stream cannot diverge on record semantics (the
    * muprStream shared-parse discipline). `file_id` is the xxhash64 of
    * the shard path — the stable id a batch reader over the same files
    * derives the same way. An unparseable shard contributes no rows,
    * exactly as in batch. */
  def warcRecordStream(spark: SparkSession, pathGlob: String): DataFrame = {
    // binaryFile's schema is FIXED by the format, but the streaming
    // source requires it stated (no inference on an empty dir)
    val files = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .load(pathGlob)
    graft.ingest.Warc.recordTable(spark, files,
      xxhash64(col("path")), col("content"))
  }

  def windowedEventCounts(events: DataFrame, window_ : String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_ts", graft.ops.TemporalOps.eventTime(events))
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal, not double, so the sum is order-independent across
        // replays and partitions; 38,4 (not 18,4) because 18,4 holds only
        // 14 integer digits — one |value| ≥ 1e14 event would throw
        // CAST_OVERFLOW under ANSI (Spark 4 default), and a streaming
        // query that dies on a cast re-reads the same batch from the
        // checkpoint and dies again: a poison-pill crash loop
        sum(col("value").cast("decimal(38,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming dedup: drop documents whose content key was already seen,
    * with state bounded by the watermark.
    *
    * Two key modes — they are NOT the same operator:
    *  - `normalized = true` (default, pinned by StreamingDedupSpec):
    *    keys on [[graft.text.TextOps.fingerprint]] — xxhash64 of the
    *    lowercased, punctuation-stripped, whitespace-collapsed text.
    *    NEAR-exact: "Hello, World!" after "hello world" is dropped.
    *    The 64-bit key can collide for unrelated docs within the
    *    watermark horizon (birthday odds ~n²/2⁶⁵ over the horizon's doc
    *    count — negligible per-day, not per-exabyte), silently dropping
    *    a non-duplicate; acceptable for corpus curation, not for audit.
    *  - `normalized = false`: keys on md5 of the RAW text — byte-exact,
    *    128-bit; THIS is the streaming twin of `dedup_exact` (same key
    *    the batch `Dedup.exactAgainstExisting` partitions on). */
  def streamingDedup(docs: DataFrame, tsCol: String = "event_ts",
                     watermark: String = "1 hour",
                     normalized: Boolean = true): DataFrame = {
    val key =
      if (normalized) graft.text.TextOps.fingerprint(col("text"))
      else md5(col("text"))
    docs
      .withColumn("__fp", key)
      .withWatermark(tsCol, watermark)
      // dropDuplicatesWithinWatermark, NOT dropDuplicates: with an
      // id-only key the plain variant never evicts state (eviction
      // requires the event-time column among the keys) and the store
      // grows unboundedly on a long-running stream
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Streaming incremental dedup against a STANDING corpus: each arriving
    * micro-batch is annotated with [[graft.dedup.Dedup.exactAgainstExisting]]
    * (dup_of / is_new) — the rolling-ingestion shape where yesterday's
    * corpus is a static frame and only today's stream is judged.
    * Within-stream repeats are handled by [[streamingDedup]] upstream;
    * this stage only judges stream-vs-corpus.
    *
    * Scale shape: the existing corpus reduces to (hash, min id) ONCE per
    * micro-batch via the static plan (Spark re-plans the static side each
    * batch — pre-aggregate and persist `existing` to parquet keyed by
    * hash if the corpus is large enough that re-reduction dominates).
    * foreachBatch is the documented pattern for stream-static joins that
    * need batch-only operators downstream (the sink writes annotated
    * batches wherever the pipeline lands them). */
  def incrementalDedupBatches(stream: DataFrame, existing: DataFrame,
                              onBatch: (DataFrame, Long) => Unit):
      DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      onBatch(
        graft.dedup.Dedup.exactAgainstExisting(
          batch, existing, col("doc_id"), col("text")),
        id)
    }

  /** Rolling-corpus budget state over a document stream: every
    * micro-batch's (group, quality-level) cost histogram folds into
    * persisted [[graft.text.BudgetSelect]] state, so the
    * corpus-so-far's budget cutoff resolves from state at any commit
    * WITHOUT re-scanning ingested data
    * ([[graft.text.BudgetSelect.budgetSelectFromState]] /
    * `budgetSelectPerGroupFromState`). Effectively-once where
    * foreachBatch alone is at-least-once: the fold is guarded by the
    * state's batch watermark
    * ([[graft.text.BudgetSelect.appendBudgetStatePerGroupBatch]] — the
    * batchId rides the committing generation's directory name, atomic
    * with the parquet commit), so a replayed micro-batch is skipped,
    * never double-counted. The first batch initializes missing state
    * (the cold-start). Caller sets checkpoint/trigger and starts. */
  def budgetStateFold(stream: DataFrame, group: Column, id: Column,
                      quality: Column, cost: Column,
                      statePath: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      graft.text.BudgetSelect.appendBudgetStatePerGroupBatch(
        batch, group, id, quality, cost, statePath, bid)
      ()
    }

  /** Rolling-corpus profiling state over a stream — the
    * [[budgetStateFold]] discipline applied to
    * [[graft.meta.ProfileState]]: each micro-batch's (group, value)
    * histogram folds into persisted state, so exact quantiles/counts of
    * everything ingested are a DRIVER READ at any commit
    * ([[graft.meta.ProfileState.exactQuantilesPerGroupFromState]]) —
    * zero corpus passes. Effectively-once via the same batch-watermark
    * generation stamping; first batch initializes missing state. */
  def profileStateFold(stream: DataFrame, group: Column, value: Column,
                       statePath: String,
                       weight: Column = lit(1L)): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      graft.meta.ProfileState.appendProfileStatePerGroupBatch(
        batch, group, value, statePath, bid, weight = weight)
      ()
    }

  /** Streaming decontamination: each micro-batch flagged against a
    * static benchmark corpus via
    * [[graft.text.Decontaminate.flag]] — same foreachBatch shape as
    * [[incrementalDedupBatches]]. The benchmark gram set is re-derived
    * per batch from the static plan; for a large fixed benchmark,
    * pre-compute its distinct grams once to parquet and pass that frame
    * as `bench` so only the broadcast remains per batch. */
  def decontaminateBatches(stream: DataFrame, bench: DataFrame,
                           onBatch: (DataFrame, Long) => Unit,
                           n: Int = 5, minHits: Int = 1):
      DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      onBatch(
        graft.text.Decontaminate.flag(
          batch, bench, col("doc_id"), col("text"), n, minHits),
        id)
    }

  /** A built decontamination stream: `writer` to start; call `release()`
    * after the stream stops to drop the benchmark gram cache (one
    * MEMORY_AND_DISK entry per build — it lives in the CacheManager, not
    * per-batch, so the cost is bounded by streams built, but a
    * long-running application cycling many streams should release). */
  final case class DecontaminateStream(
      writer: DataStreamWriter[Row],
      release: () => Unit)

  /** [[decontaminateBatches]] through the bloom prefilter, with BOTH
    * benchmark artifacts built ONCE before the stream starts: the bloom
    * bitmap AND the persisted distinct-gram frame — inside the batch
    * loop, [[graft.text.Decontaminate.flagBloom]] would re-scan the
    * benchmark and rebuild both every micro-batch. Each batch then pays
    * only its own gram kernels, the map-side probe, and the exact-verify
    * join against the cached gram set (for a benchmark too large to
    * persist in memory, materialize [[graft.text.Decontaminate.
    * benchGramSet]] to parquet and pass that read back in as `bench`).
    * The large-benchmark streaming shape.
    *
    * The gram frame is `persist(MEMORY_AND_DISK)` + an eager count — NOT
    * `localCheckpoint`: a checkpointed frame's lineage is truncated and
    * its blocks unreplicated, so losing ANY executor holding one
    * (decommission, spot kill, OOM) during the stream's lifetime makes
    * every later micro-batch fail on a missing block until the query is
    * externally restarted. Persist keeps the lineage: a lost partition
    * recomputes transparently from `bench`, and the eager count still
    * materializes the set before the first batch. The price is the cache
    * entry outliving the stream unless [[DecontaminateStream.release]]
    * is called — the bounded, recoverable trade. */
  def decontaminateBloomBatches(stream: DataFrame, bench: DataFrame,
                                onBatch: (DataFrame, Long) => Unit,
                                n: Int = 5, minHits: Int = 1,
                                expectedBenchGrams: Long = 1L << 22,
                                fpp: Double = 0.01): DecontaminateStream = {
    val bloom = graft.text.Decontaminate.benchBloom(
      bench, col("text"), n, expectedBenchGrams, fpp)
    val benchGrams = graft.text.Decontaminate
      .benchGramSet(bench, col("text"), n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    benchGrams.count() // materialize before the stream starts
    val writer = stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      onBatch(
        graft.text.Decontaminate.flagPrebuiltBloom(
          batch, benchGrams, bloom, col("doc_id"), col("text"), n, minHits),
        id)
    }
    DecontaminateStream(writer, () => { benchGrams.unpersist(); () })
  }

  /** Watermarked STREAM-STREAM interval join: each left event pairs
    * with right events on the same key within `[ts - window, ts]` —
    * the streaming twin of [[graft.ops.TemporalOps.rangeJoin]]. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so Spark can evict join state as the watermarks advance
    * — the state-bounded shape; an unconstrained stream-stream join
    * would buffer both streams forever.
    *
    * @param left  columns (key, ts, ...) — `ts` an event-time timestamp
    * @param right columns (key, ts, ...)
    * @param window   how far back a right row may be (e.g. "30 minutes")
    * @param watermark lateness bound applied to BOTH sides
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   window: String, watermark: String): DataFrame = {
    // only key/ts are renamed; shared PAYLOAD names would emerge as
    // ambiguous duplicate columns — fail fast with the fix in hand.
    // Same for payloads that collide with the RENAME TARGETS: a left
    // column literally named l_key would duplicate after the rename.
    val overlap = (left.columns.toSet - "key" - "ts")
      .intersect(right.columns.toSet - "key" - "ts")
    require(overlap.isEmpty,
      s"rename payload columns shared by both sides first: " +
        overlap.mkString(", "))
    val reserved = Set("l_key", "l_ts", "r_key", "r_ts")
    val clash = (left.columns.toSet ++ right.columns.toSet)
      .intersect(reserved)
    require(clash.isEmpty,
      s"rename payload columns that collide with the join's internal " +
        s"names first: ${clash.mkString(", ")}")
    val l = left.withColumnRenamed("key", "l_key")
      .withColumnRenamed("ts", "l_ts")
      .withWatermark("l_ts", watermark)
    val r = right.withColumnRenamed("key", "r_key")
      .withColumnRenamed("ts", "r_ts")
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
      s"""l_key = r_key AND
         |r_ts BETWEEN l_ts - interval $window AND l_ts""".stripMargin))
  }

  /** Streaming near-dedup against a PERSISTENT MinHash index
    * ([[graft.dedup.Dedup.writeMinhashIndex]]): each micro-batch queries
    * the stored bucketed tables — the standing corpus's shingle/signature
    * kernels ran once at index-build time, so the per-batch cost is the
    * batch's own kernels plus two slim joins (the rolling-ingestion
    * end-state of the foreachBatch family above; re-index on corpus
    * versions, not per batch). The index is RESOLVED once before the
    * stream starts — params read + table registration are driver work
    * that would otherwise repeat every trigger (the
    * [[decontaminateBloomBatches]] hoisting discipline). */
  def indexNearDupBatches(stream: DataFrame, indexPath: String,
                          onBatch: (DataFrame, Long) => Unit,
                          threshold: Double = 0.8):
      DataStreamWriter[Row] = {
    val idx = graft.dedup.Dedup.resolveMinhashIndex(
      stream.sparkSession, indexPath)
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      onBatch(
        graft.dedup.Dedup.queryMinhashIndexResolved(
          batch, col("doc_id"), col("text"), idx, threshold),
        id)
    }
  }

  case class SessEvent(user_id: Long, event_ts: java.sql.Timestamp)
  case class SessState(start: Long, end: Long, n: Long) // epoch millis
  case class SessionsState(open: Seq[SessState])
  case class ClosedSession(user_id: Long, session_start: Long,
                           session_end: Long, n_events: Long)

  /** Streaming gap-based sessionization — the streaming twin of
    * [[graft.ops.TemporalOps.sessionize]]: a user's session closes when
    * no event arrives within `gapMs` of its end, and the CLOSED session
    * (start, end, event count; epoch millis) is emitted exactly once.
    *
    * State per user is the LIST of still-open sessions, and a session
    * only closes when the WATERMARK passes its `end + gap` — never on a
    * within-batch gap jump. Both are load-bearing for out-of-order
    * streams: an event may arrive in a later micro-batch that is earlier
    * than (or bridges) sessions already observed, as long as it is above
    * the watermark; each batch therefore interval-merges state + new
    * events and re-partitions into closed/open by the current watermark.
    * Once the watermark passes `end + gap`, no admissible event (all
    * have ts ≥ watermark) can be within `gap` of that session, so its
    * emission is final and deterministic on replay. Events below the
    * watermark are dropped by the watermark itself — the batch
    * sessionizer is the backfill path for those.
    *
    * State is bounded: open sessions span at most the watermark horizon,
    * so ≤ (watermark delay / gap) + 1 sessions per key. Input needs
    * columns (user_id, event_ts). */
  def streamingSessions(spark: SparkSession, events: DataFrame,
                        gapMs: Long, watermark: String = "1 hour"):
      Dataset[ClosedSession] = {
    import spark.implicits._
    // null key/event-time rows are DROPPED, not crashed on: the
    // watermark's late-data filter keeps null-event-time rows (a null
    // ts never compares <= wm), so without this filter one such record
    // NPEs the handler and the restarted query replays the same pinned
    // batch — a poison-pill crash loop. No event time → no session is
    // the only coherent semantics anyway.
    events.select(col("user_id"), col("event_ts"))
      .where(col("user_id").isNotNull && col("event_ts").isNotNull)
      .withWatermark("event_ts", watermark)
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessEvent],
         state: GroupState[SessionsState]) =>
          // one code path for data and timeout invocations: on timeout
          // `rows` is empty and the merge below is the identity
          val wm = state.getCurrentWatermarkMs()
          val pts = rows
            .map(e => SessState(e.event_ts.getTime, e.event_ts.getTime, 1L))
            .toSeq
          val all = (state.getOption.map(_.open).getOrElse(Seq.empty) ++ pts)
            .sortBy(s => (s.start, s.end))
          val merged = all.foldLeft(List.empty[SessState]) { (acc, s) =>
            acc match {
              case h :: t if s.start - h.end <= gapMs =>
                SessState(h.start, math.max(h.end, s.end), h.n + s.n) :: t
              case _ => s :: acc
            }
          }.reverse
          // close at end + gap <= wm is EXACT, not off by one: Spark's
          // stateful late-data filter drops rows with ts <= watermark
          // (verified by the boundary spec — an event at ts == wm never
          // reaches this handler), so the earliest admissible event has
          // ts > wm >= end + gap and cannot merge (its gap exceeds gapMs)
          val (closed, open) = merged.partition(_.end + gapMs <= wm)
          if (open.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(SessionsState(open))
            // wake when the earliest open session becomes closable
            // (clamped above the watermark — required by the API)
            state.setTimeoutTimestamp(
              math.max(open.map(_.end + gapMs).min, wm + 1))
          }
          closed.iterator
            .map(s => ClosedSession(uid, s.start, s.end, s.n))
      }
  }

  case class TypedEvent(user_id: Long, event_type: String)
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user per-event-type running counts through Spark 4's
    * `transformWithState` (arbitrary-state API v2): state is a true
    * `MapState[event_type -> count]`, so one arriving event touches ONE
    * map entry in the state store — the old mapGroupsWithState API could
    * only read-modify-write the user's whole state blob. Emits the
    * updated (user, type, n) rows each micro-batch (Update mode). */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEvent, TypeCount] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var counts:
        org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        E.STRING, E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[TypedEvent],
        timers: org.apache.spark.sql.streaming.TimerValues):
        Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { e =>
        val next = touched.getOrElse(e.event_type,
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else 0L) + 1L
        touched.update(e.event_type, next)
      }
      touched.foreach { case (t, n) => counts.updateValue(t, n) }
      touched.iterator.map { case (t, n) => TypeCount(uid, t, n) }
    }
  }

  /** Wire [[TypeCountsProcessor]] over an event stream with columns
    * (user_id, event_type). Rows with a null user_id or event_type are
    * dropped: the primitive key decode and the MapState key both reject
    * null, and a streaming crash on one garbage record replays into a
    * poison-pill loop — [[windowedEventCounts]] is the twin that counts
    * null types as a group. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...RocksDBStateStoreProvider`) — `transformWithState` rejects the
    * default HDFS-backed provider at query start. */
  def runningTypeCounts(spark: SparkSession,
                        events: DataFrame): Dataset[TypeCount] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"))
      .where(col("user_id").isNotNull && col("event_type").isNotNull)
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserState(n_events: Long, total_value: Double)
  case class UserSummary(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: per-user running event
    * count and value total, emitted each micro-batch — the pattern for
    * session/entity state the built-in aggregates can't express.
    * Null-tolerant like the built-in aggregates it mirrors: null-key
    * rows are dropped (primitive key decode would crash-loop the query
    * on one garbage record), a null value counts the event and
    * contributes 0 to the total. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserSummary] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .where(col("user_id").isNotNull)
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSummary](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          state.update(UserState(n, tot))
          UserSummary(uid, n, tot)
      }
  }
}
