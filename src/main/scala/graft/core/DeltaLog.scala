package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.meta.PipelineMetrics

/** The ONE generation protocol for persisted state — the delta logs
  * here, the bucketed indexes ([[graft.sources.BucketedIndex]]) and
  * snapshot state ([[GenState]]) — and the delta-log layout every
  * rolling state index shares ([[graft.dedup.UrlSeen]],
  * [[graft.dedup.SigSeen]], [[graft.ingest.CdxLog]]):
  * {{{
  *   path/gen-<%016d>/delta-b<batchId>/  parquet + _SUCCESS
  *   path/delta-b<batchId>/              legacy (generation-0) layout
  * }}}
  * One committed directory per folded batch; `_SUCCESS` gates crash
  * safety (a fold that died mid-write is invisible); the max committed
  * stamp is the watermark; a batchId with a committed delta is a
  * REPLAY (the caller mutates nothing and re-derives its annotation);
  * a batchId at/below the watermark WITHOUT its own delta is an
  * out-of-order backfill and fails loudly — silently treating it as a
  * replay would permanently drop that batch's novel rows.
  *
  * GENERATIONS: the `gen-<n>[-b<batchId>]` name is parsed only here
  * ([[genDirsUnder]]); the current generation is the highest-numbered
  * one its family calls valid, else the root as legacy generation 0
  * ([[resolveGeneration]]); retention keeps the newest valid ones
  * ([[pruneBy]]). A family supplies only its validity test — a
  * committed delta here, the params marker for bucketed indexes, the
  * generation's own `_SUCCESS` for snapshots. For a delta log,
  * [[compactCutover]] materializes the min-folded state as the FIRST
  * delta of generation N+1 (stamped with the source watermark), which
  * becomes current the instant that delta's `_SUCCESS` marker lands —
  * no pointer file to flip, so a reader sees exactly the old or the
  * new generation, never neither or both. A crash mid-compaction
  * leaves an invisible orphan the retry overwrites; later folds land
  * in the new generation through the same rule. Old generations stay
  * until [[pruneGenerations]], which keeps the previous state for a
  * reader that resolved it just before the cutover. A pre-generation
  * path reads as generation 0 and migrates on its first cutover.
  *
  * Single writer per path (folds, cutover, prune) is the caller's
  * contract, as everywhere in this lifecycle; concurrent cutovers
  * would race for the same generation number.
  *
  * Keeping the mechanics in one object — and the lifecycle over them
  * in one trait, [[DeltaIndex]] — is what makes "all rolling indexes
  * share one lifecycle contract" a checkable property instead of a
  * convention: an index family cannot drift to its own replay
  * semantics without leaving these files. */
object DeltaLog {

  val deltaPrefix = "delta-b"
  val genPrefix = "gen-"
  private val batchMark = "-b"

  def fsRoot(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** One committed delta: batch stamp, directory, parquet file count
    * (the count rides the same listing that proved `_SUCCESS` — one
    * metadata round trip per delta, not three). */
  final case class Delta(batchId: Long, dir: String, parquetFiles: Int)

  /** The resolved state of a delta-log path: the current generation
    * number (0 = the legacy bare layout), the directory folds write
    * into, and the committed deltas under it. ONE resolution pass —
    * one listing of the root, one per generation root probed, one per
    * delta dir — and the fold/read/guard sites thread one Listing
    * through instead of re-resolving per question. */
  final case class Listing(generation: Long, genRoot: String,
                           deltas: Seq[Delta]) {
    /** Per-read parquet file total — the IndexHealth `files`
      * compaction signal. */
    def parquetFiles: Int = deltas.map(_.parquetFiles).sum
    /** Max committed batch stamp. */
    def watermark: Option[Long] =
      if (deltas.isEmpty) None else Some(deltas.map(_.batchId).max)
  }

  /** A generation's name; a [[GenState]] commit stamps its batchId. */
  private[graft] def genDirName(n: Long,
                                batchId: Option[Long] = None): String =
    f"$genPrefix$n%016d" + batchId.fold("")(b => s"$batchMark$b")

  def genDir(path: String, n: Long): String = s"$path/${genDirName(n)}"

  /** A parsed generation directory (batchId: a GenState stamp). */
  final case class Gen(n: Long, dir: org.apache.hadoop.fs.Path,
                       batchId: Option[Long])

  /** The one parser of the `gen-<n>[-b<batchId>]` name. None for junk:
    * another prefix, an unparseable or overflowing number or stamp. */
  private def parseGenName(name: String): Option[(Long, Option[Long])] =
    if (!name.startsWith(genPrefix)) None
    else {
      val body = name.drop(genPrefix.length)
      body.indexOf(batchMark) match {
        case -1 => body.toLongOption.map(g => (g, None))
        case i =>
          for (g <- body.take(i).toLongOption;
               b <- body.drop(i + batchMark.length).toLongOption)
            yield (g, Some(b))
      }
    }

  /** Committed deltas directly under `root` — each delta dir costs one
    * listStatus serving both the `_SUCCESS` check and the parquet
    * count. */
  private def deltasUnder(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path): Seq[Delta] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(deltaPrefix)) None
      else scala.util.Try(n.drop(deltaPrefix.length).toLong).toOption
        .flatMap { b =>
          val files = fs.listStatus(st.getPath)
          if (!files.exists(_.getPath.getName == "_SUCCESS")) None
          else Some(Delta(b, st.getPath.toString,
            files.count(_.getPath.getName.endsWith(".parquet"))))
        }
    }

  /** The `gen-*` directories under `root`, parsed, newest first. Junk
    * names ([[parseGenName]]) and plain files are ignored — they can
    * never shadow real state, and no prune ever deletes them. */
  def genDirsUnder(fs: org.apache.hadoop.fs.FileSystem,
                   root: org.apache.hadoop.fs.Path): Seq[Gen] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      parseGenName(st.getPath.getName)
        .map { case (g, b) => Gen(g, st.getPath, b) }
    }.sortBy(-_.n)

  /** Every generation at `path` with its `valid` verdict, newest first;
    * empty on a missing root. */
  private[graft] def generations(spark: SparkSession, path: String)
      (valid: (org.apache.hadoop.fs.FileSystem,
               org.apache.hadoop.fs.Path) => Boolean): Seq[(Gen, Boolean)] = {
    val (fs, root) = fsRoot(spark, path)
    if (!fs.exists(root)) Seq.empty
    else genDirsUnder(fs, root).map(g => (g, valid(fs, g.dir)))
  }

  /** Generic current-generation resolver — the ONE rule every
    * generation-versioned store shares (delta logs here; bucketed
    * indexes with their params marker; snapshots with `_SUCCESS`): the
    * highest-numbered `gen-*` dir satisfying `valid`, else the root
    * itself as generation 0 (the legacy flat layout). Orphans (crashed
    * writes — `valid` false) are skipped; that skip IS the reader side
    * of commit atomicity. */
  def resolveGeneration(spark: SparkSession, path: String)
                       (valid: (org.apache.hadoop.fs.FileSystem,
                                org.apache.hadoop.fs.Path) => Boolean)
      : (Long, String) = {
    val (fs, root) = fsRoot(spark, path)
    if (!fs.exists(root)) return (0L, path)
    genDirsUnder(fs, root)
      .find(g => valid(fs, g.dir))
      .map(g => (g.n, g.dir.toString))
      .getOrElse((0L, path))
  }

  /** Resolve `path` to its current generation: the highest-numbered
    * `gen-*` directory holding ≥1 committed delta, else the root
    * itself (legacy generation 0). An orphan generation (crashed
    * cutover — no committed delta) is skipped, which is exactly what
    * makes the cutover atomic from the reader's side. */
  def listing(spark: SparkSession, path: String): Listing = {
    val (fs, root) = fsRoot(spark, path)
    if (!fs.exists(root)) return Listing(0L, path, Seq.empty)
    genDirsUnder(fs, root).iterator
      .map(g => Listing(g.n, g.dir.toString, deltasUnder(fs, g.dir)))
      .find(_.deltas.nonEmpty)
      .getOrElse(Listing(0L, path, deltasUnder(fs, root)))
  }

  /** The CURRENT generation's committed (batchId, dir) deltas, unordered. */
  def committedDeltas(spark: SparkSession, path: String)
      : Seq[(Long, String)] =
    listing(spark, path).deltas.map(d => (d.batchId, d.dir))

  /** Max committed batch stamp — the replay guard. Survives compaction:
    * the cutover stamps the merged delta with the source watermark. */
  def watermark(spark: SparkSession, path: String): Option[Long] =
    listing(spark, path).watermark

  /** Current generation number: 0 until the first [[compactCutover]]. */
  def generation(spark: SparkSession, path: String): Long =
    listing(spark, path).generation

  /** The fold-entry check against the fold's resolved listing: true
    * when `batchId` is a REPLAY (its delta committed — mutate nothing,
    * annotate as the first run did; every committed fold leaves its
    * delta dir, even one that found zero novel rows); throws on an
    * out-of-order backfill (at/below the watermark with no committed
    * delta of its own). */
  def replayOrGuard(l: Listing, batchId: Long, path: String): Boolean = {
    val replay = l.deltas.exists(_.batchId == batchId)
    for (wm <- l.watermark if !replay && batchId <= wm)
      throw new IllegalArgumentException(
        s"out-of-order fold: batch $batchId is below the watermark " +
          s"$wm but was never committed at $path — " +
          "batches must be folded in ascending order (backfill would " +
          "silently lose this batch's novel rows)")
    replay
  }

  /** The delta directory a fold of `batchId` writes WITHIN a resolved
    * generation root. Pure path join — fold sites resolve ONE
    * [[listing]] and write to `deltaDir(l.genRoot, batchId)` so the
    * same resolution serves the replay guard, the state reads, and the
    * placement. */
  def deltaDir(path: String, batchId: Long): String =
    s"$path/$deltaPrefix$batchId"

  /** Atomic in-place compaction: `write` receives the NEXT generation's
    * root and must commit the merged state as a delta under it (the
    * families write `deltaDir(genRoot, watermark)` with overwrite —
    * the parquet `_SUCCESS` marker IS the cutover). Returns the new
    * generation number after verifying the cutover took; throws if
    * `write` committed nothing (the old generation stays current — a
    * failed compaction can never destroy state). */
  def compactCutover(spark: SparkSession, path: String)
                    (write: String => Unit): Long = {
    val l = listing(spark, path)
    if (l.deltas.isEmpty)
      throw new IllegalStateException(s"nothing committed at $path")
    cutoverBy(spark, path, l.generation,
      () => listing(spark, path).generation)(write)
  }

  /** The cutover mechanism itself, shared with non-delta-log
    * generation stores (the minhash bucketed-table store): write
    * generation `cur`+1 and verify the cutover took via `resolve` —
    * throwing (old generation stays current) when `write` committed
    * nothing. `cur` is the CALLER's already-resolved generation so a
    * cutover costs one post-write verification listing, not two extra
    * resolutions. */
  private[graft] def cutoverBy(spark: SparkSession, path: String,
                               cur: Long, resolve: () => Long)
                              (write: String => Unit): Long = {
    val next = cur + 1
    write(genDir(path, next))
    val after = resolve()
    if (after != next)
      throw new IllegalStateException(
        s"compaction cutover did not take at $path: wrote generation " +
          s"$next but $after is current — the write committed nothing")
    next
  }

  /** The fold-loop's self-maintenance policy: when the current
    * generation's per-read parquet file count exceeds `maxFiles`, run
    * the family's atomic cutover (`compact` — e.g.
    * [[DeltaIndex.compactInPlace]]) and prune retired
    * generations; otherwise do nothing. Returns the new generation
    * when a cutover ran. This is what keeps a year of rolling folds
    * bounded-file WITHOUT a maintenance window: the fold loop calls it
    * on the cadence it already probes IndexHealth, every cutover is
    * crash-atomic, and the watermark survives so the loop's replay
    * guarantees are unchanged across generations. O(listing) when no
    * compaction is due. */
  def compactIfFragmented(spark: SparkSession, path: String,
                          maxFiles: Int)(compact: => Long): Option[Long] = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    val l = listing(spark, path)
    // convergence guard: a single-delta generation IS the compacted
    // form — if it alone exceeds maxFiles, another rewrite cannot
    // shrink it, and triggering anyway would re-run an O(index)
    // rewrite (and retire the reader-safety previous generation) on
    // EVERY maintenance call, forever
    if (l.deltas.size <= 1 || l.parquetFiles <= maxFiles) None
    else {
      val g = compact
      pruneGenerations(spark, path)
      Some(g)
    }
  }

  /** Explicit maintenance: delete generations older than the previous
    * valid state and any orphan (uncommitted) generation dirs.
    * KEEPS the current generation and the newest valid state before it
    * (a generation dir, or the legacy root deltas when no older
    * generation exists) — a reader that resolved the previous
    * generation just before a cutover must still find its files; the
    * NEXT prune after the next cutover retires it. Returns the deleted
    * paths. No-op (empty) when nothing is deletable. */
  def pruneGenerations(spark: SparkSession, path: String): Seq[String] =
    pruneBy(spark, path,
      (fs, p) => deltasUnder(fs, p).nonEmpty,
      st => st.getPath.getName.startsWith(deltaPrefix))

  /** The one retention rule ([[pruneGenerations]], the bucketed
    * indexes' prune, [[GenState.prune]]): keep the newest `keepLast`
    * valid generations (clamped to ≥ 1: the current one always stays);
    * delete every other generation and every orphan, and — once the
    * kept generations reach `keepLast` — the legacy root entries
    * `legacyOf` selects. A failed delete is skipped, not thrown (a
    * commit that landed must not report failure; the next prune
    * retries). Returns the deleted paths. */
  private[graft] def pruneBy(spark: SparkSession, path: String,
      valid: (org.apache.hadoop.fs.FileSystem,
              org.apache.hadoop.fs.Path) => Boolean,
      legacyOf: org.apache.hadoop.fs.FileStatus => Boolean,
      keepLast: Int = 2): Seq[String] = {
    val (fs, root) = fsRoot(spark, path)
    val gens = generations(spark, path)(valid)
    val k = math.max(1, keepLast)
    val keep = gens.collect { case (g, true) => g.n }.distinct.take(k).toSet
    val dropGens = gens.collect {
      case (g, ok) if !ok || !keep.contains(g.n) => g.dir
    }
    val legacy =
      if (keep.size >= k)
        fs.listStatus(root).toSeq.filter(legacyOf).map(_.getPath)
      else Seq.empty
    (dropGens ++ legacy).filter(p =>
      try fs.delete(p, true) catch { case _: java.io.IOException => false })
      .map(_.toString)
  }
}

/** The rolling-index lifecycle over the [[DeltaLog]] layout, written
  * ONCE for every family ([[graft.dedup.UrlSeen]],
  * [[graft.dedup.SigSeen]], [[graft.ingest.CdxLog]]): read, watermark,
  * health, and compaction with its min-fold heal. A family declares
  * its `schema`, heal `key` and batch `stamp`, and writes its own fold
  * against [[DeltaLog.replayOrGuard]] and [[writeDelta]] — it cannot
  * drift to its own read, heal or compaction contract unnoticed. */
trait DeltaIndex {

  /** The index row — every read's projection, the cold read's schema. */
  def schema: StructType

  /** The heal key — an in-contract writer keeps exactly one row per
    * key, and `health`'s `maxList`/`skew` measure the degree. */
  protected def key: Seq[String]

  /** The batch-stamp field leading the heal's `min(struct(...))`: the
    * min is then first-batch-wins, with the winning batch's FULL row
    * carried along (a per-column min could splice two rows). */
  protected def stamp: String

  /** Physical layout of the compacted generation. The file count is a
    * CONTRACT, not a shuffle-partition accident: reads open every file,
    * and [[compactIfFragmented]] compares this count to its threshold.
    * coalesce CAPS at `targetFiles` without another exchange (small
    * states keep their naturally few files; a 200-shuffle-partition
    * corpus state lands at `targetFiles`, under the next trigger). */
  protected def layout(healed: DataFrame, targetFiles: Int): DataFrame =
    healed.coalesce(targetFiles)

  /** The standing index, empty (with schema) on a cold path.
    *
    * A RAW union of the committed deltas — no per-read aggregation:
    * deltas are disjoint by each family's fold invariant (a fold only
    * writes rows absent from the standing state, an uncommitted crash
    * is invisible, and a retry overwrites its own delta dir), so the
    * defensive min-fold would cost a corpus-scale shuffle on EVERY
    * read (twice per fold) to heal a state no in-contract writer can
    * produce. [[compact]] still applies the heal — the once-in-a-while
    * maintenance pass is where defense belongs. */
  def read(spark: SparkSession, path: String): DataFrame =
    readFrom(spark, DeltaLog.listing(spark, path))

  /** [[read]] against an already-resolved listing — a fold threads ONE
    * resolution through its guard, reads, and write instead of
    * re-listing the log per question (O(deltas) metadata round trips
    * each on an object store). */
  protected def readFrom(spark: SparkSession,
                         l: DeltaLog.Listing): DataFrame =
    if (l.deltas.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.parquet(l.deltas.map(_.dir): _*)
      .select(schema.fieldNames.toSeq.map(col): _*)

  /** Max committed batch stamp — the replay guard. */
  def watermark(spark: SparkSession, path: String): Option[Long] =
    DeltaLog.watermark(spark, path)

  /** Post-fold lifecycle telemetry — the
    * [[graft.dedup.Dedup.appendToMinhashIndex]] IndexHealth contract
    * over the delta-log layout: `files` counts parquet files across
    * COMMITTED deltas (the compaction signal — every fold adds at least
    * one, and reads open them all), `keys` the distinct heal keys, and
    * `maxList`/`skew` the duplicate-key degree, which an in-contract
    * writer keeps at exactly 1.0 — above 1.0 means out-of-contract
    * writes that [[compact]]'s min-fold will heal. O(index) — pace
    * calls at the orchestration layer, never per micro-fold. */
  def health(spark: SparkSession,
             path: String): PipelineMetrics.IndexHealth = {
    val l = DeltaLog.listing(spark, path)
    PipelineMetrics
      .indexHealth(readFrom(spark, l), struct(key.map(col): _*), path)
      .copy(files = l.parquetFiles, generation = l.generation)
  }

  /** Merge the delta log into ONE delta at `dest` (stamped with the
    * source's watermark, so replay guarding survives compaction for
    * the WATERMARK batch — the only one a crash-retry can replay;
    * older batch ids lose their per-batch deltas here and a
    * re-submitted old id after compaction fails the monotone-fold
    * guard loudly rather than being mistaken for a replay) —
    * the response to a growing per-read file count. Compact to a
    * FRESH path, then swap pointers (the compactMinhashIndex
    * convention). */
  def compact(spark: SparkSession, path: String, dest: String): Unit = {
    require(path != dest,
      "compact to a FRESH path, then swap pointers — or use " +
        "compactInPlace for the atomic generation cutover")
    writeCompacted(spark, path, dest, 32)
  }

  /** Atomic in-place compaction: [[compact]]'s healed, watermark-
    * stamped state lands as generation N+1 through the
    * [[DeltaLog.compactCutover]] discipline — readers see exactly the
    * old or the new state, a crash leaves an invisible orphan, later
    * folds land in the new generation, old generations stay until
    * [[DeltaLog.pruneGenerations]]. Returns the new generation. */
  def compactInPlace(spark: SparkSession, path: String,
                     targetFiles: Int = 32): Long =
    DeltaLog.compactCutover(spark, path)(
      writeCompacted(spark, path, _, targetFiles))

  /** Self-maintenance for the fold loop: atomic cutover + prune when
    * the per-read file count exceeds `maxFiles`, no-op otherwise — the
    * [[DeltaLog.compactIfFragmented]] policy. Call on the IndexHealth
    * cadence, never per micro-fold. */
  def compactIfFragmented(spark: SparkSession, path: String,
                          maxFiles: Int = 64): Option[Long] =
    DeltaLog.compactIfFragmented(spark, path, maxFiles)(
      // compact to HALF the trigger: the next cutover is then
      // ~maxFiles/2 folds away, not one — no rewrite-per-fold churn
      compactInPlace(spark, path, targetFiles = (maxFiles / 2).max(1)))

  /** Commit `rows` as `batchId`'s delta under the generation `root`;
    * overwrite, so a crashed write's retry replaces its own dir. */
  protected def writeDelta(rows: DataFrame, root: String,
                           batchId: Long): Unit =
    rows.write.mode("overwrite").parquet(DeltaLog.deltaDir(root, batchId))

  // the min-fold heal lives HERE, not in read(): compaction is the
  // maintenance pass, and it makes the healed state durable
  private def writeCompacted(spark: SparkSession, path: String,
                             destRoot: String, targetFiles: Int): Unit = {
    val l = DeltaLog.listing(spark, path)
    val wm = l.watermark.getOrElse(
      throw new IllegalStateException(s"nothing committed at $path"))
    val fields = schema.fieldNames.toSeq
    val rest = fields.filterNot(key.contains)
    val healed = readFrom(spark, l)
      .groupBy(key.map(col): _*)
      .agg(min(struct((stamp +: rest.filterNot(_ == stamp)).map(col): _*))
        .as("m"))
      .select(fields.map(f =>
        if (key.contains(f)) col(f) else col(s"m.$f").as(f)): _*)
    writeDelta(layout(healed, targetFiles), destRoot, wm)
  }
}
