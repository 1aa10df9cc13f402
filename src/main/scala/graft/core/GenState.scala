package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Generation-versioned parquet snapshots — the snapshot family of the
  * one generation protocol ([[DeltaLog]]) under every rolling-corpus
  * manifest here (budget-cutoff and profile histograms, the BPE merge
  * table): small driver-validated states that must survive crashed
  * writes, reject concurrent writers loudly, and skip replayed
  * streaming batches.
  *
  * Layout: `path/gen-<%016d>[-b<batchId>]`; naming, listing, the
  * current-generation rule and retention are [[DeltaLog]]'s, with a
  * generation VALID when it carries its `_SUCCESS` marker. What is
  * this family's own: writers NEVER touch an existing generation —
  * every commit writes the NEXT one (mode errorifexists) and only then
  * prunes, so
  *
  *  - a crash mid-write leaves an unmarked orphan that readers skip —
  *    the previous valid generation stays current (callers validate
  *    content BEFORE calling commit, so neither bad input nor a write
  *    failure can destroy existing state);
  *  - pruning keeps the immediately previous valid generation too (a
  *    reader that resolved the old current just before a writer pruned
  *    must still find its files);
  *  - two concurrent writers race for the same next number (max over
  *    ALL generations, orphans included, + 1) and the errorifexists
  *    write makes the loser FAIL LOUDLY instead of silently dropping
  *    its fold (single writer at a time is the caller's contract);
  *  - a streaming fold's `batchId` rides the committing generation's
  *    NAME — atomic with the parquet commit itself, no marker-file
  *    crash window — so an at-least-once foreachBatch replay is
  *    detected by [[batchWatermark]] and skipped ([[fold]]).
  *
  * A bare-parquet path written by a pre-generation version reads as the
  * current state and migrates to a generation on the next commit.
  * State size is the caller's contract (driver-validated, bounded
  * histograms — manifest-class, never corpus-scale).
  */
object GenState {

  private def committed(fs: org.apache.hadoop.fs.FileSystem,
                        gen: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(gen, "_SUCCESS"))

  private def generations(spark: SparkSession, path: String) =
    DeltaLog.generations(spark, path)(committed)

  /** Read the CURRENT state (latest valid generation; a legacy
    * bare-parquet root reads as-is — including throwing the reader's
    * own loud error for a missing or schema-foreign path). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(DeltaLog.resolveGeneration(spark, path)(committed)._2)

  /** True when nothing committed lives at `path` — no valid generation
    * and no legacy bare-parquet files (orphaned generation dirs do not
    * count). The streaming cold-start init gate. */
  def isUninitialized(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = DeltaLog.fsRoot(spark, path)
    generations(spark, path).forall(!_._2) &&
      (!fs.exists(root) || fs.listStatus(root).forall(_.isDirectory))
  }

  /** The highest streaming batchId folded into any surviving valid
    * generation — the foreachBatch replay guard. None when the state
    * holds no batch-stamped generations. */
  def batchWatermark(spark: SparkSession, path: String): Option[Long] =
    generations(spark, path).collect { case (g, true) => g.batchId }
      .flatten.maxOption

  /** Snapshot of a state dir's generation machinery — the ops probe
    * matching [[graft.meta.PipelineMetrics.indexHealth]]: more than two
    * surviving valid generations, or any unmarked orphan, signals an
    * interrupted or misbehaving writer worth investigating (a healthy
    * single-writer dir holds the current generation plus at most the
    * retained previous one, and prunes orphans at every commit). */
  final case class StateHealth(currentGen: Option[Long], validGens: Int,
                               orphans: Int, batchWatermark: Option[Long],
                               rows: Long) {
    override def toString: String =
      s"currentGen=${currentGen.getOrElse(-1L)} validGens=$validGens " +
        s"orphans=$orphans watermark=${batchWatermark.getOrElse(-1L)} " +
        s"rows=$rows"
  }

  /** Probe `path`'s generations and current-snapshot row count. Loud
    * (like [[read]]) on a path with neither generations nor legacy
    * parquet. */
  def health(spark: SparkSession, path: String): StateHealth = {
    val gens = generations(spark, path)
    val valid = gens.collect { case (g, true) => g }
    StateHealth(
      currentGen = valid.headOption.map(_.n),
      validGens = valid.size,
      orphans = gens.size - valid.size,
      batchWatermark = valid.flatMap(_.batchId).maxOption,
      rows = read(spark, path).count())
  }

  /** Commit `rows` (already driver-validated by the caller) as the next
    * generation, then auto-prune: unmarked orphans and all valid
    * generations older than the retained previous one are deleted
    * (retention = the new current + its immediate predecessor, i.e.
    * `prune(keepLast = 2)` — long-lived rolling state stays at a
    * bounded two snapshots no matter how many commits it has seen). */
  def commit(spark: SparkSession, rows: Seq[Row], schema: StructType,
             path: String, batchId: Option[Long] = None): Unit = {
    val (fs, root) = DeltaLog.fsRoot(spark, path)
    val next = (generations(spark, path).map(_._1.n) :+ 0L).max + 1
    val nextPath = new org.apache.hadoop.fs.Path(root,
      DeltaLog.genDirName(next, batchId))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("errorifexists").parquet(nextPath.toString)
    // a generation is only VALID (readable, prune-surviving) with its
    // _SUCCESS marker, and a committer may write none
    // (mapreduce.fileoutputcommitter.marksuccessfuljobs=false, common
    // on object stores) — the next sweep would then delete this
    // snapshot as a crash-orphan. The write above completed, so the
    // commit IS done: write the marker ourselves, loudly failing the
    // commit if we cannot. Marked, it is the newest valid generation,
    // which the sweep below always keeps.
    val marker = new org.apache.hadoop.fs.Path(nextPath, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, false).close()
    prune(spark, path)
  }

  /** Retention sweep ([[DeltaLog.pruneBy]]), also runnable standalone
    * (ops hygiene on a dir whose writer died before its commit-time
    * auto-prune, or to tighten retention to `keepLast = 1`): deletes
    * every unmarked crash-orphan and all but the newest `keepLast`
    * VALID generations. The current generation is never deleted
    * (`keepLast` is clamped to ≥ 1), and a legacy bare-parquet root is
    * never touched. Per-dir delete failures are non-fatal (a reader
    * holding an open file on some filesystems) — the next sweep
    * retries them. Returns the number of directories deleted. */
  def prune(spark: SparkSession, path: String, keepLast: Int = 2): Int =
    DeltaLog.pruneBy(spark, path, committed, _ => false, keepLast).size

  /** The one streaming-aware fold over snapshot state. A batch-stamped
    * fold (`batchId` set — foreachBatch is at-least-once, and a
    * histogram fold is not idempotent) is skipped as a replay when
    * `batchId` is at or below [[batchWatermark]], and cold-starts —
    * `merge` gets None — on uninitialized state; a plain fold (`batchId`
    * None) reads the current state, loudly failing on a missing path.
    * `merge` returns the validated rows of the next state, committed
    * with `batchId` in the generation's name. Returns true when the
    * fold was applied, false when skipped as a replay. */
  private[graft] def fold(spark: SparkSession, path: String,
                          schema: StructType, batchId: Option[Long])
                         (merge: Option[DataFrame] => Seq[Row]): Boolean =
    if (batchId.exists(b => batchWatermark(spark, path).exists(b <= _)))
      false
    else {
      val current =
        if (batchId.isDefined && isUninitialized(spark, path)) None
        else Some(read(spark, path))
      commit(spark, merge(current), schema, path, batchId)
      true
    }
}
