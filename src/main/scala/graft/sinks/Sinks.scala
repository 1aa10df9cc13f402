package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.Delims

/** File-sink parity helpers (SURVEY.md §2.2).
  *
  *  - K2 (HDFS create/append writer, Utils.scala:656-679): a distributed
  *    text sink — `SaveMode.Append` replaces the reference's driver-side
  *    create-or-append loop.
  *  - K3 (delimiter-rewrite CSV export, Utils.scala:273-286): translate
  *    the \0 field delimiter to commas and optionally prepend the
  *    `0..n-1` numeric header row the reference writes (cap 200 columns,
  *    Utils.scala:277).
  *  - K4 (recursive output cleanup, Utils.scala:244-265): subsumed by
  *    `SaveMode.Overwrite` on every writer here.
  */
object Sinks {

  /** K2: append one string column as text files. */
  def appendText(lines: DataFrame, path: String): Unit =
    lines.write.mode(SaveMode.Append).text(path)

  /** Training-export sink: write `df` partitioned by `shardCol` with rows
    * sorted by `orderCol` inside each shard (the deterministic replay
    * order from the `corpus_shuffle` gate in
    * [[graft.queries.SelectionGates]]), and a `_manifest` parquet
    * beside the shards recording per-shard row counts — the file a
    * training loader checks before consuming.
    *
    * Scale shape: `repartitionByRange(shard, order)` — NOT
    * `repartition(shard)`, which would funnel the whole export through
    * as many tasks as there are shards (the KvStore.write lesson). Range
    * partitioning spreads each shard's rows over many tasks in order
    * ranges; `partitionBy` still groups the files per shard, each file
    * is sorted, and the row-level `orderCol` carries the total replay
    * order across a shard's files. The sort leads with the partition
    * column so the V1Writes partitioned-write rule keeps it.
    *
    * The manifest counts the WRITTEN shards (`spark.read.parquet(path)`
    * — a footer-rowcount-only scan, no data pages), not a second pass
    * over `df`: with a nondeterministic or concurrently-changing
    * upstream, recomputing `df` could silently disagree with the files
    * just written. `_manifest` is underscore-prefixed, so data readers
    * of `path` never see it. */
  def shardedExport(df: DataFrame, shardCol: String, orderCol: String,
                    path: String): Unit = {
    df.repartitionByRange(col(shardCol), col(orderCol))
      .sortWithinPartitions(col(shardCol), col(orderCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(shardCol)
      .parquet(path)
    // pin the original schema: partition-column TYPE INFERENCE would
    // otherwise rewrite e.g. a string shard '00' to int 0 in the manifest
    df.sparkSession.read.schema(df.schema).parquet(path)
      .groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col(shardCol))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_manifest")
  }

  /** Compact a parquet dataset's small files: read `srcPath`, size the
    * output from the ACTUAL on-disk bytes (Hadoop listing, no data
    * scan), range-repartition on `orderCols` and rewrite to `destPath`
    * sorted within files. Small files are the silent killer of big
    * scans — every file costs a task, a footer read and an open/close;
    * a 100 TB store accreted from streaming micro-batches wants
    * ~`targetFileBytes` files, not millions of 1 MB ones.
    *
    * Range partitioning (not coalesce) is deliberate: it restores a
    * global sort order that makes min/max footer stats selective for
    * downstream range/prefix pruning, and it rebalances skewed inputs.
    * Writes to a SEPARATE destination — compact-in-place would delete
    * the input under its own scan; the caller swaps paths atomically in
    * whatever way its storage supports. */
  def compactTo(spark: org.apache.spark.sql.SparkSession,
                srcPath: String, destPath: String, orderCols: Seq[String],
                targetFileBytes: Long = 512L << 20): Unit = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    // Spark's own overwrite guard only catches EXACT path equality; a
    // destination nested in the source would land compacted copies
    // inside the dataset and double-count every row on the next read.
    // Qualify through Hadoop (NOT java.io.File, which mangles
    // scheme-qualified paths like file:/ or s3a:// into cwd-relative
    // ones and lets nested destinations slip past the check)
    val conf = spark.sparkContext.hadoopConfiguration
    val srcHP = new org.apache.hadoop.fs.Path(srcPath)
    val fs = srcHP.getFileSystem(conf)
    def qualified(p: org.apache.hadoop.fs.Path): String =
      p.getFileSystem(conf).makeQualified(p).toUri.toString.stripSuffix("/")
    val srcU = qualified(srcHP)
    val dstU = qualified(new org.apache.hadoop.fs.Path(destPath))
    require(dstU != srcU && !dstU.startsWith(srcU + "/") &&
      !srcU.startsWith(dstU + "/"),
      s"destPath must not equal or nest with srcPath ($srcPath vs $destPath)")
    val bytes = fs.getContentSummary(srcHP).getLength
    val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val cols = orderCols.map(col)
    spark.read.parquet(srcPath)
      .repartitionByRange(parts, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(destPath)
  }

  /** JSONL training-interchange export: one JSON object per line, the
    * format most training loaders ingest. `to_json(struct(*))` is a
    * codegen expression, so serialization runs at scan speed; column
    * order inside each object follows the frame's schema, making the
    * output deterministic given deterministic input. Pair with
    * [[shardedExport]]'s repartitionByRange when replay order matters —
    * this writer keeps whatever partitioning the frame arrives with. */
  def jsonlExport(df: DataFrame, path: String): Unit =
    // ignoreNullFields=false: every line carries every schema key (null
    // included) — strict loaders and first-record schema inference rely
    // on the uniform shape; Spark's default would DROP null-valued keys
    df.select(to_json(struct(col("*")),
        Map("ignoreNullFields" -> "false").asJava).as("line"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** K3: rewrite the \0-delimited single-column payload to comma-separated
    * text. `withNumericHeader` prepends one `0,1,…,n-1` row (n capped at
    * 200 like the reference's generated header).
    *
    * `singleFile = true` (the default, faithful to the reference's
    * one-file export) funnels the WHOLE frame through one write task —
    * correct for the report-sized exports this models, a scale hazard
    * for anything else. The guard is explicit: a single-file request
    * over more than `singleFileMaxRows` rows fails loudly instead of
    * hanging a 100 TB frame on one task; pass `singleFile = false` to
    * write sharded (use [[shardedExport]] when replay order matters). */
  def delimiterRewriteCsv(lines: DataFrame, col0: String, path: String,
                          withNumericHeader: Boolean = false,
                          headerWidth: Int = 200,
                          singleFile: Boolean = true,
                          singleFileMaxRows: Long = 10000000L): Unit = {
    val rewritten = lines.select(
      translate(col(col0), Delims.Delim, Delims.DelimComma).as("line"))
    val out =
      if (!withNumericHeader) rewritten
      else {
        val header = rewritten.sparkSession
          .range(1).select(lit((0 until headerWidth).mkString(",")).as("line"))
        header.unionByName(rewritten)
      }
    val shaped =
      if (!singleFile) out
      else {
        // the probe is capped at Int.MaxValue-1 (limit() takes an Int),
        // so the ENFORCED bound is min(requested, Int.MaxValue-1): a
        // request above the cap must tighten to it, not silently disable
        // the check (probe <= Int.MaxValue <= requested would hold for
        // ANY frame size — the exact one-task hang the guard rejects)
        val cap = math.min(singleFileMaxRows, Int.MaxValue - 1L)
        // limit(cap+1) bounds the probe itself — never a full count of
        // an over-sized frame just to reject it
        val probe = out.limit(cap.toInt + 1).count()
        require(probe <= cap,
          s"single-file export exceeds $cap rows" +
            (if (cap < singleFileMaxRows)
              s" (requested $singleFileMaxRows, enforced cap ${Int.MaxValue - 1})"
            else "") +
            " — pass singleFile = false (sharded) for frames this size")
        out.coalesce(1)
      }
    shaped.write.mode(SaveMode.Overwrite).text(path)
  }
}
