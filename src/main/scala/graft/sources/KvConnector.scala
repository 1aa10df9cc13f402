package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.{expressions => cexp}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, OutputWriter, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.execution.datasources.v2.PartitionReaderFromIterator
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{EqualTo, Filter, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Salt

/** DataSource V2 connector over the salted-KV parquet layout
  * (`KvStore.write` output: parquet files under `path/salt=N`, rowKey-sorted)
  * — the connector boundary the reference's HBase client occupies
  * (bulkGet `Utils.scala:288-369`, PrefixFilter scan
  * `MetricDetails.scala:99-117`), so the store becomes swappable for a
  * live KV backend without touching query code.
  *
  * The files are Spark's own parquet, read and written by Spark's own
  * parquet reader and writer (the ones behind `KvStore.read`/`write`).
  * The connector owns only what Spark cannot know: file placement, salt
  * pruning and the commit protocol.
  *
  * Pushdown (SupportsPushDownFilters + SupportsPushDownRequiredColumns):
  *
  *  - `EqualTo(rowKey, k)` — point get: the connector derives the salt
  *    bucket from the key (`Salt.bucket(k)`) and reads ONLY that salt
  *    directory. The generic parquet source cannot do this (salt =
  *    f(rowKey) is engine knowledge); it is exactly HBase's
  *    region-locating get.
  *  - `EqualTo(salt, n)` — explicit partition pruning.
  *  - `StringStartsWith(rowKey, p)` — prefix scan.
  *
  * The rowKey predicates also go to Spark's parquet filter pushdown,
  * which skips row groups whose [min, max] rowKey statistics (unsigned
  * byte order) cannot match — HBase PrefixFilter + the rowKey-sorted
  * file layout doing its job.
  *
  * All pushed filters are ALSO returned as residuals, so Spark
  * re-evaluates them post-scan — pruning here is an optimization, never
  * a correctness dependency. Column pruning decodes only requested
  * fields; `salt` is the partition value from the directory name
  * (partitionBy strips it from the files), so a salt-only projection
  * decodes nothing.
  *
  * Runtime filtering (SupportsRuntimeV2Filtering): a broadcast join on
  * rowKey replans the scan with the build side's keys after the build
  * executes — point-lookup joins read only the matching salt
  * directories and row groups, the bulkGet multiget at join level.
  *
  * Usage: `spark.read.format("graft.sources.KvSource").load(path)`.
  */
class KvSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KvConnector.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null,
      "graft.sources.KvSource requires exactly one path: .load(<kvStoreDir>)")
    new KvTable(path)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object KvConnector {
  /** The KV store schema (FIXTURES.md A4 / KvStore.pack output). */
  val schema: StructType = StructType(Seq(
    StructField("rowKey", StringType),
    StructField("columnName", StringType),
    StructField("value", StringType),
    StructField("salt", IntegerType)))

  /** The columns a store file holds; the salt lives in the directory
    * name. */
  private[sources] val fileSchema: StructType =
    StructType(schema.filterNot(_.name == "salt"))

  /** File-name-safe form of a caller-supplied identifier (query id,
    * stream id) — staged and committed file names embed these, and a
    * path separator smuggled through an option must not escape the
    * store directory. */
  private[sources] def sanitizeId(id: String): String =
    id.replaceAll("[^A-Za-z0-9_.-]", "-")

  /** Every (parquet file, salt) under the store — the listing every scan
    * flavor prunes from.
    *
    * LOCAL paths only, loudly: the connector's whole commit protocol is
    * java.io atomic renames, and `File.listFiles` on an `hdfs://`/`s3a://`
    * URI returns null — every scan (and COUNT(*)) of a remote store
    * would silently report an EMPTY store. Remote stores go through the
    * plain parquet source (`KvStore.read`), which speaks Hadoop FS.
    *
    * Any other top-level directory fails the scan as loudly: a store
    * laid out under another partition level (the `muprStream`
    * `batch_id=…/salt=…` tree) would otherwise read as EMPTY — no rows
    * and a COUNT(*) of 0. Only the connector's own `_`-prefixed
    * staging/commit dirs and hidden `.` entries are skipped. */
  private[sources] def storeFiles(path: String): Seq[(java.io.File, Int)] = {
    schemeOf(path).foreach { s =>
      throw new IllegalArgumentException(
        s"graft.sources.KvSource is a local-filesystem connector; got " +
          s"scheme '$s' in $path — read remote stores with the parquet " +
          "source (KvStore.read) instead")
    }
    val root = new java.io.File(path)
    for {
      dir <- Option(root.listFiles()).getOrElse(Array.empty).toSeq
      if dir.isDirectory && !dir.getName.startsWith("_") &&
        !dir.getName.startsWith(".")
      _ = if (!dir.getName.startsWith("salt="))
        throw new IllegalStateException(
          s"KV store at $path contains '${dir.getName}', which is not a " +
            "salt=N partition — graft.sources.KvSource reads only the " +
            "flat KvStore.write layout; read partitioned trees (e.g. a " +
            "muprStream store's batch_id=…/salt=…) with KvStore.read")
      salt = dir.getName.stripPrefix("salt=") match {
        // guard, don't toInt: a null salt written around the connector
        // leaves salt=__HIVE_DEFAULT_PARTITION__, and a raw toInt would
        // make EVERY scan of the store throw NumberFormatException with
        // no hint which directory is at fault
        case s if s.nonEmpty && s.length <= 9 && s.forall(_.isDigit) => s.toInt
        case bad => throw new IllegalStateException(
          s"KV store at $path contains a non-numeric salt partition " +
            s"'salt=$bad' — the invariant salt = Salt.bucket(rowKey) is " +
            "broken (null salt, or a stray directory?); quarantine or " +
            "rewrite that directory before scanning")
      }
      f <- Option(dir.listFiles()).getOrElse(Array.empty)
      if f.getName.endsWith(".parquet")
    } yield (f, salt)
  }

  /** URI scheme of a store path, None for plain local paths. */
  private def schemeOf(path: String): Option[String] =
    "^([A-Za-z][A-Za-z0-9+.-]*)://".r.findFirstMatchIn(path).map(_.group(1))

  private[sources] def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(); ()
  }

  /** Operator utility: delete crashed writes' leftover underscore dirs
    * (`_staging_*`, `_new_*`, `_old_*`) older than `olderThanMillis`.
    * Readers ignore underscore dirs, so leftovers are invisible to
    * queries — this bounds DISK growth across crashes. Age-gated because
    * a live concurrent writer's staging is indistinguishable from a dead
    * one's by name alone; pick a threshold longer than any plausible
    * write (streaming epoch staging is swept automatically and exactly —
    * see KvStreamingWrite — so this is for crashed BATCH jobs). */
  def sweepStaleStaging(path: String, olderThanMillis: Long): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val stale = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        (d.getName.startsWith("_staging_") || d.getName.startsWith("_new_") ||
          d.getName.startsWith("_old_")) &&
        d.lastModified() < cutoff)
    stale.foreach(deleteRec)
    stale.length
  }
}

class KvTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_kv($path)"
  override def schema(): StructType = KvConnector.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(path, info)
}

class KvScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = KvConnector.schema
  private var countPushed = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("rowKey", _: String) => true
      case EqualTo("salt", _) => true
      case StringStartsWith("rowKey", _) => true
      case _ => false
    }
    filters // everything stays a residual — pruning is best-effort
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // COUNT(*) answers from parquet footers without decoding a row — the
  // metadata count an HBase RowCounter job pays a full scan for. Only a
  // bare unfiltered un-grouped count qualifies: Spark refuses aggregate
  // pushdown whenever post-scan filters exist (all our filters stay
  // residual), and the builder additionally requires no pushed filters,
  // so a filtered count always takes the normal decode path.
  private def isBareCountStar(
      agg: cexp.aggregate.Aggregation): Boolean =
    pushed.isEmpty && agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[cexp.aggregate.CountStar]

  override def supportCompletePushDown(
      agg: cexp.aggregate.Aggregation): Boolean = isBareCountStar(agg)
  override def pushAggregation(
      agg: cexp.aggregate.Aggregation): Boolean = {
    countPushed = isBareCountStar(agg)
    countPushed
  }

  override def build(): Scan =
    if (countPushed) new KvCountScan(path)
    else new KvScan(path, pushed, required)
}

/** Complete COUNT(*) pushdown: the driver sums footer record counts —
  * zero tasks decode store bytes; one row comes back. */
class KvCountScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = s"graft_kv PushedAggregation=[COUNT(*)]"

  override def planInputPartitions(): Array[InputPartition] = {
    // footer reads are independent metadata fetches — parallelize on the
    // driver so a many-file store pays listing-class latency, not a
    // serial footer walk
    import scala.collection.parallel.CollectionConverters._
    val total = KvConnector.storeFiles(path).par.map { case (f, _) =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), new Configuration()))
      try r.getRecordCount finally r.close()
    }.sum
    Array(KvCountPartition(total))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = !emitted && { emitted = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(
              Array[Any](p.asInstanceOf[KvCountPartition].count))
          override def close(): Unit = ()
        }
    }
}

case class KvCountPartition(count: Long) extends InputPartition

class KvScan(path: String, pushed: Array[Filter], required: StructType)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics {
  // the data columns as requested, then the salt: Spark's parquet
  // reader appends partition values after the file's columns
  private val (saltSchema, dataSchema) =
    required.partition(_.name == "salt") match {
      case (s, d) => (StructType(s), StructType(d)) }
  private val readsSalt = saltSchema.nonEmpty
  override def readSchema(): StructType = StructType(dataSchema ++ saltSchema)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_kv pushed=[${pushed.mkString(", ")}]"

  // ── Runtime (join-driven) filtering ──────────────────────────────────
  // The DSv2 analogue of the reference's bulkGet region locating
  // (Utils.scala:288-369): when this store is the probe side of a
  // broadcast join on rowKey, Spark hands the build side's keys here as
  // an IN predicate AFTER the build side executes, and the scan replans
  // to ONLY the salt directories those keys hash to — a point-lookup
  // join against a 24-salt (or 24,000-salt) store reads the matching
  // directories, not the store. The keys also go to the parquet
  // row-group filter, so within a directory only covering row groups
  // decode. Conservative by design: an unrecognized predicate shape
  // prunes nothing (the join still filters rows), never drops data.
  private var runtimeKeys: Option[Array[String]] = None

  override def filterAttributes(): Array[cexp.NamedReference] =
    Array(Expressions.column("rowKey"))

  override def filter(predicates: Array[cexp.filter.Predicate]): Unit =
    predicates.foreach { p =>
      if (p.name() == "IN") p.children().toSeq match {
        case Seq(ref: cexp.NamedReference, values @ _*)
            if ref.fieldNames().sameElements(Array("rowKey")) &&
              values.forall(_.isInstanceOf[cexp.Literal[_]]) =>
          runtimeKeys = Some(values
            .map(_.asInstanceOf[cexp.Literal[_]].value())
            .filter(_ != null).map(_.toString).toArray)
        case _ => ()
      }
    }

  private def effectiveFilters: Seq[Filter] =
    pushed.toSeq ++ runtimeKeys.map(ks =>
      org.apache.spark.sql.sources.In("rowKey", ks.toArray[Any]))

  /** The pruned files, packed into Spark's own file partitions: salt and
    * point-get pruning (static and runtime) happen here on the driver
    * before any task launches, and the survivors are bin-packed by the
    * rule every built-in file source uses (`maxPartitionBytes`,
    * `openCostInBytes`, the session's default parallelism). A store of
    * many small salt files scans in about one task per core instead of
    * one task per file. Files stay whole — a reader streams a file's
    * row groups in order — and each carries its salt as its partition
    * value when the scan reads the salt. */
  override def planInputPartitions(): Array[InputPartition] = {
    val (saltEq, pruneSalts) = saltPruning(runtimeKeys)
    val files = prunedFiles(saltEq, pruneSalts)
      .sortBy { case (f, _) => -f.length() } // largest first, as FileSourceScanExec
      .map { case (f, salt) =>
        PartitionedFile(if (readsSalt) InternalRow(salt) else InternalRow.empty,
          SparkPath.fromPath(new Path(f.getAbsolutePath)), 0, f.length()) }
    val spark = SparkSession.active
    val openCost = SQLConf.get.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.length + openCost).sum)
    FilePartition.getFilePartitions(spark, files, maxSplit).toArray
  }

  /** Shared salt-pruning derivation: the set of salts the pushed
    * filters (and optional runtime point-get keys) pin the scan to, and
    * whether pruning applies at all. ONE implementation on purpose —
    * planInputPartitions and estimateStatistics both use it, so the
    * stats a join planner sees always describe the file set the scan
    * will actually read. */
  private def saltPruning(runtime: Option[Array[String]]): (Set[Int], Boolean) = {
    val saltEq: Set[Int] = (pushed.collect {
      case EqualTo("salt", n: Int) => Set(n)
      // a point get knows its salt — HBase's region locating
      case EqualTo("rowKey", k: String) => Set(Salt.bucket(k))
    } ++ runtime.map(_.map(k => Salt.bucket(k)).toSet).toSeq)
      .reduceOption(_ intersect _).getOrElse(Set.empty)
    val prune = pushed.exists {
      case EqualTo("salt", _) | EqualTo("rowKey", _) => true
      case _ => false
    } || runtime.isDefined
    (saltEq, prune)
  }

  private def prunedFiles(saltEq: Set[Int],
                          pruneSalts: Boolean): Seq[(java.io.File, Int)] =
    KvConnector.storeFiles(path)
      .filter { case (_, salt) => !pruneSalts || saltEq.contains(salt) }

  /** Post-pushdown size estimate from the pruned file set (mirroring the
    * built-in file sources: on-disk bytes × the session compression
    * factor). Without this a V2 relation costs `defaultSizeInBytes`
    * (effectively infinite), so a point-get or small store could never
    * win a broadcast-join decision. */
  override def estimateStatistics(): Statistics = {
    // stats run at planning time, before runtime filtering delivers the
    // point-get keys — static pruning only
    val (saltEq, pruneSalts) = saltPruning(runtime = None)
    val bytes = prunedFiles(saltEq, pruneSalts).map(_._1.length()).sum
    val factor = SQLConf.get.fileCompressionFactor
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of((bytes * factor).toLong)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  /** Spark's own parquet reader (vectorized, one row at a time), built
    * once per scan on the driver; the rowKey predicates drive its
    * row-group skipping on the rowKey statistics. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, KvConnector.fileSchema, saltSchema, dataSchema,
      effectiveFilters.filter(_.references.sameElements(Array("rowKey"))),
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    new KvReaderFactory(readFile)
  }
}

/** Reads one packed partition's files in turn. */
class KvReaderFactory(readFile: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReaderFromIterator(
      partition.asInstanceOf[FilePartition].files.iterator.flatMap(readFile))
}

// ── DSv2 write path ────────────────────────────────────────────────────
// The connector boundary is bidirectional, like the reference's
// (BufferedMutator put, Utils.scala:68-74, 98-106): `df.write.format(
// "graft.sources.KvSource").mode(...).save(path)` produces EXACTLY the
// `KvStore.write` layout — parquet under path/salt=N, rows sorted by
// (rowKey, columnName) within each file — so connector-written stores
// are indistinguishable to the read path (row-group pruning included).
// The files come from Spark's own parquet writer, the one KvStore.write
// uses (see KvTaskFiles); the connector decides only where each file
// goes and when it becomes visible.
//
// The layout is requested FROM Spark, not hand-built: the Write declares
// RequiresDistributionAndOrdering(ordered by salt, rowKey, columnName),
// the V2 planner inserts the range exchange + sort (the V2-native twin
// of KvStore.writeLayout's repartitionByRange + sortWithinPartitions,
// with the same scale property — write tasks scale with
// spark.sql.shuffle.partitions, never funnel through ≤24 salt values),
// and each task just rolls to a new file when the salt changes.
// Commit protocol: tasks write to a hidden staging dir, the driver
// moves only committed tasks' files into place, so readers never see a
// half-written store. Committed file names embed the write's queryId:
// partitionId and taskId both restart at 0 in every new SparkContext, so
// without a per-job token two append jobs from separate applications
// (e.g. a daily ETL) would deterministically stage the SAME names and
// the later commit would silently replace the earlier one's files.
// Appends additionally refuse to overwrite an existing destination —
// a name collision is always a bug, never something to paper over.
//
// Overwrite (truncate) commits swap rather than delete-then-move: the
// committed files assemble into a complete sibling `_new_<queryId>`
// store first, then the old salt directories rename aside into
// `_old_<queryId>` and the new ones rename in — directory renames, not
// per-file moves, so the non-atomic window is metadata-sized. A crash
// before the swap leaves the old store untouched; a crash inside it
// leaves every old directory recoverable under `_old_<queryId>`
// (readers ignore underscore-prefixed directories). Overwrite is NOT
// crash-atomic across the swap itself — a concurrent reader during
// those renames can observe a partially-swapped directory set.

class KvWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val names = info.schema().fieldNames.toSeq
    require(Seq("rowKey", "columnName", "value", "salt").forall(names.contains),
      s"graft.sources.KvSource write needs columns " +
        s"(rowKey, columnName, value, salt); got ${names.mkString(", ")}")
    // stable stream identity for streaming writes (see KvStreamingWrite);
    // batch writes key everything off the per-job queryId
    val streamId = KvConnector.sanitizeId(
      Option(info.options().get("streamId")).getOrElse("stream"))
    new KvWrite(path, info.schema(), doTruncate,
      KvConnector.sanitizeId(info.queryId()), streamId)
  }
}

class KvWrite(path: String, schema: StructType, truncate: Boolean,
              queryId: String, streamId: String)
    extends Write with RequiresDistributionAndOrdering {
  private def asc(col: String): SortOrder =
    Expressions.sort(Expressions.column(col), SortDirection.ASCENDING)
  // ordered distribution = range partitioning over the sort key — tasks
  // receive contiguous (salt, rowKey) runs, so a task writes whole
  // sorted spans of at most a few salt directories
  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(asc("salt"), asc("rowKey")))
  override def requiredOrdering(): Array[SortOrder] =
    Array(asc("salt"), asc("rowKey"), asc("columnName"))
  override def toBatch: BatchWrite =
    new KvBatchWrite(path, schema, truncate, queryId)
  override def toStreaming: StreamingWrite =
    new KvStreamingWrite(path, schema, queryId, streamId)
  override def description(): String = s"graft_kv write path=$path"
}

case class KvCommitMessage(relFiles: Seq[String]) extends WriterCommitMessage

class KvBatchWrite(path: String, schema: StructType, truncate: Boolean,
                   queryId: String) extends BatchWrite {
  private val staging = new java.io.File(path, s"_staging_$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KvWriterFactory(staging.getAbsolutePath, schema, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new java.io.File(path)
    // ONLY files named in committed task messages move — a speculative
    // attempt that lost the commit race leaves files in staging, and
    // they die with it here
    val committed = messages.flatMap {
      case KvCommitMessage(rels) => rels
      case other =>
        throw new IllegalStateException(s"unexpected commit message $other")
    }
    if (truncate) {
      // assemble the complete new store beside the old one, then swap
      // directory-by-directory (see the commit-protocol note above)
      val fresh = new java.io.File(path, s"_new_$queryId")
      committed.foreach { rel =>
        val src = new java.io.File(staging, rel)
        val dst = new java.io.File(fresh, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(src.toPath, dst.toPath)
      }
      val old = new java.io.File(path, s"_old_$queryId")
      old.mkdirs()
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("salt="))
        .foreach(d => java.nio.file.Files.move(d.toPath,
          new java.io.File(old, d.getName).toPath))
      Option(fresh.listFiles()).getOrElse(Array.empty)
        .foreach(d => java.nio.file.Files.move(d.toPath,
          new java.io.File(root, d.getName).toPath))
      deleteRec(old)
      deleteRec(fresh)
    } else {
      // names carry this job's queryId, so an existing destination means
      // two writers share a query id — fail loudly, never replace
      // another job's committed data. Pre-scan EVERY destination before
      // moving ANY file (a collision discovered mid-loop would leave a
      // partially applied append visible to readers), and if a move
      // still fails — a CONCURRENT same-queryId commit can land a file
      // after the scan (check-then-act), or the filesystem can error —
      // roll the already-moved files back to staging so the store is
      // unchanged either way. The non-REPLACE move makes the concurrent
      // race fail-loud, never silent clobber.
      val clash = committed.find(rel => new java.io.File(root, rel).exists())
      clash.foreach { rel =>
        throw new IllegalStateException(
          s"graft_kv append collision: ${new java.io.File(root, rel)} " +
            "already exists (two writes sharing a query id?); refusing " +
            "to overwrite — commit aborted with the store unchanged")
      }
      val moved = scala.collection.mutable.ArrayBuffer.empty[String]
      try committed.foreach { rel =>
        val src = new java.io.File(staging, rel)
        val dst = new java.io.File(root, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(src.toPath, dst.toPath)
        moved += rel
      } catch {
        case e: Throwable =>
          moved.foreach { rel =>
            try java.nio.file.Files.move(
              new java.io.File(root, rel).toPath,
              new java.io.File(staging, rel).toPath)
            catch { case r: Throwable => e.addSuppressed(r) }
          }
          throw e
      }
    }
    deleteRec(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    deleteRec(staging)
    // a commit that failed during _new ASSEMBLY (swap not started: no
    // _old dir yet) leaves a partial _new — clean it. Once the swap has
    // begun, _old and _new together are the only complete copy of the
    // data, so BOTH must survive for operator recovery; and _old is
    // never touched here under any circumstance.
    val old = new java.io.File(path, s"_old_$queryId")
    if (!old.exists())
      deleteRec(new java.io.File(path, s"_new_$queryId"))
  }

  private def deleteRec(f: java.io.File): Unit = KvConnector.deleteRec(f)
}

class KvWriterFactory(stagingPath: String, schema: StructType,
                      queryId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(stagingPath, schema, partitionId, taskId, queryId)
}

// ── Streaming write ────────────────────────────────────────────────────
// `df.writeStream.format("graft.sources.KvSource")` — the streaming twin
// of the reference's BufferedMutator flush loop (Utils.scala:68-74): each
// micro-batch lands as appended salt-directory files.
//
// Epoch replays are IDEMPOTENT, via two mechanisms:
//
//  - committed-epoch markers: commit records `_commits_<streamId>/
//    epoch-<N>` (written LAST) and a replay of an already-marked epoch
//    is a no-op — the sink-side ledger, independent of the engine
//    checkpoint.
//  - stale-file sweep: an UNMARKED commit (the original attempt crashed
//    mid-move) first deletes every committed file of this (stream,
//    epoch) before moving its own. This also covers a replay that
//    planned a DIFFERENT partition count than the crashed attempt —
//    relying on name-overwrite alone would leave the extra partitions'
//    files from the first attempt duplicating rows.
//
// File names carry (partition, epoch, streamId) — never the task
// attempt. `streamId` defaults to "stream" and is overridable with
// `.option("streamId", ...)`; it exists so the MARKERS and file names
// of distinct streaming queries sharing one store stay disjoint — two
// concurrent queries (or a query restarted from a FRESH checkpoint,
// which resets epochs to 0) must set distinct streamIds or they will
// treat each other's epochs as their own.
//
// Unlike the batch path, a micro-batch's rows arrive in whatever
// distribution the streaming plan produced (micro-batch planning does
// not honor RequiresDistributionAndOrdering), so the writer buffers the
// partition's rows, groups by salt and sorts by (rowKey, columnName) in
// UTF-8 byte order — the batch ordering and parquet's binary statistics
// both use it, and Java String (UTF-16) order disagrees beyond U+FFFF —
// preserving the sorted-file contract the read path's row-group pruning
// depends on. Micro-batches are small by construction;
// the buffer is one partition of one batch, never the store.

class KvStreamingWrite(path: String, schema: StructType, queryId: String,
                       streamId: String)
    extends StreamingWrite {
  // '=' separators: sanitizeId never emits '=', so the name parses
  // unambiguously even when streamId/queryId contain '_' — and a stream
  // named "a" can never mistake stream "a_b"'s staging for its own
  private def staging(epochId: Long) =
    new java.io.File(path, KvStreamingWrite.stagingName(streamId, queryId, epochId))
  private def marker(epochId: Long) =
    new java.io.File(path, s"_commits_$streamId/epoch-$epochId")

  /** Staging dirs of THIS stream left by earlier epochs under any
    * (crashed) run's queryId. Epochs commit in order, so at epoch N
    * every staged dir of this stream with epoch <= N is dead — either
    * committed long ago or an abandoned attempt a restart superseded.
    * Other streams' staging (different streamId prefix) is never
    * touched: concurrent queries legitimately share a store. Without
    * this sweep, a crash between staging and commit leaks the staged
    * parquet forever — the restarted run gets a fresh queryId and its
    * own cleanup paths never match the old names. */
  private def staleStagingDirs(epochId: Long): Seq[java.io.File] = {
    val pat = java.util.regex.Pattern.compile(
      s"_staging_${java.util.regex.Pattern.quote(streamId)}=[^=]*=e(\\d+)")
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty).toSeq
      .filter { d =>
        val m = pat.matcher(d.getName)
        d.isDirectory && m.matches() &&
          scala.util.Try(m.group(1).toLong).toOption.exists(_ <= epochId)
      }
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new KvStreamingWriterFactory(path, queryId, streamId, schema)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val root = new java.io.File(path)
    if (marker(epochId).exists()) {
      // this (stream, epoch) committed fully once already — replay
      // no-op. LOUD on purpose: a checkpoint-recovery replay lands here
      // legitimately, but so does a NEW query pointed at a store whose
      // (default) streamId already committed these epochs — that
      // misconfiguration would silently discard every batch, and the
      // sink cannot tell the two apart (that is exactly what a distinct
      // .option("streamId", ...) per logical stream is for).
      KvStreamingWrite.log.warn(
        s"kv sink: epoch $epochId of stream '$streamId' already " +
          "committed — skipping as a replay. If this is a NEW query " +
          "(not a checkpoint recovery), set a distinct streamId option " +
          "or its batches will be dropped.")
      staleStagingDirs(epochId).foreach(KvConnector.deleteRec)
      return
    }
    // crashed-commit sweep: drop whatever a previous attempt of this
    // (stream, epoch) already moved, whatever its partition count was.
    // Exact-name match, not endsWith: with '-' legal in streamIds, a
    // suffix match would let stream "a" sweep files of stream
    // "x-epoch0-a" sharing the store
    val stale = java.util.regex.Pattern.compile(
      s"part-\\d+-epoch$epochId-${java.util.regex.Pattern.quote(streamId)}\\.parquet")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("salt="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => stale.matcher(f.getName).matches())
      .foreach(_.delete())
    messages.foreach {
      case KvCommitMessage(rels) => rels.foreach { rel =>
        val src = new java.io.File(staging(epochId), rel)
        val dst = new java.io.File(root, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(src.toPath, dst.toPath)
      }
      case other =>
        throw new IllegalStateException(s"unexpected commit message $other")
    }
    marker(epochId).getParentFile.mkdirs()
    java.nio.file.Files.createFile(marker(epochId).toPath)
    // the current epoch's staging plus any crashed predecessor's
    staleStagingDirs(epochId).foreach(KvConnector.deleteRec)
    // marker retention: one tiny marker per epoch accumulates unbounded
    // on a long-running stream (a 10s-trigger year is ~3M files).
    // Markers far below the committing epoch are dead weight — epochs
    // commit in order and recovery replays only the tail near the
    // checkpoint, so a marker markerRetention epochs back could only
    // matter to a checkpoint regressed that far, which is the
    // fresh-checkpoint misconfiguration the streamId warning above
    // covers, not a crash recovery. The listing is O(retained), itself
    // bounded by this sweep.
    Option(marker(epochId).getParentFile.listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        val n = f.getName
        if (n.startsWith("epoch-"))
          n.stripPrefix("epoch-").toLongOption
            .filter(_ < epochId - KvStreamingWrite.markerRetention)
            .foreach(_ => f.delete())
      }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    KvConnector.deleteRec(staging(epochId))
}

object KvStreamingWrite {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[sources] def stagingName(streamId: String, queryId: String,
                                   epochId: Long): String =
    s"_staging_$streamId=$queryId=e$epochId"

  /** Committed-epoch markers older than this many epochs below the
    * latest commit are aged out (see the retention note in commit). */
  private[sources] val markerRetention: Long = 1024L
}

class KvStreamingWriterFactory(path: String, queryId: String,
                               streamId: String, schema: StructType)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new KvStreamingDataWriter(
      new java.io.File(path,
        KvStreamingWrite.stagingName(streamId, queryId, epochId)).getAbsolutePath,
      schema, partitionId, epochId, streamId)
}

/** Buffers one micro-batch partition, then writes one rowKey-sorted file
  * per salt directory at commit — same file contract as the batch
  * writer, same parquet writer. */
class KvStreamingDataWriter(stagingPath: String, schema: StructType,
                            partitionId: Int, epochId: Long,
                            streamId: String)
    extends DataWriter[InternalRow] {
  private val files = new KvTaskFiles(stagingPath, schema)
  private val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, InternalRow)]

  override def write(row: InternalRow): Unit =
    rows += ((files.requireSalt(row), row.copy()))

  override def commit(): WriterCommitMessage = {
    // UTF8String compares unsigned bytes; nulls first, as the batch sort
    val byteOrder = Ordering.Option[UTF8String]((a, b) => a.compareTo(b))
    val (rk, cn) = (schema.fieldIndex("rowKey"), schema.fieldIndex("columnName"))
    val written = rows.groupBy(_._1).toSeq.map { case (salt, group) =>
      val rel = s"salt=$salt/part-$partitionId-epoch$epochId-$streamId.parquet"
      val writer = files.open(rel)
      try group.map(_._2)
        .sortBy(r => (Option(r.getUTF8String(rk)), Option(r.getUTF8String(cn))))(
          Ordering.Tuple2(byteOrder, byteOrder))
        .foreach(r => writer.write(files.cells(r)))
      finally writer.close()
      rel
    }
    KvCommitMessage(written)
  }

  override def abort(): Unit = ()
  override def close(): Unit = rows.clear()
}

/** Spark's own parquet writer for one write task's store files — the
  * `ParquetUtils.prepareWrite` factory behind `KvStore.write` and every
  * `df.write.parquet` (session codec, binary min/max statistics),
  * prepared once per task and shared by the batch and streaming
  * DataWriters, so the store's file format is Spark's alone. */
private[sources] class KvTaskFiles(stagingPath: String, schema: StructType) {
  private val job = Job.getInstance(new Configuration())
  private val factory = ParquetUtils.prepareWrite(SQLConf.get, job,
    KvConnector.fileSchema, new ParquetOptions(Map.empty[String, String], SQLConf.get))
  private val context =
    new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
  private val saltIdx = schema.fieldIndex("salt")
  private val projected = ProjectingInternalRow(KvConnector.fileSchema,
    KvConnector.fileSchema.fieldNames.toSeq.map(schema.fieldIndex))

  def open(rel: String): OutputWriter = factory.newInstance(
    new java.io.File(stagingPath, rel).getAbsolutePath, KvConnector.fileSchema,
    context)

  /** A null salt violates the store invariant salt = Salt.bucket(rowKey)
    * — filed anywhere (getInt on a null slot reads 0) the row becomes
    * invisible to salt-pruned point gets while full scans still see it:
    * silent wrong data. Reject loudly at the writer boundary. */
  def requireSalt(row: InternalRow): Int = {
    if (row.isNullAt(saltIdx))
      throw new IllegalArgumentException(
        "graft.sources.KvSource: null salt — compute salt = " +
          "Salt.bucket(rowKey) (KvStore.pack does) before writing")
    row.getInt(saltIdx)
  }

  /** The row's store columns, projected in place (no copy). */
  def cells(row: InternalRow): InternalRow = { projected.project(row); projected }
}

class KvDataWriter(stagingPath: String, schema: StructType,
                   partitionId: Int, taskId: Long, queryId: String)
    extends DataWriter[InternalRow] {
  private val files = new KvTaskFiles(stagingPath, schema)
  private var currentSalt: Int = Int.MinValue
  private var writer: OutputWriter = _
  private val written = scala.collection.mutable.ArrayBuffer.empty[String]

  private def roll(salt: Int): Unit = {
    if (writer != null) writer.close()
    // queryId disambiguates across applications: partitionId AND taskId
    // both restart at 0 in a new SparkContext, so without it two append
    // jobs stage identical names (see the commit-protocol note)
    val rel = s"salt=$salt/part-$partitionId-$taskId-$queryId.parquet"
    writer = files.open(rel)
    written += rel
    currentSalt = salt
  }

  override def write(row: InternalRow): Unit = {
    val salt = files.requireSalt(row)
    // rows arrive sorted by (salt, rowKey, columnName) — the ordering
    // this Write REQUIRED — so each salt is one contiguous run
    if (writer == null || salt != currentSalt) roll(salt)
    writer.write(files.cells(row))
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    KvCommitMessage(written.toSeq)
  }

  override def abort(): Unit = if (writer != null) writer.close()
  override def close(): Unit = ()
}
