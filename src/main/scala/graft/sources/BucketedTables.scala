package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.DeltaLog
import graft.meta.PipelineMetrics

/** Catalog plumbing for the persistent index tables
  * ([[graft.dedup.Dedup.writeMinhashIndex]],
  * [[graft.similarity.Ann.writeIvfIndex]],
  * [[graft.similarity.Pq.writeIvfPqIndex]]), whose shared lifecycle is
  * [[BucketedIndex]].
  *
  * `saveAsTable` registration lives in the SESSION catalog — in-memory
  * by default — so it dies with the application that built the index
  * while the bucketed files live on. [[table]] makes the index genuinely
  * persistent: a new application re-registers the external table from
  * the stored files with the original bucket spec (bucket ids are
  * encoded in the file names by Spark's bucketed writer), restoring the
  * shuffle-free join property across restarts.
  */
object BucketedTables {

  /** Stable catalog name for an index component at `path`: md5 of the
    * path string. (A 32-bit `hashCode` birthday-collides across
    * realistic path populations, and SaveMode.Overwrite on a collided
    * name would silently repoint one index at another's data.) */
  def tableName(prefix: String, path: String, part: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${prefix}_${md.take(16)}_$part"
  }

  /** The bucketed table `name` at `location`, re-registering it in this
    * session's catalog from the stored files if absent. `buckets` /
    * `bucketCol` / `sortCols` must match the build (the index params
    * table records them for exactly this reason) — registering a WRONG
    * bucket count would misroute bucketed joins into wrong results,
    * which is why unknown-bucket legacy indexes must go through
    * [[tableOrPlain]] instead. */
  def table(spark: SparkSession, name: String, location: String,
            buckets: Int, bucketCol: String,
            sortCols: Seq[String] = Nil): DataFrame = {
    // serialize the whole exists/compare/drop+recreate sequence per
    // table name (intern'd → one JVM-wide monitor per logical table):
    // the mismatch branch below DROPs before it re-registers, and a
    // concurrent table() call — another thread of this session, or a
    // foreachBatch session clone, all sharing this JVM's catalog —
    // could otherwise land in the drop window and fail transiently.
    // JVM scope is the full concurrency surface: the catalog these
    // registrations live in is itself in-memory per JVM.
    name.intern.synchronized {
    if (!spark.catalog.tableExists(name)) register(spark, name, location,
      buckets, bucketCol, sortCols)
    else {
      // a registration can go STALE: another application rebuilds or
      // compacts the index at the same path with a different bucket
      // count, updates params, and this session's next table() call
      // arrives with the new count while the catalog still holds the
      // old spec — planning bucketed joins against the wrong modulus is
      // wrong results, not an error. Compare and re-register on any
      // mismatch; on match, refresh (the index tables are APPENDABLE —
      // appendTo*Index — and appends can run in OTHER sessions, e.g.
      // foreachBatch micro-batch clones, whose cache invalidation never
      // reaches this session's tableRelationCache; one file listing is
      // what a mutable table owes per query anyway).
      val spec = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
        .bucketSpec
      val matches = spec.exists(bs => bs.numBuckets == buckets &&
        bs.bucketColumnNames == Seq(bucketCol) &&
        bs.sortColumnNames == sortCols)
      if (!matches) {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        register(spark, name, location, buckets, bucketCol, sortCols)
      } else spark.catalog.refreshTable(name)
    }
    spark.table(name)
    } // name.intern.synchronized
  }

  private def register(spark: SparkSession, name: String, location: String,
                       buckets: Int, bucketCol: String,
                       sortCols: Seq[String]): Unit = {
    val schema = spark.read.parquet(location).schema.toDDL
    val sorted =
      if (sortCols.isEmpty) "" else s"SORTED BY (${sortCols.mkString(", ")}) "
    // single quotes in the path must escape or the DDL can't parse —
    // the builders accept any path the DataFrame writers accept;
    // IF NOT EXISTS: two racing first-queries both pass the exists
    // check above, and the loser must not crash on a table the winner
    // just registered identically
    val loc = location.replace("'", "''")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name ($schema) USING PARQUET
         |CLUSTERED BY ($bucketCol) ${sorted}INTO $buckets BUCKETS
         |LOCATION '$loc'""".stripMargin)
    ()
  }

  /** [[table]] when the bucket count is known, a plain parquet read when
    * it is not (an index persisted before bucket counts were recorded):
    * results stay correct, only the shuffle-free join property is
    * lost. */
  def tableOrPlain(spark: SparkSession, name: String, location: String,
                   buckets: Option[Int], bucketCol: String,
                   sortCols: Seq[String] = Nil): DataFrame =
    buckets match {
      case Some(b) => table(spark, name, location, b, bucketCol, sortCols)
      case None => spark.read.parquet(location)
    }

  /** The recorded bucket count of an index params table, if present —
    * None for a missing params file or a pre-bucket-record schema. */
  def readBuckets(spark: SparkSession, paramsPath: String): Option[Int] =
    readParams(spark, paramsPath).flatMap(bucketsOf)

  /** The params row, None when the table is missing or unreadable.
    * take(1), not head(): a crashed writeIndex can leave a params
    * table that reads fine but holds zero rows (or a null cell) — the
    * contract is "None when unreadable as params", which must cover
    * half-written just like missing (callers then degrade to the
    * plain, bucketing-less read; correctness is unaffected). */
  private[sources] def readParams(spark: SparkSession,
                                  paramsPath: String): Option[Row] =
    try spark.read.parquet(paramsPath).take(1).headOption
    catch { case scala.util.control.NonFatal(_) => None }

  private[graft] def bucketsOf(p: Row): Option[Int] =
    if (!p.schema.fieldNames.contains("buckets") ||
        p.isNullAt(p.fieldIndex("buckets"))) None
    else Some(p.getAs[Int]("buckets"))

  /** One bucketed table of an index: its directory under the
    * generation root, its bucket column and its sort columns. */
  private[graft] final case class Part(dir: String, bucketCol: String,
                                       sortCols: Seq[String] = Nil)
}

/** The persistent bucketed-index lifecycle, written ONCE for the
  * MinHash ([[graft.dedup.Dedup.writeMinhashIndex]]), IVF
  * ([[graft.similarity.Ann.writeIvfIndex]]) and IVF+PQ
  * ([[graft.similarity.Pq.writeIvfPqIndex]]) indexes. A family declares
  * its catalog `prefix`, its bucketed `tables` and the plain parts
  * compaction `carried` over, and derives its rows through a [[Writer]].
  *
  * GENERATIONS: the parts and `params` live flat under the path
  * (generation 0) or under `path/gen-<%016d>`. `params` is written LAST,
  * so its `_SUCCESS` marker — one atomic filesystem create — commits a
  * generation; the current one is the highest `gen-*` dir holding it,
  * else the path ([[DeltaLog.resolveGeneration]]). A crashed in-place
  * compaction leaves an orphan with no marker — invisible; the retry
  * overwrites it. A build writes generation 0 table by table, so an
  * in-place rebuild that dies mid-write leaves a mixed-version index:
  * build each corpus version to a FRESH path and swap the pointer at
  * the orchestration layer.
  *
  * APPENDS add one file per touched bucket: co-location holds (bucket
  * routing is by key hash), but Spark stops trusting per-bucket sort
  * once buckets hold several files — compaction restores one file per
  * bucket. Appends are sequential table writes, neither atomic nor
  * idempotent: a crash or a retried append leaves byte-identical rows
  * (their only source). Queries stay correct over them and
  * compaction's full-row `dropDuplicates` heals them without merging
  * distinct rows — still, append at most once per batch. */
private[graft] trait BucketedIndex {
  import BucketedTables.Part

  def prefix: String
  /** The FIRST table holds the lists the append health probe measures. */
  def tables: Seq[Part]
  /** Plain parts compaction copies (`params` always, last). */
  def carried: Seq[String]

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def tableName(root: String, dir: String): String =
    BucketedTables.tableName(prefix, root, dir)

  private def committed(fs: FileSystem, p: Path): Boolean =
    fs.exists(new Path(p, "params/_SUCCESS"))

  /** (generation, root) of the CURRENT generation at `path`. */
  def current(spark: SparkSession, path: String): (Long, String) =
    DeltaLog.resolveGeneration(spark, path)(committed)

  /** The current generation for reading: root, params row (None when
    * unreadable) and every table by dir, through
    * [[BucketedTables.tableOrPlain]] with the recorded bucket count. */
  def open(spark: SparkSession, path: String)
      : (String, Option[Row], Map[String, DataFrame]) = {
    val root = current(spark, path)._2
    val p = BucketedTables.readParams(spark, s"$root/params")
    val buckets = p.flatMap(BucketedTables.bucketsOf)
    (root, p, tables.map(t => t.dir -> BucketedTables.tableOrPlain(spark,
      tableName(root, t.dir), s"$root/${t.dir}", buckets, t.bucketCol,
      t.sortCols)).toMap)
  }

  private def requireParams(spark: SparkSession, root: String): (Row, Int) = {
    val p = BucketedTables.readParams(spark, s"$root/params")
    p.flatMap(BucketedTables.bucketsOf).map(b => (p.get, b)).getOrElse(
      throw new IllegalArgumentException(s"the $prefix index at $root " +
        "has no recorded bucket count (missing or pre-bucket params)"))
  }

  /** Writes the generation at `root`: `apply` one bucketed table (one
    * file per bucket per write), returned as stored; `plain` one file. */
  final class Writer private[BucketedIndex] (spark: SparkSession,
      val root: String, buckets: Int, mode: SaveMode) {
    def apply(dir: String, rows: DataFrame): DataFrame = {
      val t = tables.find(_.dir == dir).get
      // an append writes into the registered table's own location
      val loc = if (mode == SaveMode.Append) Map.empty[String, String]
        else Map("path" -> s"$root/$dir")
      val w = rows.repartition(buckets, col(t.bucketCol)).write.mode(mode)
        .options(loc).bucketBy(buckets, t.bucketCol)
      t.sortCols.headOption.fold(w)(w.sortBy(_, t.sortCols.tail: _*))
        .saveAsTable(tableName(root, dir))
      spark.table(tableName(root, dir))
    }

    def plain(dir: String, rows: DataFrame): Unit =
      rows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/$dir")
  }

  /** Write a generation at `root`: `derive`, then `params` LAST. */
  def build(spark: SparkSession, root: String, buckets: Int,
            params: DataFrame)(derive: Writer => Unit): Unit = {
    val w = new Writer(spark, root, buckets, SaveMode.Overwrite)
    derive(w)
    w.plain("params", params)
  }

  /** Append into the CURRENT generation: `derive` gets an append-mode
    * writer and the stored params row (a batch derives its rows with
    * the index's own frozen parameters). Registrations are ensured
    * first, so a new application appends with the build's exact spec.
    * Returns (and logs) the post-append [[PipelineMetrics.IndexHealth]]
    * of the lists; the probe aggregates the WHOLE table's key column,
    * so micro-batch ingestion should pass `probeHealth = false` and
    * pace its own [[PipelineMetrics.indexHealth]] calls. */
  def append(spark: SparkSession, path: String, probeHealth: Boolean)
            (derive: (Writer, Row) => Unit)
      : Option[PipelineMetrics.IndexHealth] = {
    val (g, root) = current(spark, path)
    val (p, buckets) = requireParams(spark, root)
    for (t <- tables)
      BucketedTables.table(spark, tableName(root, t.dir), s"$root/${t.dir}",
        buckets, t.bucketCol, t.sortCols)
    derive(new Writer(spark, root, buckets, SaveMode.Append), p)
    if (!probeHealth) None else {
      val lists = tables.head
      val health = PipelineMetrics.indexHealth(
        spark.table(tableName(root, lists.dir)), col(lists.bucketCol),
        s"$root/${lists.dir}").copy(generation = g)
      log.info(s"index at $path after append: $health")
      Some(health)
    }
  }

  /** The compacted tables: each stored table healed, unless a family
    * derives one table from another. */
  protected def compactRows(spark: SparkSession, cur: String, params: Row,
                            w: Writer): Unit =
    for (t <- tables)
      w(t.dir, spark.read.parquet(s"$cur/${t.dir}").dropDuplicates())

  /** Compact the current generation into a FRESH path `dest`. */
  def compact(spark: SparkSession, path: String, dest: String): Unit = {
    require(path != dest, "compact to a FRESH path, then swap pointers")
    writeCompacted(spark, current(spark, path)._2, dest)
  }

  /** Compact into generation N+1 ([[DeltaLog.cutoverBy]]); returns it. */
  def compactInPlace(spark: SparkSession, path: String): Long = {
    val (g, root) = current(spark, path)
    DeltaLog.cutoverBy(spark, path, g, () => current(spark, path)._1)(
      writeCompacted(spark, root, _))
  }

  /** Keep the current and previous generations ([[DeltaLog.pruneBy]]);
    * returns the deleted paths. */
  def prune(spark: SparkSession, path: String): Seq[String] = {
    val parts = (tables.map(_.dir) ++ carried :+ "params").toSet
    DeltaLog.pruneBy(spark, path, committed,
      st => parts.contains(st.getPath.getName))
  }

  private def writeCompacted(spark: SparkSession, cur: String,
                             dest: String): Unit = {
    val (p, buckets) = requireParams(spark, cur)
    build(spark, dest, buckets, spark.read.parquet(s"$cur/params")) { w =>
      compactRows(spark, cur, p, w)
      for (dir <- carried) w.plain(dir, spark.read.parquet(s"$cur/$dir"))
    }
  }
}
