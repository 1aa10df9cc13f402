package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** JSONL corpus reader — the LLM dataset interchange format (one JSON
  * object per line: The Pile, RedPajama, Dolma, FineWeb all ship it).
  * Same discipline as the null-delimited CSV path (`MuprReader`,
  * mirroring the reference's quarantine at `Utils.scala:119-167`):
  *
  *  - schema EXPLICIT — inference at 100 TB is a full extra pass over
  *    every byte before the real one, and a schema drifting with the
  *    sampled files is a silent-corruption source;
  *  - ONE parse with malformed-line capture (`from_json` PERMISSIVE +
  *    `_corrupt_record`): clean rows and the dead-letter frame come
  *    from the same evaluation, so clean-row semantics cannot diverge
  *    between the two readers — or between batch and streaming, which
  *    share [[parse]] (the muprStream pattern).
  */
object Jsonl {

  /** Parse a one-string-column frame of JSONL lines into `schema` rows
    * plus the capture column. `lines` may be batch or streaming.
    *
    * `r` is a one-element `explode`'s output, not a projected alias:
    * filter pushdown inlines an alias into every predicate that reads
    * it, so the clean/corrupt tests and the field projection would
    * each re-run `from_json`; a generator's output is evaluated once
    * per line. A null struct (whitespace line) still explodes to one
    * row with `r` null. */
  def parse(lines: DataFrame, line: Column, schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not predeclare _corrupt_record — the parser adds it")
    val full = schema.add("_corrupt_record", StringType)
    lines.select(line.as("__line"))
      .select(col("__line"), explode(array(from_json(col("__line"), full,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")))).as("r"))
  }

  /** Typed clean rows of a JSONL file/glob. */
  def readClean(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    cleanFrom(spark.read.text(path), schema)

  /** Clean rows from an already-loaded text frame (column `value`) —
    * the form the streaming file source needs. */
  def cleanFrom(lines: DataFrame, schema: StructType): DataFrame =
    parse(lines, col("value"), schema)
      .where(col("r._corrupt_record").isNull &&
        // a line of whitespace parses as an all-null row, not corrupt —
        // PERMISSIVE's known blind spot; a null struct is no document
        col("r").isNotNull)
      .select(col("r.*")).drop("_corrupt_record")

  /** The dead-letter frame: every malformed line verbatim, for
    * quarantine-and-audit (never silently dropped at 100 TB). */
  def readCorrupt(spark: SparkSession, path: String,
                  schema: StructType): DataFrame =
    parse(spark.read.text(path), col("value"), schema)
      .where(col("r._corrupt_record").isNotNull || col("r").isNull)
      .select(col("__line").as("_corrupt_record"))

  /** JSONL corpus EXPORT — the write side of the interchange loop
    * (trainers consume JSONL shards): `record` (a struct column)
    * serializes via `to_json` one object per line into
    * `part-<pid>-<seq>.jsonl[.gz]` shards of at most
    * `maxRecordsPerFile` records, plus a `_manifest` parquet
    * (file, n_records, bytes) — the [[Warc.wetExport]] conventions:
    * one pass (the task that wrote a shard reports its own counts, so
    * the manifest can never disagree with the files), whole-shard
    * gzip (which `spark.read.text` decodes transparently on
    * re-ingest), and a destructive overwrite of `path`.
    *
    * Round-trip exactness is to_json/from_json's: JSON string
    * escaping is lossless for any UTF-8 text, null fields are omitted
    * on write and read back as null, and struct field order is
    * preserved — pinned by the jsonl_export gate's md5 comparison. */
  def `export`(spark: SparkSession, docs: DataFrame, record: Column,
             path: String, maxRecordsPerFile: Int = 1000,
             gzip: Boolean = false): Unit = {
    import spark.implicits._
    require(maxRecordsPerFile > 0, "maxRecordsPerFile must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val dfs = root.getFileSystem(hconf)
    if (dfs.exists(root)) dfs.delete(root, true)
    dfs.mkdirs(root)
    val ser = new org.apache.spark.util.SerializableConfiguration(hconf)
    val suffix = if (gzip) ".jsonl.gz" else ".jsonl"
    val manifest = docs
      .select(to_json(record).as("j")).as[String]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(ser.value)
        it.grouped(maxRecordsPerFile).zipWithIndex.map { case (chunk, seq) =>
          val name = f"part-$pid%05d-$seq%04d$suffix"
          val raw = fs.create(new org.apache.hadoop.fs.Path(path, name), true)
          val out = if (gzip)
            new java.util.zip.GZIPOutputStream(raw) else raw
          var bytes = 0L
          try chunk.foreach { line =>
            val b = (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
            out.write(b); bytes += b.length
          } finally out.close()
          (name, chunk.size.toLong, bytes)
        }
      }
      .toDF("file", "n_records", "bytes")
    // writing the manifest is what executes the export (the wetExport
    // one-pass discipline); `bytes` counts UNCOMPRESSED line bytes —
    // the quantity the re-ingest sees
    manifest.orderBy(col("file")).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_manifest")
  }
}
