package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{KvStore, MuprReader, TriggerMeta}
import graft.ops.KvOps

/** The paper's MUPR lifecycle through graft's public API, as the
  * reference wires it: parse → trigger enrich on the file name → pack →
  * salted write, then KV read-back → unpack → differential compare.
  *
  * While the tracer is in `Spans` mode, each layer's output is
  * materialized (cached and counted) inside that layer's span, so the span
  * holds the layer's own work and not a lazy plan; the extra cost shows as
  * the tracing overhead.
  */
object Lifecycle {
  val keyCols: Seq[Column] = Seq(col("Lot"), col("Lato_Start_WW"),
    col("Lots_seq_key"), col("Unit_Testing_Seq_Key"))
  val valueCols: Seq[Column] = Seq(col("Substructure_ID"),
    col("Sub_Session_Seq_Num"), col("Test_Result_Order_Num"),
    col("Test_Result_Array_Seq_Num"), col("Test_ID"), col("Measurement_Value"),
    col("Active_Inactive_Core_Vector"), col("Pass_Fail_Core_Vector"),
    col("Mask_Vector"))

  final case class Verified(mismatches: Long, storeRows: Long, fileRows: Long)

  def kvSource(spark: SparkSession, store: File): DataFrame =
    spark.read.format("graft.sources.KvSource").load(store.toString)

  /** Parquet files of a store and their total bytes. */
  def storeFiles(store: File): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val fs = walk(store)
    (fs.size, fs.map(_.length).sum)
  }

  /** Clean rows, with the file name taken from the scan. */
  private def clean(spark: SparkSession, data: MuprData): DataFrame =
    MuprReader.readClean(spark, data.dataDir.toString)
      .withColumn("__file", regexp_extract(input_file_name(), "[^/]+$", 0))

  /** Lot metadata joined on the file name (the reference's trigger-file
    * lookup). */
  private def enrich(spark: SparkSession, data: MuprData, clean: DataFrame): DataFrame =
    TriggerMeta.enrich(clean, TriggerMeta.read(spark, data.triggerCsv.toString),
      col("__file"))

  /** Load step; returns the quarantined line count. */
  def load(spark: SparkSession, data: MuprData, store: File, t: Tracer): Long = {
    val cached = new Cached(t)
    try {
      val rows = t.span("ingest.parse_s")(cached(clean(spark, data), "ingest.rows_clean"))
      val enriched = t.span("ingest.enrich_s")(cached(enrich(spark, data, rows), ""))
      val kv = t.span("ops.pack_s")(cached(
        KvStore.pack(enriched, keyCols, col("Test_Name"), valueCols), "ops.cells_packed"))
      t.span("kvstore.write_s")(KvStore.write(kv, store.toString))
      // the dead-letter tally a loader reports alongside the load
      val bad = t.span("ingest.parse_s")(
        MuprReader.readCorrupt(spark, data.dataDir.toString).count())
      if (t.on) {
        val (n, bytes) = storeFiles(store)
        t.c.add("kvstore.files_written", n)
        t.c.add("kvstore.bytes_written", bytes)
        t.c.add("ingest.rows_quarantined", bad)
      }
      bad
    } finally cached.release()
  }

  /** Verify step: the store read back through the KV connector and
    * unpacked must equal the file-side rows as a multiset. */
  def verify(spark: SparkSession, data: MuprData, store: File, t: Tracer): Verified = {
    val cached = new Cached(t)
    try {
      if (t.on) t.c.add("sources.files_in_store", storeFiles(store)._1)
      val kv = t.span("sources.scan_s")(cached(kvSource(spark, store), "sources.rows_returned"))
      val unpacked = t.span("ops.unpack_s")(cached(KvStore.unpack(kv)
        .select(col("rowKey"), col("columnName"), col("packedValue")), "ops.rows_unpacked"))
      t.span("verify.compare_s") {
        val fileSide = enrich(spark, data, clean(spark, data))
          .select(KvOps.rowKeyCol(keyCols).as("rowKey"), col("Test_Name").as("columnName"),
            KvOps.rowKeyCol(valueCols).as("packedValue"))
        val r = diff(unpacked, fileSide)
        if (t.on) t.c.add("verify.mismatches", r.mismatches)
        r
      }
    } finally cached.release()
  }

  /** Full-outer differential compare of two (rowKey, columnName,
    * packedValue) multisets. */
  def diff(store: DataFrame, file: DataFrame): Verified = {
    val keys = Seq("rowKey", "columnName", "packedValue")
    def counted(df: DataFrame, n: String) = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(n))
    val r = counted(store, "n_store").join(counted(file, "n_file"), keys, "full_outer")
      .agg(
        sum(when(col("n_store").isNull || col("n_file").isNull ||
          col("n_store") =!= col("n_file"), 1L).otherwise(0L)),
        sum(coalesce(col("n_store"), lit(0L))),
        sum(coalesce(col("n_file"), lit(0L))))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Verified(l(0), l(1), l(2))
  }
}

/** Materializes frames while the tracer is in `Spans` mode (see
  * [[Lifecycle]]): each is cached, counted into the named counter, and
  * released with [[release]]. In any other mode, frames pass through
  * untouched. */
final class Cached(t: Tracer) {
  private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
  def apply(df: DataFrame, counter: String): DataFrame =
    if (!t.on) df
    else {
      val p = df.persist()
      held += p
      val n = p.count()
      if (counter.nonEmpty) t.c.add(counter, n)
      p
    }
  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }
}
