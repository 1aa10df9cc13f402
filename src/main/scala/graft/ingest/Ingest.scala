package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Delims
import graft.ops.{KvOps, SaltExpr}

/** MUPR measurement-file reader (S1): null-byte-delimited CSV, explicit
  * 11-column schema, no inference pass — schema and nullability from the
  * reference (Utils.scala:160-174).
  */
object MuprReader {
  val schema: StructType = StructType(Seq(
    StructField("Unit_Testing_Seq_Key", IntegerType, nullable = false),
    StructField("Substructure_ID", StringType, nullable = false),
    StructField("Sub_Session_Seq_Num", IntegerType, nullable = true),
    StructField("Test_Result_Order_Num", IntegerType, nullable = false),
    StructField("Test_Result_Array_Seq_Num", FloatType, nullable = true),
    StructField("Test_ID", IntegerType, nullable = true),
    StructField("Measurement_Value", FloatType, nullable = true),
    StructField("Active_Inactive_Core_Vector", StringType, nullable = true),
    StructField("Pass_Fail_Core_Vector", StringType, nullable = false),
    StructField("Mask_Vector", StringType, nullable = false),
    StructField("Test_Name", StringType, nullable = false)))

  def read(spark: SparkSession, path: String, sep: String = Delims.Delim): DataFrame =
    spark.read.format("csv")
      .schema(schema)
      .option("sep", sep)
      .option("header", "false")
      .load(path)

  /** Malformed-line quarantine: text scan + `from_csv` per line, so bad
    * rows land in a capture column instead of failing the load (the
    * reference would throw mid-job; at 100 TB one bad line must not kill
    * the batch). Implemented over the text source because raw CSV scans
    * disallow corrupt-column-only queries. */
  private val corruptSchema: StructType =
    schema.add(StructField("_corrupt_record", StringType, nullable = true))
  private def csvOpts(sep: String) = Map(
    "sep" -> sep,
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** Clean rows only. */
  def readClean(spark: SparkSession, path: String,
                sep: String = Delims.Delim): DataFrame =
    cleanFrom(spark.read.text(path), sep)

  /** [[readClean]] over an already-loaded text frame (column `value`) —
    * the form the STREAMING file source needs (it reads raw lines);
    * sharing the parse + quarantine keeps batch and stream clean-row
    * semantics on one code path.
    *
    * The parsed struct comes out of a one-element `explode`: filter
    * pushdown inlines a projected alias but never a generator's output,
    * so the quarantine filter and the field projection share ONE
    * `from_csv` per line (as a plain alias it runs in both). */
  def cleanFrom(lines: DataFrame, sep: String = Delims.Delim): DataFrame =
    lines
      .select(explode(array(
        from_csv(col("value"), corruptSchema, csvOpts(sep)))).as("r"))
      .where(col("r._corrupt_record").isNull)
      .select(col("r.*")).drop("_corrupt_record")

  /** Quarantined raw lines — route to a dead-letter sink, don't lose them.
    * The parse feeds only the filter here, so it runs once as is. */
  def readCorrupt(spark: SparkSession, path: String,
                  sep: String = Delims.Delim): DataFrame =
    spark.read.text(path)
      .where(from_csv(col("value"), corruptSchema, csvOpts(sep))
        .getField("_corrupt_record").isNotNull)
      .select(col("value").as("_corrupt_record"))
}

/** MUCR counter-file reader (T1): raw text lines with a variable-length
  * repeating group — 5 fixed leading fields, `number_of_counters` at
  * position 6, then n × (id, occurrences, seqNum) triples
  * (Utils.scala:504-515). The hex digit of `len(id)` is derived per the
  * reference's qualifier scheme (Utils.scala:508-512).
  *
  * Implemented as a pure column plan: split + slice + transform +
  * posexplode — no typed map, stays in codegen.
  */
object MucrReader {
  def read(spark: SparkSession, path: String, sep: String = Delims.Delim): DataFrame =
    parse(spark.read.text(path), sep)

  /** Parse a one-string-column DataFrame (`value`) of MUCR lines.
    *
    * TOTAL under ANSI mode (the Spark 4 default, which this repo never
    * disables): every array access is the null-safe `get` (never
    * `element_at`/`getItem`, which throw INVALID_ARRAY_INDEX on a
    * truncated line), the counter count is `try_cast` (a non-numeric
    * count nulls out and the `when(n > 0)` guard yields zero counter
    * rows instead of CAST_INVALID_INPUT killing the job), and the
    * counter sequence is CLAMPED to the triples actually present (a line
    * declaring 2 counters but carrying 1 emits 1, not an
    * index-past-the-end error). At 100 TB one bad line must not kill the
    * batch — [[MuprReader.readClean]]'s rationale; route
    * [[parseCorrupt]] to a dead-letter sink to keep the bad lines. */
  def parse(lines: DataFrame, sep: String = Delims.Delim): DataFrame = {
    val f = split(col("value"), java.util.regex.Pattern.quote(sep), -1)
    // clamp the loop bound to the triples present: short lines emit what
    // they carry; the declared-vs-present mismatch itself is surfaced by
    // parseCorrupt, not by a task-killing exception here. The isNotNull
    // gate matters: least() SKIPS nulls, so an unparseable count would
    // otherwise inherit the other operand and emit garbage rows
    val nEff = when(col("number_of_counters").isNotNull,
      least(col("number_of_counters"),
        floor(size(col("rest")) / 3).cast(IntegerType)))
    lines
      .select(
        get(f, lit(0)).as("Unit_Testing_Seq_Key"),
        get(f, lit(1)).as("Sub_Session_Seq_Num"),
        get(f, lit(2)).as("Test_Program_Name"),
        get(f, lit(3)).as("unit_counter_pass_fail_flg"),
        get(f, lit(4)).as("Substructure_ID"),
        get(f, lit(5)).try_cast(IntegerType).as("number_of_counters"),
        slice(f, lit(7), greatest(size(f) - 6, lit(0))).as("rest"))
      .select(col("*"),
        // guard n=0: two-arg sequence(0, -1) steps BACKWARDS ([0,-1]);
        // a zero-counter (or unparseable-count) line must emit zero
        // rows (explode of an empty array), matching the reference loop
        explode(when(nEff > 0,
          transform(sequence(lit(0), nEff - 1), i =>
            struct(
              get(col("rest"), i * 3).as("Unit_Counter_ID"),
              get(col("rest"), i * 3 + 1).as("Repeating_Counter_Occurrences"),
              get(col("rest"), i * 3 + 2).as("Unit_Counter_Seq_Num"))))
          .otherwise(array().cast("array<struct<Unit_Counter_ID:string,Repeating_Counter_Occurrences:string,Unit_Counter_Seq_Num:string>>"))
        ).as("counter"))
      .select(
        col("Unit_Testing_Seq_Key"), col("Sub_Session_Seq_Num"),
        col("Test_Program_Name"), col("unit_counter_pass_fail_flg"),
        col("Substructure_ID"), col("number_of_counters"),
        col("counter.Unit_Counter_ID"),
        col("counter.Repeating_Counter_Occurrences"),
        col("counter.Unit_Counter_Seq_Num"))
      // hex(len(id)) — reference derives a hex digit of the counter-id
      // length for the qualifier (Utils.scala:508-512)
      .withColumn("Unit_Counter_ID_hex_len", lower(hex(length(col("Unit_Counter_ID")))))
  }

  /** A MUCR line is well-formed when it carries the 6 fixed fields, an
    * integral non-negative counter count, and at least `count` × 3
    * trailing fields. [[parse]] degrades gracefully on everything else
    * (null fields / clamped triples); these two split the stream so the
    * degraded lines are quarantined, not silently half-read. */
  private def wellFormed(sep: String): Column = {
    val f = split(col("value"), java.util.regex.Pattern.quote(sep), -1)
    val n = get(f, lit(5)).try_cast(IntegerType)
    // n * 3 in LONG: a hostile line declaring ~2^30 counters would
    // overflow IntegerType and ANSI-throw — one bad line killing the
    // batch, the exact failure this predicate exists to quarantine
    size(f) >= lit(6) && n.isNotNull && n >= 0 &&
      (size(f) - 6).cast("long") >= n.cast("long") * 3
  }

  /** Well-formed lines only — the streaming/batch ingest path. */
  def parseClean(lines: DataFrame, sep: String = Delims.Delim): DataFrame =
    parse(lines.where(wellFormed(sep)), sep)

  /** Malformed raw lines — route to a dead-letter sink, don't lose them
    * (same contract as [[MuprReader.readCorrupt]]). */
  def parseCorrupt(lines: DataFrame, sep: String = Delims.Delim): DataFrame =
    lines.where(!wellFormed(sep)).select(col("value").as("_corrupt_record"))

  /** MUCR qualifier: `flg ++ hex(len(id)) ++ id` (Utils.scala:546-547).
    * NOTE the reference then selects a nonexistent `Test_Name` column
    * (latent bug, Utils.scala:555); we use the computed qualifier — the
    * documented intent (SURVEY.md §3.2). */
  def qualifierCol: Column =
    concat(col("unit_counter_pass_fail_flg"), col("Unit_Counter_ID_hex_len"),
      col("Unit_Counter_ID"))
}

/** Trigger-file metadata join (J1). The reference filters the metadata CSV
  * to one row, collects it to the driver with `first()`, and re-attaches
  * the values as literals (Utils.scala:186-197) — a manual broadcast join
  * whose intent its own comment states (":181"). Here it is a real
  * `broadcast` hash join, so the whole lifecycle is one LogicalPlan and
  * the planner sees through it.
  */
object TriggerMeta {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** `data ⋈ broadcast(meta)` on File_Name; left join keeps data rows with
    * missing metadata (the reference's missing-key fallback,
    * Utils.scala:734-740). */
  def enrich(data: DataFrame, meta: DataFrame, dataFileName: Column): DataFrame =
    data.withColumn("File_Name", dataFileName)
      .join(broadcast(meta.withColumn("Lots_seq_key",
        col("Lots_seq_key").cast(IntegerType))), Seq("File_Name"), "left")
}

/** Parquet-modeled salted-KV store (K1 minus the RPC): schema
  * (salt, rowKey, columnName, value) per FIXTURES.md A4. Writes are
  * partitioned by salt — the same write-skew mitigation the 24-bucket
  * salt buys HBase region servers (Utils.scala:82-96) buys balanced
  * Parquet files here.
  */
object KvStore {
  /** Pack a long-format DataFrame into KV cells.
    * @param keyParts  columns forming the row key (delim-joined)
    * @param qualifier column qualifier (dynamic, data-dependent)
    * @param valueParts columns packed into the cell payload (delim-joined)
    */
  /** @param escapeValues wire in the `<NB>` escape (the hatch the
    *        reference declared but never connected) so payload values
    *        containing the cell delimiters round-trip instead of
    *        corrupting the cell. Each PART escapes before the join, so
    *        structural field separators stay raw and field decode stays
    *        unambiguous (escaping the joined tuple would make data-borne
    *        and structural delimiters indistinguishable after unescape).
    *        Off by default for byte-parity. */
  def pack(df: DataFrame, keyParts: Seq[Column], qualifier: Column,
           valueParts: Seq[Column], escapeValues: Boolean = false,
           delim: String = Delims.Delim): DataFrame = {
    val v =
      if (escapeValues)
        KvOps.rowKeyCol(valueParts.map(KvOps.escapeValue(_, delim)), delim)
      else KvOps.rowKeyCol(valueParts, delim)
    df.select(
        KvOps.rowKeyCol(keyParts, delim).as("rowKey"),
        qualifier.as("columnName"),
        v.as("cellValue"))
      .groupBy(col("rowKey"), col("columnName"))
      .agg(graft.ops.PackAggregate.packAggNative(col("cellValue"), delim).as("value"))
      .withColumn("salt", SaltExpr.saltCol(col("rowKey")))
  }

  /** Salt-partitioned, rowKey-sorted layout: the salt spreads write load
    * (HBase-region semantics), and sorting within each partition gives
    * parquet row-group min/max pruning on rowKey predicates — the
    * prefix scan (S6) reads only the row groups covering the prefix.
    *
    * Scale note: the exchange ranges over (salt, rowKey), NOT salt alone —
    * hashing on a 24-value column funnels the entire store through ≤24
    * write tasks no matter the cluster size. Range partitioning gives
    * each task one contiguous, pre-sorted (salt, rowKey) run, so each
    * range boundary splits at most one salt directory: at most
    * 24 + width − 1 files. The width is `spark.sql.shuffle.partitions`,
    * passed as an explicit count: AQE coalesces a width-less exchange by
    * bytes, which folds a small store into ONE task that sorts and
    * writes all 24 salts. */
  def write(kv: DataFrame, path: String): Unit =
    writeLayout(kv)
      .write.mode(SaveMode.Overwrite).partitionBy("salt").parquet(path)

  /** The pre-write exchange + sort, exposed so PlanSpec can assert the
    * layout survives refactors (range partitioning, leading-salt sort). */
  def writeLayout(kv: DataFrame): DataFrame = writeLayout(kv, Nil)

  /** [[writeLayout]] with extra CONSTANT partition columns sorted ahead of
    * salt (e.g. a streaming `batch_id`): V1Writes requires the sort to
    * lead with ALL `partitionBy` columns in order and silently REPLACES
    * (not extends) any user sort that doesn't satisfy it — a
    * `partitionBy(batch_id, salt)` write fed the plain (salt, rowKey, …)
    * sort would write unsorted files and no row group would ever prune.
    * `leading` must be constant within each write (a literal batch id),
    * so the range exchange on (salt, rowKey) is unaffected. */
  def writeLayout(kv: DataFrame, leading: Seq[Column]): DataFrame =
    kv.repartitionByRange(kv.sparkSession.sessionState.conf.numShufflePartitions,
        col("salt"), col("rowKey"))
      // the sort MUST lead with the partition column: V1Writes requires
      // ordering by salt and silently REPLACES (not extends) any user
      // sort that doesn't satisfy it — sorting (rowKey, columnName) alone
      // writes unsorted files and no row group ever prunes
      .sortWithinPartitions(
        leading ++ Seq(col("salt"), col("rowKey"), col("columnName")): _*)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed variant: hash-bucket by rowKey into a catalog table so
    * repeated lookups/joins on rowKey are CO-LOCATED — two tables
    * bucketed the same way join with no shuffle. Size `buckets` to the
    * store: bucket count is frozen at write time and caps the
    * parallelism of every shuffle-free read (Spark buckets don't split
    * the way HBase regions do) — a 100 TB store wants thousands, not 24.
    * The pre-repartition on rowKey uses the same hash as the bucketing,
    * yielding exactly one sorted file per bucket; without it every
    * upstream task writes a file per bucket it touches, and multi-file
    * buckets make Spark distrust sortBy order and re-sort every join. */
  def writeBucketed(kv: DataFrame, table: String, buckets: Int = 24): Unit =
    kv.repartition(buckets, col("rowKey"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "rowKey")
      .sortBy("rowKey")
      .saveAsTable(table) // managed table under spark.sql.warehouse.dir

  /** Batched point-get (S5/J2): the HBase bulkGet (batch=1000,
    * Utils.scala:288-369) becomes an equi-join of the probe keys against
    * the store — Catalyst picks broadcast vs shuffle by stats. */
  def bulkGet(kv: DataFrame, keys: DataFrame): DataFrame =
    keys.join(kv, Seq("rowKey", "columnName"), "inner")

  /** Unpack back to long format (Utils.scala:377-402).
    * @param unescapeValues for stores packed with `escapeValues=true`:
    *        adds a `fields` array column — the packed tuple split on the
    *        (raw, structural) delimiter with each field unescaped.
    *        `packedValue` keeps the escaped form; unescaping the joined
    *        string before splitting would reintroduce the ambiguity the
    *        per-part escape exists to prevent. */
  def unpack(kv: DataFrame, unescapeValues: Boolean = false,
             delim: String = Delims.Delim): DataFrame = {
    val out = KvOps.unpackCells(kv, delim)
    if (unescapeValues)
      out.withColumn("fields",
        transform(KvOps.splitKeepTrailing(col("packedValue"), delim),
          f => KvOps.unescapeValue(f, delim)))
    else out
  }
}
