package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{KvStore, MucrReader, MuprReader, TriggerMeta}
import graft.ops.KvOps

import Tier._

/** Driver-gate coverage for the ingest readers (SURVEY.md §2 S1/S2/T1 and
  * the §7.2 end-to-end slice) over the checked-in fixtures under
  * [[graft.Fixtures.dir]] — the reference's reason to exist
  * (Utils.scala:154-236, 486-572), previously covered only by scalatest.
  *
  * The fixtures are '|'-delimited: the oracle runs in DuckDB, whose
  * varchars do not round-trip NUL, so the gate exercises the pipeline
  * shape with a visible delimiter while the NUL byte-parity path stays
  * covered by RoundTripSpec/HostileDataSpec (scalatest).
  */
object IngestGates {

  private val FixtureDir = graft.Fixtures.dir

  private val Sep = "|"

  /** One packed store per (gate, data dir) per JVM: for the SCAN-side
    * gates the store write is setup, not the operator under test, so
    * repeated Verify/Bench invocations reuse the first build (pack is
    * deterministic — identical store every time). Every temp dir —
    * memoized or not — registers with the shared gate cleanup hook, so
    * a session leaves no graft_gate_* residue on disk. */
  private val storeCache = new Memo[String, String]

  private def cachedStore(key: String, prefix: String)(build: String => Unit): String =
    storeCache(key) {
      val path = freshStore(prefix)
      build(path)
      path
    }

  private def freshStore(prefix: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    IndexCache.cleanupAtExit(tmp)
    tmp.toString + "/store"
  }

  /** The pack → store → prefix-scan → unpack lifecycle recomputed
    * straight from the source table — shared by the DSv2 scan and write
    * gates (both must land on the same answer whatever side of the
    * connector boundary did the work). */
  private val kvLifecycleSql: String =
    """WITH kv AS (
      |  SELECT cast(l_orderkey AS varchar) AS rowKey,
      |         l_returnflag AS columnName,
      |         concat_ws('|', l_linenumber,
      |                   cast(cast(l_quantity AS decimal(12,2)) AS varchar))
      |           AS packedValue
      |  FROM lineitem)
      |SELECT rowKey, columnName, packedValue FROM kv
      |WHERE rowKey LIKE '10%'
      |ORDER BY rowKey, columnName, packedValue""".stripMargin

  /** The lifecycle both DSv2 gates share: the lineitem pack, the
    * gate's own `write` of it (returning the store path), then the
    * read-back through graft.sources.KvSource → prefix scan → unpack. */
  private def dsv2Lifecycle(s: SparkSession, dir: String)
                           (write: DataFrame => String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
    val kv = KvStore.pack(li,
      keyParts = Seq(col("l_orderkey")),
      qualifier = col("l_returnflag"),
      valueParts = Seq(col("l_linenumber"),
        col("l_quantity").cast("decimal(12,2)")),
      delim = Sep)
    val back = s.read.format("graft.sources.KvSource").load(write(kv))
    KvStore.unpack(KvOps.prefixScan(back, "rowKey", "10"), delim = Sep)
      .select(col("rowKey"), col("columnName"), col("packedValue"))
      .orderBy(col("rowKey"), col("columnName"), col("packedValue"))
  }

  val gates: Seq[Gate] = Seq(

    // §7.2 slice (Utils.scala:154-236 → 377-402): explicit-schema CSV
    // scan → trigger-metadata broadcast join → rowKey/value assembly →
    // pack → salted KV parquet write → prefix scan → unpack. The result
    // must equal the source projection — asserted by the oracle, which
    // computes the same rows directly from the fixture CSVs.
    Gate("mupr_roundtrip", Oracle, (s, _) => {
      val mupr = MuprReader.readClean(s, s"$FixtureDir/mupr.dat", sep = Sep)
      val meta = TriggerMeta.read(s, s"$FixtureDir/trigger.csv")
      val enriched = TriggerMeta.enrich(mupr, meta, lit("mupr.dat"))
      val keyCols = Seq(col("Lot"), col("Lato_Start_WW"), col("Lots_seq_key"),
        col("Unit_Testing_Seq_Key"))
      val valueCols = Seq(col("Substructure_ID"), col("Sub_Session_Seq_Num"),
        col("Test_Result_Order_Num"), col("Test_Result_Array_Seq_Num"),
        col("Test_ID"), col("Measurement_Value"),
        col("Active_Inactive_Core_Vector"), col("Pass_Fail_Core_Vector"),
        col("Mask_Vector"))
      val kv = KvStore.pack(enriched, keyCols, col("Test_Name"), valueCols,
        delim = Sep)
      val store = cachedStore("mupr", "graft_gate_kv")(
        KvStore.write(kv, _))
      // selective prefix: units starting with '1' in lot LOTA
      val scanned = KvOps.prefixScan(KvStore.read(s, store),
        "rowKey", "LOTA|202032|2|1")
      KvStore.unpack(scanned, delim = Sep)
        .select(col("rowKey"), col("columnName"), col("packedValue"))
        .orderBy(col("rowKey"), col("columnName"), col("packedValue"))
    },
      s"""WITH m AS (
         |  SELECT * FROM read_csv('$FixtureDir/mupr.dat', delim='|', header=false,
         |    columns={'Unit_Testing_Seq_Key':'INTEGER','Substructure_ID':'VARCHAR',
         |             'Sub_Session_Seq_Num':'INTEGER','Test_Result_Order_Num':'INTEGER',
         |             'Test_Result_Array_Seq_Num':'FLOAT','Test_ID':'INTEGER',
         |             'Measurement_Value':'FLOAT','Active_Inactive_Core_Vector':'VARCHAR',
         |             'Pass_Fail_Core_Vector':'VARCHAR','Mask_Vector':'VARCHAR',
         |             'Test_Name':'VARCHAR'})),
         |t AS (SELECT * FROM read_csv('$FixtureDir/trigger.csv', header=true)
         |      WHERE File_Name = 'mupr.dat'),
         |e AS (SELECT m.*, t.Lot, t.Lato_Start_WW, t.Lots_seq_key FROM m, t)
         |SELECT concat_ws('|', Lot, Lato_Start_WW, Lots_seq_key,
         |                 Unit_Testing_Seq_Key) AS rowKey,
         |       Test_Name AS columnName,
         |       concat_ws('|', Substructure_ID, Sub_Session_Seq_Num,
         |                 Test_Result_Order_Num, Test_Result_Array_Seq_Num,
         |                 Test_ID, Measurement_Value,
         |                 Active_Inactive_Core_Vector, Pass_Fail_Core_Vector,
         |                 Mask_Vector) AS packedValue
         |FROM e
         |WHERE starts_with(concat_ws('|', Lot, Lato_Start_WW, Lots_seq_key,
         |                            Unit_Testing_Seq_Key), 'LOTA|202032|2|1')
         |ORDER BY rowKey, columnName, packedValue""".stripMargin),

    // S5/S6 through the DSv2 connector boundary: the SAME pack → write →
    // prefix-scan → unpack lifecycle, but the read goes through
    // graft.sources.KvSource (SupportsPushDownFilters) instead of the
    // generic parquet source — proving the store is swappable for a live
    // KV backend without changing query results.
    Gate("kv_dsv2_scan", Oracle, (s, dir) =>
      dsv2Lifecycle(s, dir)(kv =>
        cachedStore(s"dsv2|$dir", "graft_gate_dsv2")(KvStore.write(kv, _))),
      kvLifecycleSql),

    // K1 through the DSv2 WRITE boundary: same lifecycle as kv_dsv2_scan
    // (same oracle) but the store is written by
    // `df.write.format("graft.sources.KvSource")` — the connector's
    // SupportsWrite path, whose RequiresDistributionAndOrdering must
    // reproduce the KvStore.write layout (salt dirs, rowKey-sorted
    // files) for the read-side pruning to keep working.
    Gate("kv_dsv2_write", Oracle, (s, dir) =>
      dsv2Lifecycle(s, dir) { kv =>
        // the WRITE is this gate's operator — rebuilt per invocation on
        // purpose; only the dir registration keeps it from leaking
        val store = freshStore("graft_gate_dsv2w")
        kv.write.format("graft.sources.KvSource").mode("overwrite")
          .save(store)
        store
      },
      // the DSv2 WRITE path is held to the same from-source answer — a
      // row lost or duplicated anywhere in write-distribute-sort-commit
      // breaks this gate
      kvLifecycleSql),

    // the <NB> escape hatch END-TO-END (pack escape → salted store
    // write → read → unpack unescape): the values carry the exact
    // corruption classes the reference left unhandled — a data-borne
    // FIELD delimiter, a data-borne ROW separator, and the literal
    // escape token itself. The oracle recomputes the unescaped fields
    // straight from the source columns, so one mis-ordered replace in
    // either codec direction (or a split that sees a data delimiter as
    // structure) breaks the gate. Raw NUL bytes stay in scalatest
    // (RoundTripSpec/HostileDataSpec) per the note above — DuckDB
    // varchars cannot carry them; with '|' as the structural delimiter
    // here, the data-borne '|' is the live collision.
    Gate("pack_escaped_roundtrip", Oracle, (s, dir) => {
      val hostile = graft.Tables(s, dir, "nation")
        .select(col("n_nationkey"),
          concat(col("n_name"), lit("|mid|"), col("n_name")).as("v1"),
          concat(lit("<NB>"), col("n_name"), lit("\nrow")).as("v2"),
          concat(lit("a|b<NB>c\n"), col("n_name")).as("v3"))
      val kv = KvStore.pack(hostile,
        keyParts = Seq(col("n_nationkey")),
        qualifier = lit("q"),
        valueParts = Seq(col("v1"), col("v2"), col("v3")),
        escapeValues = true, delim = Sep)
      val store = cachedStore(s"escaped|$dir",
        "graft_gate_esc")(KvStore.write(kv, _))
      KvStore.unpack(KvStore.read(s, store),
          unescapeValues = true, delim = Sep)
        .select(col("rowKey"),
          element_at(col("fields"), 1).as("f1"),
          element_at(col("fields"), 2).as("f2"),
          element_at(col("fields"), 3).as("f3"))
        .orderBy(col("rowKey"))
    },
      // the unescaped fields recomputed straight from the source columns:
      // the whole escape→pack→store→unpack→unescape pipeline must be the
      // identity on delimiter-bearing values
      """SELECT cast(n_nationkey AS varchar) AS rowKey,
        |  n_name || '|mid|' || n_name AS f1,
        |  '<NB>' || n_name || chr(10) || 'row' AS f2,
        |  'a|b<NB>c' || chr(10) || n_name AS f3
        |FROM nation
        |ORDER BY rowKey""".stripMargin),

    // T1 (Utils.scala:504-515): variable-length repeating-group parse +
    // the MUCR qualifier flg++hex(len(id))++id (Utils.scala:546-547; the
    // reference's nonexistent-Test_Name bug at :555 fixed per SURVEY §3.2)
    Gate("mucr_parse", Oracle, (s, _) => {
      MucrReader.read(s, s"$FixtureDir/mucr.dat", sep = Sep)
        .withColumn("qualifier", MucrReader.qualifierCol)
        .select(col("Unit_Testing_Seq_Key"), col("Sub_Session_Seq_Num"),
          col("Test_Program_Name"), col("unit_counter_pass_fail_flg"),
          col("Substructure_ID"), col("number_of_counters"),
          col("Unit_Counter_ID"), col("Repeating_Counter_Occurrences"),
          col("Unit_Counter_Seq_Num"), col("Unit_Counter_ID_hex_len"),
          col("qualifier"))
        .orderBy(col("Unit_Testing_Seq_Key"),
          col("unit_counter_pass_fail_flg"), col("Unit_Counter_Seq_Num"))
    },
      s"""WITH lines AS (
         |  SELECT line FROM read_csv('$FixtureDir/mucr.dat', delim='\\t',
         |    quote='', header=false, columns={'line':'VARCHAR'})),
         |p AS (SELECT string_split(line, '|') AS f FROM lines),
         |base AS (
         |  SELECT f[1] AS Unit_Testing_Seq_Key, f[2] AS Sub_Session_Seq_Num,
         |         f[3] AS Test_Program_Name, f[4] AS unit_counter_pass_fail_flg,
         |         f[5] AS Substructure_ID, cast(f[6] AS int) AS number_of_counters,
         |         f FROM p),
         |c AS (SELECT *, unnest(range(0, number_of_counters)) AS i FROM base)
         |SELECT Unit_Testing_Seq_Key, Sub_Session_Seq_Num, Test_Program_Name,
         |       unit_counter_pass_fail_flg, Substructure_ID, number_of_counters,
         |       f[7 + i*3] AS Unit_Counter_ID,
         |       f[8 + i*3] AS Repeating_Counter_Occurrences,
         |       f[9 + i*3] AS Unit_Counter_Seq_Num,
         |       lower(hex(length(f[7 + i*3]))) AS Unit_Counter_ID_hex_len,
         |       unit_counter_pass_fail_flg || lower(hex(length(f[7 + i*3])))
         |         || f[7 + i*3] AS qualifier
         |FROM c
         |ORDER BY Unit_Testing_Seq_Key, unit_counter_pass_fail_flg,
         |         Unit_Counter_Seq_Num""".stripMargin),
  )
}
