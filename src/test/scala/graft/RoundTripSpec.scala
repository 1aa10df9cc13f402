package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.CsvToStructs
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Delims, Salt}
import graft.ingest.{KvStore, MuprReader, TriggerMeta}
import graft.meta.LogMetrics
import graft.ops.KvOps

/** SURVEY.md §7.2 — the minimum end-to-end slice, as an executable spec:
  * reference-shaped MUPR fixture (FIXTURES.md A1) + trigger CSV (A3) →
  * explicit-schema \0-CSV scan → broadcast metadata join → row-key/value
  * assembly → salt → pack → partitioned-parquet KV write → prefix-scan
  * read-back → unpack → except(source projection) == ∅.
  * Plus the job-log regex metrics pipeline (A5).
  */
class RoundTripSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val D = Delims.Delim

  private def writeFixture(dir: Path): (String, String) = {
    // 11-column MUPR rows (FIXTURES.md A1), two units, three tests
    val rows = Seq(
      Seq("1001", "SS01", "2", "1", "1.0", "7", "0.472", "AAIA", "PPFP", "MMMM", "t_vmin_core"),
      Seq("1001", "SS01", "2", "2", "2.0", "8", "0.513", "AAIA", "PPFP", "MMMM", "t_vmin_core"),
      Seq("1001", "SS02", "1", "1", "1.0", "9", "1.250", "IAIA", "FFPP", "MMMM", "t_freq"),
      Seq("1002", "SS01", "3", "1", "1.0", "7", "0.333", "AAAA", "PPPP", "MMMM", "t_vmin_core"),
      Seq("1002", "SS03", "1", "2", "4.0", "12", "9.875", "AAAA", "PPPP", "MMMM", "t_leak"))
    val dataFile = dir.resolve("lotA_202032_mds_parametric_result.dat")
    Files.writeString(dataFile, rows.map(_.mkString(D)).mkString("\n"))
    val trigFile = dir.resolve("trigger.csv")
    Files.writeString(trigFile,
      """File_Name,Lot,Lato_Start_WW,Lots_seq_key
        |lotA_202032_mds_parametric_result.dat,A,202032,2
        |lotB_202032_mds_parametric_result.dat,B,202032,1
        |""".stripMargin)
    (dataFile.toString, trigFile.toString)
  }

  test("MUPR ingest → pack → KV parquet → prefix scan → unpack ≡ source") {
    val dir = Files.createTempDirectory("graft_rt")
    val (dataFile, trigFile) = writeFixture(dir)

    // S1: explicit-schema \0-separated scan (clean rows)
    val mupr = MuprReader.readClean(spark, dataFile)
    assert(mupr.count() === 5)
    // names+types (file scans surface everything nullable=true)
    assert(mupr.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      MuprReader.schema.fields.map(f => (f.name, f.dataType)).toSeq)

    // J1: trigger-metadata broadcast join on File_Name
    val meta = TriggerMeta.read(spark, trigFile)
    val enriched = TriggerMeta.enrich(mupr, meta,
      lit("lotA_202032_mds_parametric_result.dat"))
    assert(enriched.select("Lot").distinct().as[String].collect() === Array("A"))

    // rowKey = Lot\0WW\0seq\0unit; value = measure tuple; qualifier = Test_Name
    val valueCols = Seq(col("Substructure_ID"), col("Sub_Session_Seq_Num"),
      col("Test_Result_Order_Num"), col("Test_Result_Array_Seq_Num"),
      col("Test_ID"), col("Measurement_Value"), col("Active_Inactive_Core_Vector"),
      col("Pass_Fail_Core_Vector"), col("Mask_Vector"))
    val keyCols = Seq(col("Lot"), col("Lato_Start_WW"), col("Lots_seq_key"),
      col("Unit_Testing_Seq_Key"))
    val kv = KvStore.pack(enriched, keyCols, col("Test_Name"), valueCols)

    // K1-modeled write: salt-partitioned parquet, then read back
    val store = dir.resolve("kvstore").toString
    KvStore.write(kv, store)
    val back = KvStore.read(spark, store)
    assert(back.select("salt").distinct().count() === kv.select("salt").distinct().count())

    // layout guard: within each written salt partition file, rows must be
    // rowKey-sorted or prefix-scan row-group pruning silently dies (the
    // writer REPLACES user sorts that don't lead with the partition col)
    for (saltDir <- new java.io.File(store).listFiles()
         if saltDir.getName.startsWith("salt=")) {
      val keys = spark.read.parquet(saltDir.toString)
        .select("rowKey", "columnName").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(keys.toSeq === keys.toSeq.sorted,
        s"unsorted KV file in ${saltDir.getName}")
    }

    // S6: prefix scan (HBase PrefixFilter semantics) for lot A
    val scanned = KvOps.prefixScan(back, "rowKey", "A" + D)
    assert(scanned.count() === kv.count())

    // unpack → long rows ≡ the source-side projection (the J3 diff)
    val unpacked = KvStore.unpack(scanned)
      .select(col("rowKey"), col("columnName"), col("packedValue"))
    val source = enriched.select(
      KvOps.rowKeyCol(keyCols).as("rowKey"),
      col("Test_Name").as("columnName"),
      KvOps.rowKeyCol(valueCols).as("packedValue"))
    assert(unpacked.except(source).count() === 0)
    assert(source.except(unpacked).count() === 0)
    assert(unpacked.count() === source.count())

    // A4/A2: cell payload carries the count prefix and sorted values
    val cell = back.where(col("columnName") === "t_vmin_core"
        && col("rowKey").startsWith("A" + D + "202032" + D + "2" + D + "1001"))
      .select("value").as[String].head()
    assert(cell.startsWith("2" + D))
  }

  test("multi-char delimiter: pack → write → read → prefix scan → unpack ≡ source") {
    // the d2b96db bug class end-to-end: stripCountPrefix once advanced a
    // single char past the delimiter, so ANY multi-char delim corrupted
    // every unpacked body with the delimiter's tail. This leg runs the
    // full KV lifecycle with a 2-char delim — including delimiter-bearing
    // and escape-token-bearing payload values under the <NB> escape — and
    // demands exact source equality back.
    val dir = Files.createTempDirectory("graft_mcd")
    val MD = "::"
    val src = Seq(
      ("A", "u1", "t1", "plain", "1.0"),
      ("A", "u1", "t1", "has::delim", "2.0"), // data-borne delimiter
      ("A", "u2", "t2", "has<NB>esc", "3.5"), // data-borne escape token
      ("B", "u1", "t1", "x", "9.9"),
      ("B", "u1", "t1", "", "0.0"))           // empty payload field
      .toDF("lot", "unit", "test", "note", "mv")
    val keyCols = Seq(col("lot"), col("unit"))
    val kv = KvStore.pack(src, keyCols, col("test"),
      Seq(col("note"), col("mv")), escapeValues = true, delim = MD)
    val store = dir.resolve("kv").toString
    KvStore.write(kv, store)
    val back = KvStore.read(spark, store)

    // prefix scan still keys on the multi-char-delim row key
    assert(KvOps.prefixScan(back, "rowKey", "A" + MD).count() === 2)

    // cell shape: count prefix + FULL delimiter, and the stripped body
    // must be byte-exact — a one-char strip (the d2b96db corruption)
    // would leave the delimiter tail ":" prepended to it
    val cellDf = back.where(col("rowKey") === "A" + MD + "u1"
      && col("columnName") === "t1")
    assert(cellDf.select("value").as[String].head().startsWith("2" + MD))
    val body = cellDf.select(KvOps.stripCountPrefix(col("value"), MD))
      .as[String].head()
    assert(body === "has<NB>0delim::2.0\nplain::1.0",
      "stripped body is not byte-exact — multi-char strip broke")

    // full unpack + unescape ≡ the source projection, exactly
    val unpacked = KvStore.unpack(back, unescapeValues = true, delim = MD)
      .select(col("rowKey"), col("columnName"),
        element_at(col("fields"), 1).as("note"),
        element_at(col("fields"), 2).as("mv"))
    val source = src.select(
      KvOps.rowKeyCol(keyCols, MD).as("rowKey"),
      col("test").as("columnName"), col("note"), col("mv"))
    assert(unpacked.except(source).count() === 0)
    assert(source.except(unpacked).count() === 0)
    assert(unpacked.count() === source.count())
  }

  test("malformed MUPR lines are quarantined, not fatal") {
    val dir = Files.createTempDirectory("graft_rt3")
    val good = Seq("1001", "SS01", "2", "1", "1.0", "7", "0.5", "A", "P", "M",
      "t_x").mkString(D)
    val bad = "not a real line at all"
    val f = dir.resolve("mixed.dat")
    Files.writeString(f, good + "\n" + bad)
    assert(MuprReader.readClean(spark, f.toString).count() === 1)
    val corrupt = MuprReader.readCorrupt(spark, f.toString)
      .as[String].collect()
    assert(corrupt.length === 1)
    assert(corrupt(0) === bad)
  }

  /** Physical operators that evaluate `from_csv`. A scan's pushed
    * DataFilters are display only, so scans do not count. */
  private def parseOperators(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case p if !p.isInstanceOf[FileSourceScanExec] &&
          p.expressions.exists(_.exists(_.isInstanceOf[CsvToStructs])) =>
        p.nodeName
    }

  test("MUPR clean path parses each line in exactly one operator") {
    val dir = Files.createTempDirectory("graft_rt_once")
    val (dataFile, _) = writeFixture(dir)
    for (df <- Seq(MuprReader.readClean(spark, dataFile),
        MuprReader.cleanFrom(spark.read.text(dataFile)))) {
      assert(parseOperators(df).size === 1,
        df.queryExecution.executedPlan.toString)
      assert(df.count() === 5)
    }
  }

  test("column pruning never lets a malformed line into the clean rows") {
    // each bad line breaks a different column, none of them Test_Name:
    // a pruned read must still parse (and reject) the whole line
    val good = Seq("1001", "SS01", "2", "1", "1.0", "7", "0.5", "A", "P", "M", "t_x")
    def broken(i: Int, v: String) = good.updated(i, v).mkString(D)
    val lines = Seq.tabulate(4)(i => good.updated(0, s"${1001 + i}").mkString(D)) ++
      Seq(broken(0, "u1"), broken(2, "x"), broken(3, "1.5e"), broken(4, "f"),
        broken(5, "id"), broken(6, "0.5.5"), "not a real line at all")
    val f = Files.createTempDirectory("graft_rt_prune").resolve("bad.dat")
    Files.writeString(f, lines.mkString("\n"))
    val clean = MuprReader.readClean(spark, f.toString)
    val rows = clean.collect()
    assert(rows.length === 4)
    assert(clean.count() === rows.length)
    assert(clean.select("Test_Name").count() === rows.length)
    assert(rows.length + MuprReader.readCorrupt(spark, f.toString).count() ===
      lines.length)
  }

  test("salted write keeps its range width under AQE") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(width > 1 && spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val src = spark.range(2000).select(col("id").cast("string").as("k"),
      (col("id") % 7).cast("string").as("q"), lit("v").as("v"))
    val kv = KvStore.pack(src, Seq(col("k")), col("q"), Seq(col("v")))
    // AQE coalesces a width-less exchange this small into one partition
    val layout = KvStore.writeLayout(kv)
    layout.collect()
    val aqe = new AdaptiveSparkPlanHelper {}
    val finalPlan = layout.queryExecution.executedPlan
    assert(finalPlan.toString.contains("isFinalPlan=true"), finalPlan)
    val rangeWidths = aqe.collect(finalPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        e.outputPartitioning.numPartitions
    }
    assert(rangeWidths === Seq(width), finalPlan)
    val coalescedRange = aqe.collect(finalPlan) {
      case AQEShuffleReadExec(s: ShuffleQueryStageExec, _)
          if s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }
    assert(coalescedRange.isEmpty, finalPlan)
    val store = Files.createTempDirectory("graft_rt_width").toString
    KvStore.write(kv, store)
    val files = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("salt=")).toSeq
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.size <= Salt.Buckets + width - 1, files.mkString(", "))
    // part-<task>-…: every range partition wrote its own run of files
    assert(files.map(_.split("-")(1)).distinct.size === width,
      files.mkString(", "))
  }

  test("skew ops equal their unsalted twins") {
    import graft.ops.SkewOps
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val salted = SkewOps.saltedSumCount(li, col("l_returnflag"),
        col("l_quantity").cast("decimal(12,2)"),
        saltCols = Seq(col("l_orderkey"), col("l_linenumber")))
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val plain = li.groupBy(col("l_returnflag").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).as("total"))
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    assert(salted.map(t => (t._1, t._2, t._3.doubleValue)).toSeq ===
      plain.map(t => (t._1, t._2, t._3.doubleValue)).toSeq)

    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val sj = SkewOps.saltedJoin(li, o, "l_orderkey",
      saltCols = Seq(col("l_orderkey"), col("l_linenumber")))
    val pj = li.join(o, Seq("l_orderkey"))
    assert(sj.count() === pj.count())
  }

  test("MUCR ingest packs by the computed qualifier (reference bug fixed)") {
    import graft.ingest.MucrReader
    val lines = Seq(
      Seq("1001", "3", "TP_A", "P", "SS01", "2",
        "CNT_A", "4", "1", "CNT_LONG_B", "9", "2").mkString(D),
      Seq("1001", "3", "TP_A", "F", "SS01", "1", "CNT_A", "7", "3").mkString(D)
    ).toDF("value")
    val parsed = MucrReader.parse(lines)
      .withColumn("Lot", lit("A"))
      .withColumn("Lato_Start_WW", lit(202032))
      .withColumn("Lots_seq_key", lit(2))
    // §3.2: the reference selects a nonexistent Test_Name here; the
    // computed qualifier (flg+hexlen+id) is the documented intent
    val kv = KvStore.pack(parsed,
      keyParts = Seq(col("Lot"), col("Lato_Start_WW"), col("Lots_seq_key"),
        col("Unit_Testing_Seq_Key")),
      qualifier = MucrReader.qualifierCol,
      valueParts = Seq(col("Repeating_Counter_Occurrences"),
        col("Unit_Counter_Seq_Num")))
    val quals = kv.select("columnName").as[String].collect().sorted
    assert(quals === Array("F5CNT_A", "P5CNT_A", "PaCNT_LONG_B"))
    val unpacked = KvStore.unpack(kv)
    assert(unpacked.count() === 3)
  }

  test("missing trigger metadata leaves data rows intact (left join fallback)") {
    val dir = Files.createTempDirectory("graft_rt2")
    val (dataFile, trigFile) = writeFixture(dir)
    val mupr = MuprReader.readClean(spark, dataFile)
    val meta = TriggerMeta.read(spark, trigFile)
    val enriched = TriggerMeta.enrich(mupr, meta, lit("unknown_file.dat"))
    assert(enriched.count() === 5)
    assert(enriched.where(col("Lot").isNull).count() === 5)
  }

  test("log metrics regex pipeline extracts job key, status, exit code") {
    val lines = Seq(
      "2022-12-07 23:03:10 INFO startup",
      // A5-shaped line: the interposed numeric key defeats the reference's
      // 5-word status regex → status falls back (reference-faithful)
      "2022-12-07 23:03:11 INFO the spark submit job is 261050 batch is successful with exit code 0",
      "2022-12-07 23:03:12 INFO shutdown",
      // status phrase the regex CAN match: spark submit job is successful
      "2022-12-08 10:00:00 WARN the spark submit job is successful with exit code 17 for 300999"
    ).toDF("value")
    val out = LogMetrics.parse(lines).orderBy("job_seq_key").collect()
    assert(out.length === 2)
    assert(out(0).getString(0) === "261050")
    assert(out(0).getString(1) === LogMetrics.MissingStatus)
    assert(out(0).getString(2) === "0")
    assert(out(1).getString(0) === "300999")
    assert(out(1).getString(1) === "successful")
    assert(out(1).getString(2) === "17")
  }
}
