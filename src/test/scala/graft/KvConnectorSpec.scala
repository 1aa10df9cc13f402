package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Salt
import graft.ingest.KvStore
import graft.sources.{KvScan, KvScanBuilder}

/** DSv2 KV connector: the prefix-scan / point-get semantics of the
  * parquet path must survive the connector boundary unchanged, with
  * connector-level pruning the generic source cannot do (salt derived
  * from the probed rowKey). */
class KvConnectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val store: String = {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val kv = KvStore.pack(li, Seq(col("l_orderkey")), col("l_returnflag"),
      Seq(col("l_linenumber"), col("l_quantity")))
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_kv").toString
    KvStore.write(kv, dir)
    dir
  }

  private def viaConnector: DataFrame =
    spark.read.format("graft.sources.KvSource").load(store)
  private def viaParquet: DataFrame = KvStore.read(spark, store)

  /** The files a scan plans, flattened across its packed partitions. */
  private def filesOf(parts: Seq[InputPartition]): Seq[PartitionedFile] =
    parts.flatMap(_.asInstanceOf[FilePartition].files)
  private def plannedFiles(df: DataFrame): Seq[PartitionedFile] =
    filesOf(df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions
    }.flatten)
  private def storeParquet(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("salt=")).toSeq
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath)

  private def asSet(df: DataFrame): Set[(String, String, String, Int)] =
    df.select(col("rowKey"), col("columnName"), col("value"), col("salt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSet

  test("full scan through the connector equals the parquet path") {
    val c = asSet(viaConnector)
    assert(c.nonEmpty)
    assert(c === asSet(viaParquet))
  }

  test("prefix scan: identical results, StartsWith pushed to the connector") {
    val prefix = "10"
    val c = viaConnector.where(col("rowKey").startsWith(prefix))
    val p = viaParquet.where(col("rowKey").startsWith(prefix))
    assert(asSet(c) === asSet(p))
    val plan = c.queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith"), s"pushdown missing:\n$plan")
  }

  test("point get prunes to the probed key's salt directory") {
    val key = viaParquet.select(col("rowKey")).orderBy(col("rowKey"))
      .head().getString(0)
    val get = viaConnector.where(col("rowKey") === key)
    assert(asSet(get) === asSet(viaParquet.where(col("rowKey") === key)))
    // the connector plans only the files under salt=bucket(key)
    val saltDirFiles = new java.io.File(s"$store/salt=${Salt.bucket(key)}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val allFiles = storeParquet(store).size
    assert(plannedFiles(get).size === saltDirFiles)
    assert(plannedFiles(viaConnector).size === allFiles)
    assert(saltDirFiles < allFiles)
  }

  test("packed scan: at most one partition per core, every file once") {
    val parts = new KvScanBuilder(store).build().asInstanceOf[KvScan]
      .planInputPartitions().toSeq
    val planned = filesOf(parts)
    assert(storeParquet(store).size > spark.sparkContext.defaultParallelism,
      "the store must hold more files than cores for packing to show")
    assert(parts.size <= spark.sparkContext.defaultParallelism)
    assert(planned.map(_.toPath.toUri.getPath).sorted ===
      storeParquet(store).sorted)
    // each file carries its directory's salt as its partition value
    for (f <- planned)
      assert(f.toPath.getParent.getName === s"salt=${f.partitionValues.getInt(0)}")
    assert(viaConnector.rdd.getNumPartitions === parts.size)
  }

  test("column pruning: salt-only projection decodes from directory names") {
    val salts = viaConnector.select(col("salt")).distinct()
      .collect().map(_.getInt(0)).toSet
    val expected = viaParquet.select(col("salt")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(salts === expected)
  }

  test("row-group skipping never drops rows on a multi-row-group file") {
    // tiny block size → many row groups per file → the stats-based skip
    // path actually exercises; results must equal the parquet path for
    // selective AND non-selective prefixes
    import graft.ingest.KvStore
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val kv = KvStore.pack(li, Seq(col("l_orderkey")), col("l_returnflag"),
      Seq(col("l_linenumber")))
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_rg").toString
    KvStore.writeLayout(kv).write
      .option("parquet.block.size", "4096")
      .mode("overwrite").partitionBy("salt").parquet(dir)
    val c = spark.read.format("graft.sources.KvSource").load(dir)
    val p = KvStore.read(spark, dir)
    for (prefix <- Seq("1", "10", "103", "9", "nope")) {
      val cs = asSet(c.where(col("rowKey").startsWith(prefix)))
      val ps = asSet(p.where(col("rowKey").startsWith(prefix)))
      assert(cs === ps, s"prefix '$prefix' diverged")
    }
    // a point get through the skip path
    val key = p.select(col("rowKey")).orderBy(col("rowKey").desc).head().getString(0)
    assert(asSet(c.where(col("rowKey") === key)) ===
      asSet(p.where(col("rowKey") === key)))
  }

  // Keys whose UTF-8 byte order (parquet's binary statistics, the
  // batch write's sort) disagrees with Java's UTF-16 String order:
  // U+10000 sorts above U+E000 in bytes but below it in UTF-16.
  private val supp = new String(Character.toChars(0x10000))
  private val prefixes = Seq("k", "\uE000", supp)

  /** `n` keys per prefix, one cell each, salted as KvStore.pack salts. */
  private def byteOrderKv(n: Int): DataFrame = {
    val ids = spark.range(n).select(format_string("%05d", col("id")).as("i"))
    prefixes.map(p => ids.select(concat(lit(p), col("i")).as("rowKey")))
      .reduce(_ union _)
      .select(col("rowKey"), lit("q").as("columnName"),
        concat(lit("value-"), col("rowKey"), lit("-" * 32)).as("value"))
      .withColumn("salt", graft.ops.SaltExpr.saltCol(col("rowKey")))
  }

  /** A sorted store of many small row groups per salt directory. */
  private lazy val byteOrderStore: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_bo").toString
    KvStore.writeLayout(byteOrderKv(4000)).write
      .option("parquet.block.size", "4096")
      .mode("overwrite").partitionBy("salt").parquet(dir)
    dir
  }

  test("byte-order store: point gets and prefix scans equal KvStore.read") {
    val c = spark.read.format("graft.sources.KvSource").load(byteOrderStore)
    val p = KvStore.read(spark, byteOrderStore)
    for (prefix <- prefixes ++ Seq("k0123", "\uE00003", supp + "039",
        "\uFFFF", "")) {
      val ps = asSet(p.where(col("rowKey").startsWith(prefix)))
      assert(asSet(c.where(col("rowKey").startsWith(prefix))) === ps,
        s"prefix '$prefix' diverged")
    }
    for (prefix <- prefixes; i <- Seq(0, 1999, 3999)) {
      val key = f"$prefix$i%05d"
      val ps = asSet(p.where(col("rowKey") === key))
      assert(ps.size === 1)
      assert(asSet(c.where(col("rowKey") === key)) === ps, s"get '$key' diverged")
    }
    // a lookup join: its build keys (120, past Spark's parquet IN
    // threshold of 10) reach the scan as a runtime IN over all ranges
    val probe = p.select(col("rowKey")).where(col("rowKey").endsWith("00"))
    val lookup = c.join(broadcast(probe), Seq("rowKey"))
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), s"no runtime filter:\n$plan")
    assert(asSet(lookup) === asSet(p.join(broadcast(probe), Seq("rowKey"))))
  }

  test("a point get reads fewer rows than its salt directory holds") {
    // only row-group skipping on the pushed rowKey can make it so
    val key = supp + "02000"
    val get = spark.read.format("graft.sources.KvSource").load(byteOrderStore)
      .where(col("rowKey") === key)
    assert(get.collect().length === 1)
    val scanned = get.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.metrics("numOutputRows").value
    }.getOrElse(fail("no KvSource scan in the plan"))
    val saltRows = KvStore.read(spark, byteOrderStore)
      .where(col("salt") === Salt.bucket(key)).count()
    assert(scanned >= 1 && scanned < saltRows,
      s"scanned $scanned of the salt directory's $saltRows rows")
  }

  test("runtime filtering: join keys prune to their salt directories") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    // unit level: an IN(rowKey, ...) predicate delivered via
    // SupportsRuntimeV2Filtering must replan to exactly the keys' salts
    val keys = viaParquet.select(col("rowKey")).distinct()
      .orderBy(col("rowKey")).limit(3).collect().map(_.getString(0))
    val scan = new KvScanBuilder(store).build()
      .asInstanceOf[graft.sources.KvScan]
    val all = filesOf(scan.planInputPartitions().toSeq)
    scan.filter(Array(new Predicate("IN",
      (Expressions.column("rowKey") +:
        keys.map(k => Expressions.literal(k)
          : org.apache.spark.sql.connector.expressions.Expression)).toArray)))
    val pruned = filesOf(scan.planInputPartitions().toSeq)
    val expectSalts = keys.map(k => Salt.bucket(k)).toSet
    assert(pruned.map(_.partitionValues.getInt(0)).toSet === expectSalts)
    assert(pruned.length < all.length)

    // end to end: a broadcast lookup join on rowKey carries the build
    // side's keys into the scan as a dynamic-pruning runtime filter
    // (the DSv2 twin of the reference's bulkGet region locating), and
    // results stay identical to the parquet path. The build side needs
    // a selective predicate — Spark's PartitionPruning heuristic only
    // plans DPP when the probe frame filters something.
    val probe = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").cast("string").as("rowKey")).distinct()
      .where(col("rowKey").startsWith("1"))
    val viaConn = viaConnector.join(broadcast(probe), Seq("rowKey"))
    val plan = viaConn.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"runtime filter not planned:\n$plan")
    assert(asSet(viaConn) ===
      asSet(viaParquet.join(broadcast(probe), Seq("rowKey"))))
  }

  test("reported statistics shrink under pruning and unlock broadcast joins") {
    import org.apache.spark.sql.sources.EqualTo
    val key = viaParquet.select(col("rowKey")).orderBy(col("rowKey"))
      .head().getString(0)
    val full = new KvScanBuilder(store).build().asInstanceOf[KvScan]
    val b = new KvScanBuilder(store)
    b.pushFilters(Array(EqualTo("rowKey", key)))
    val pointGet = b.build().asInstanceOf[KvScan]
    val fullBytes = full.estimateStatistics().sizeInBytes().getAsLong
    val prunedBytes = pointGet.estimateStatistics().sizeInBytes().getAsLong
    assert(fullBytes > 0 && prunedBytes > 0 && prunedBytes < fullBytes)
    // without reported stats a V2 relation costs defaultSizeInBytes and
    // could never win the broadcast decision; with them the small store
    // side broadcasts WITHOUT a hint
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").cast("string").as("rowKey"),
        col("l_linenumber"))
    val j = li.join(viaConnector, Seq("rowKey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
  }

  test("COUNT(*) answers from footer metadata; filtered counts decode") {
    assert(viaConnector.count() === viaParquet.count())
    val plan = viaConnector.groupBy().count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation=[COUNT(*)]"),
      s"count not pushed:\n$plan")
    // a filtered count must NOT push (filters stay residual) and must
    // still be exact through the decode path
    val pred = col("rowKey").startsWith("10")
    assert(viaConnector.where(pred).count() === viaParquet.where(pred).count())
    val fplan = viaConnector.where(pred).groupBy().count()
      .queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedAggregation=[COUNT"), s"pushed:\n$fplan")
  }

  // ── DSv2 write path ──────────────────────────────────────────────────

  private def packedKv: DataFrame = {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    KvStore.pack(li, Seq(col("l_orderkey")), col("l_returnflag"),
      Seq(col("l_linenumber"), col("l_quantity")))
  }

  test("DSv2 write round-trips: connector-written store equals KvStore.write") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_w").toString
    packedKv.write.format("graft.sources.KvSource")
      .mode("overwrite").save(dir)
    // same rows through BOTH read paths
    val viaConn = spark.read.format("graft.sources.KvSource").load(dir)
    assert(asSet(viaConn) === asSet(viaParquet))
    assert(asSet(KvStore.read(spark, dir)) === asSet(viaParquet))
    // the on-disk layout is the KvStore.write contract: salt dirs, no
    // stray files, no leftover staging
    val root = new java.io.File(dir)
    val entries = root.listFiles().map(_.getName).toSet
    assert(entries.forall(_.startsWith("salt=")), s"stray entries: $entries")
  }

  test("a streaming store (batch_id=…/salt=…) fails the scan and the " +
      "COUNT(*) loudly instead of reading as empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_stream").toString
    // the muprStream layout: one batch_id=… partition above the salts
    KvStore.write(packedKv, s"$dir/batch_id=0")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" / ")
    val conn = spark.read.format("graft.sources.KvSource").load(dir)
    for (action <- Seq[DataFrame => Any](_.collect(), _.count())) {
      val msg = messages(intercept[Exception](action(conn)))
      assert(msg.contains("batch_id=0") && msg.contains("KvStore.read"), msg)
    }
    // the parquet source reads the same tree (partition discovery)
    assert(KvStore.read(spark, dir).count() === packedKv.count())
  }

  test("DSv2-written files are rowKey-sorted (row-group pruning works)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_ws").toString
    packedKv.write.format("graft.sources.KvSource")
      .mode("overwrite").save(dir)
    // every file's rows are non-decreasing in rowKey — the property the
    // reader's min/max skipping depends on
    for {
      saltDir <- new java.io.File(dir).listFiles()
      if saltDir.isDirectory && saltDir.getName.startsWith("salt=")
      f <- saltDir.listFiles() if f.getName.endsWith(".parquet")
    } {
      val keys = spark.read.parquet(f.getAbsolutePath)
        .select(col("rowKey")).collect().map(_.getString(0)).toSeq
      assert(keys === keys.sorted, s"${f.getName} not rowKey-sorted")
    }
    // and a prefix scan through the connector still prunes + matches
    val c = spark.read.format("graft.sources.KvSource").load(dir)
    assert(asSet(c.where(col("rowKey").startsWith("10"))) ===
      asSet(viaParquet.where(col("rowKey").startsWith("10"))))
  }

  test("streaming write: micro-batches land as the same sorted store layout") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_st")
    val incoming = dir.resolve("incoming").toString
    val store = dir.resolve("store").toString
    val kv = packedKv
    kv.write.mode("overwrite").parquet(incoming)
    val q = spark.readStream.schema(kv.schema).parquet(incoming)
      .writeStream.format("graft.sources.KvSource")
      .option("path", store)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // identical rows through both read paths, identical layout contract
    // (plus the sink-side committed-epoch ledger, which readers ignore
    // like any underscore-prefixed directory)
    val viaConn = spark.read.format("graft.sources.KvSource").load(store)
    assert(asSet(viaConn) === asSet(viaParquet))
    val root = new java.io.File(store)
    assert(root.listFiles().map(_.getName)
      .forall(n => n.startsWith("salt=") || n.startsWith("_commits_")))
    for {
      saltDir <- root.listFiles() if saltDir.isDirectory
      f <- saltDir.listFiles() if f.getName.endsWith(".parquet")
    } {
      val keys = spark.read.parquet(f.getAbsolutePath)
        .select(col("rowKey")).collect().map(_.getString(0)).toSeq
      assert(keys === keys.sorted, s"${f.getName} not rowKey-sorted")
    }
  }

  test("streaming sink writes every file in UTF-8 byte order") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_sbo")
    val incoming = dir.resolve("incoming").toString
    val store = dir.resolve("store").toString
    val kv = byteOrderKv(200)
    kv.coalesce(1).write.mode("overwrite").parquet(incoming)
    val q = spark.readStream.schema(kv.schema).parquet(incoming)
      .writeStream.format("graft.sources.KvSource")
      .option("path", store)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(asSet(spark.read.format("graft.sources.KvSource").load(store)) ===
      asSet(kv))
    // each file's keys, in file order
    val byFile = spark.read.parquet(store)
      .select(input_file_name(), col("rowKey")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      .groupBy(_._1).values.map(_.map(_._2))
    val utf8 = (k: String) => k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    for (keys <- byFile; (a, b) <- keys.zip(keys.drop(1)))
      assert(java.util.Arrays.compareUnsigned(utf8(a), utf8(b)) <= 0,
        s"'$a' written before '$b'")
    // the order question only arises where a file mixes both ranges
    assert(byFile.exists(ks => ks.exists(_.startsWith("\uE000")) &&
      ks.exists(_.startsWith(supp))))
  }

  test("streaming epoch replay is idempotent (no duplicate rows)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.{KvConnector, KvTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_ep").toString
    val info = new LogicalWriteInfo {
      override def queryId(): String = "replay-test"
      override def schema() = KvConnector.schema
      override def options() =
        new CaseInsensitiveStringMap(java.util.Collections.emptyMap())
    }
    val sw = new KvTable(dir).newWriteBuilder(info).build().toStreaming
    val factory = sw.createStreamingWriterFactory(
      new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
    def row(k: String, v: String): InternalRow =
      new GenericInternalRow(Array[Any](UTF8String.fromString(k),
        UTF8String.fromString("q"), UTF8String.fromString(v),
        Salt.bucket(k)))
    def runEpoch(eid: Long, rows: Seq[(String, String)]): Unit = {
      val w = factory.createWriter(0, /*taskId=*/ eid * 100, eid)
      rows.foreach { case (k, v) => w.write(row(k, v)) }
      sw.commit(eid, Array(w.commit()))
    }
    runEpoch(0, Seq("k1" -> "v1", "k2" -> "v2"))
    runEpoch(0, Seq("k1" -> "v1", "k2" -> "v2")) // failure-recovery replay
    runEpoch(1, Seq("k3" -> "v3"))
    val got = spark.read.format("graft.sources.KvSource").load(dir)
      .select(col("rowKey"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got === Seq("k1" -> "v1", "k2" -> "v2", "k3" -> "v3"))
  }

  // Shared rig for the commit-protocol tests: hand-built writer
  // coordinates simulate conditions spark-submit can't produce in one
  // JVM (two applications, a crash between file moves and the marker).
  private object CommitRig {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.KvConnector
    import scala.jdk.CollectionConverters._

    def info(qid: String, opts: Map[String, String] = Map.empty): LogicalWriteInfo =
      new LogicalWriteInfo {
        override def queryId(): String = qid
        override def schema() = KvConnector.schema
        override def options() =
          new CaseInsensitiveStringMap(opts.asJava)
      }
    def row(k: String, v: String): InternalRow =
      new GenericInternalRow(Array[Any](UTF8String.fromString(k),
        UTF8String.fromString("q"), UTF8String.fromString(v),
        Salt.bucket(k)))
    def numPartitions(n: Int) = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = n
    }
  }

  private def readPairs(dir: String): Seq[(String, String)] =
    spark.read.format("graft.sources.KvSource").load(dir)
      .select(col("rowKey"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq

  test("batch appends from separate applications never collide") {
    import graft.sources.KvTable
    // partitionId and taskId both restart at 0 in a fresh SparkContext:
    // two append JOBS from separate applications produce identical
    // writer coordinates. The per-job queryId in committed file names
    // must keep them disjoint — before it, the second commit's
    // REPLACE_EXISTING move silently swallowed the first append.
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_apps").toString
    def appendAs(qid: String, k: String, v: String): Unit = {
      val bw = new KvTable(dir).newWriteBuilder(CommitRig.info(qid))
        .build().toBatch
      val w = bw.createBatchWriterFactory(CommitRig.numPartitions(1))
        .createWriter(0, 0L)
      w.write(CommitRig.row(k, v))
      bw.commit(Array(w.commit()))
    }
    appendAs("app-1", "k1", "v1")
    appendAs("app-2", "k2", "v2") // same (partitionId=0, taskId=0)
    assert(readPairs(dir) === Seq("k1" -> "v1", "k2" -> "v2"))
  }

  test("epoch replay after a crashed commit sweeps the partial files") {
    import graft.sources.KvTable
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_cr").toString
    val sw = new KvTable(dir).newWriteBuilder(CommitRig.info("run-1"))
      .build().toStreaming
    val factory = sw.createStreamingWriterFactory(CommitRig.numPartitions(2))
    // original attempt: epoch 0 over TWO partitions, commit completes
    // its moves but "crashes" before the marker write (simulated by
    // deleting the marker)
    val w0 = factory.createWriter(0, 0L, 0); w0.write(CommitRig.row("k1", "v1"))
    val w1 = factory.createWriter(1, 1L, 0); w1.write(CommitRig.row("k2", "v2"))
    sw.commit(0, Array(w0.commit(), w1.commit()))
    val marker = new java.io.File(dir, "_commits_stream/epoch-0")
    assert(marker.exists(), "commit must record its epoch marker")
    assert(marker.delete())
    // recovery replay plans ONE partition (different routing than the
    // crashed attempt) — without the sweep, the original attempt's
    // part-1 file would survive beside the replay's and duplicate k2
    val sw2 = new KvTable(dir).newWriteBuilder(CommitRig.info("run-2"))
      .build().toStreaming
    val f2 = sw2.createStreamingWriterFactory(CommitRig.numPartitions(1))
    val rw = f2.createWriter(0, 7L, 0)
    rw.write(CommitRig.row("k1", "v1")); rw.write(CommitRig.row("k2", "v2"))
    sw2.commit(0, Array(rw.commit()))
    assert(readPairs(dir) === Seq("k1" -> "v1", "k2" -> "v2"))
  }

  test("epoch replay with a different partition count after a MID-MOVE crash leaves no duplicates") {
    import graft.sources.{KvCommitMessage, KvTable}
    // the sharpest replay scenario: the original commit crashed PARTWAY
    // through its file moves — some partitions' files are already
    // visible in the store, others still in staging, no marker. The
    // recovery replay then plans a DIFFERENT partition count, so rows
    // route to different (partition, file) coordinates and name
    // overwrite alone could never reconcile the two attempts.
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_mid").toString
    val sw = new KvTable(dir).newWriteBuilder(CommitRig.info("run-1"))
      .build().toStreaming
    val factory = sw.createStreamingWriterFactory(CommitRig.numPartitions(3))
    val msgs = (0 until 3).map { p =>
      val w = factory.createWriter(p, p.toLong, 0)
      w.write(CommitRig.row(s"k$p", s"v$p"))
      w.commit().asInstanceOf[KvCommitMessage]
    }
    // crash simulation: move partitions 0 and 1 by hand (exactly what
    // commit() does), skip partition 2 and the marker
    val staging = new java.io.File(dir, "_staging_stream=run-1=e0")
    assert(staging.isDirectory, "writers must stage under the documented name")
    msgs.take(2).flatMap(_.relFiles).foreach { rel =>
      val src = new java.io.File(staging, rel)
      val dst = new java.io.File(dir, rel)
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(src.toPath, dst.toPath)
    }
    // recovery replay: SAME rows, TWO partitions (different routing)
    val sw2 = new KvTable(dir).newWriteBuilder(CommitRig.info("run-2"))
      .build().toStreaming
    val f2 = sw2.createStreamingWriterFactory(CommitRig.numPartitions(2))
    val r0 = f2.createWriter(0, 10L, 0)
    r0.write(CommitRig.row("k0", "v0")); r0.write(CommitRig.row("k1", "v1"))
    val r1 = f2.createWriter(1, 11L, 0)
    r1.write(CommitRig.row("k2", "v2"))
    sw2.commit(0, Array(r0.commit(), r1.commit()))
    // every row exactly once: the crashed attempt's landed files were
    // swept, its staging (incl. the never-moved partition 2) deleted
    assert(readPairs(dir) === Seq("k0" -> "v0", "k1" -> "v1", "k2" -> "v2"))
    assert(!staging.exists(),
      "replay commit must sweep the crashed attempt's staging dir")
    assert(new java.io.File(dir, "_commits_stream/epoch-0").exists())
  }

  test("committed-epoch markers age out beyond the retention window") {
    import graft.sources.KvTable
    // one marker per epoch, forever, is unbounded tiny-file growth on a
    // long-running stream; commits age out markers far enough below the
    // committing epoch that only a regressed (fresh) checkpoint — a
    // misconfiguration, not a crash recovery — could ever miss them
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_ret").toString
    val sw = new KvTable(dir).newWriteBuilder(CommitRig.info("ret-1"))
      .build().toStreaming
    val f = sw.createStreamingWriterFactory(CommitRig.numPartitions(1))
    def commitEpoch(e: Long, k: String): Unit = {
      val w = f.createWriter(0, e, e)
      w.write(CommitRig.row(k, "v"))
      sw.commit(e, Array(w.commit()))
    }
    commitEpoch(0, "a"); commitEpoch(1, "b")
    commitEpoch(2000, "c") // retention 1024: epochs < 976 age out
    val markers = new java.io.File(dir, "_commits_stream")
      .listFiles().map(_.getName).toSet
    assert(markers === Set("epoch-2000"), s"got $markers")
    // aging markers must never touch data
    assert(readPairs(dir).map(_._1) === Seq("a", "b", "c"))
  }

  test("two streams with distinct streamIds share a store without clobbering") {
    import graft.sources.KvTable
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_2s").toString
    def epoch0(qid: String, streamId: String, k: String, v: String): Unit = {
      val sw = new KvTable(dir)
        .newWriteBuilder(CommitRig.info(qid, Map("streamId" -> streamId)))
        .build().toStreaming
      val w = sw.createStreamingWriterFactory(CommitRig.numPartitions(1))
        .createWriter(0, 0L, 0)
      w.write(CommitRig.row(k, v))
      sw.commit(0, Array(w.commit()))
    }
    // both queries write THEIR OWN epoch 0 — names and markers must stay
    // disjoint per stream or the second clobbers (or skips on) the first
    epoch0("qa", "ingest-a", "k1", "v1")
    epoch0("qb", "ingest-b", "k2", "v2")
    assert(readPairs(dir) === Seq("k1" -> "v1", "k2" -> "v2"))
  }

  test("DSv2 append adds rows; overwrite truncates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_a").toString
    val a = Seq(("k1", "q", "v1")).toDF("rowKey", "columnName", "value")
      .withColumn("salt", graft.ops.SaltExpr.saltCol(col("rowKey")))
    val b = Seq(("k2", "q", "v2")).toDF("rowKey", "columnName", "value")
      .withColumn("salt", graft.ops.SaltExpr.saltCol(col("rowKey")))
    a.write.format("graft.sources.KvSource").mode("overwrite").save(dir)
    b.write.format("graft.sources.KvSource").mode("append").save(dir)
    val read = spark.read.format("graft.sources.KvSource").load(dir)
    assert(read.select(col("rowKey")).collect().map(_.getString(0)).toSet
      === Set("k1", "k2"))
    b.write.format("graft.sources.KvSource").mode("overwrite").save(dir)
    val after = spark.read.format("graft.sources.KvSource").load(dir)
    assert(after.select(col("rowKey")).collect().map(_.getString(0)).toSet
      === Set("k2"))
  }

  test("remote-scheme store paths are rejected loudly, not scanned as empty") {
    // File.listFiles on an hdfs:// path is null — before the guard, a
    // remote store read 0 rows (and COUNT(*) = 0) with no error
    val e = intercept[Exception] {
      spark.read.format("graft.sources.KvSource")
        .load("hdfs://namenode/store").count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        Option(x.getCause).toSeq.flatMap(messages))
    assert(messages(e).exists(_.contains("local-filesystem connector")))
  }

  test("a non-numeric salt directory fails the scan with a named culprit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_bad").toString
    import spark.implicits._
    Seq(("k1", "q", "v1")).toDF("rowKey", "columnName", "value")
      .withColumn("salt", graft.ops.SaltExpr.saltCol(col("rowKey")))
      .write.format("graft.sources.KvSource").mode("overwrite").save(dir)
    // the directory a null salt written around the connector leaves
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "salt=__HIVE_DEFAULT_PARTITION__"))
    val e = intercept[Exception] {
      spark.read.format("graft.sources.KvSource").load(dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        Option(x.getCause).toSeq.flatMap(messages))
    assert(messages(e).exists(m =>
      m.contains("salt=__HIVE_DEFAULT_PARTITION__")))
  }

  test("a null salt is rejected at the writer, never filed under salt=0") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.KvTable
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_ns").toString
    val bw = new KvTable(dir).newWriteBuilder(CommitRig.info("nullsalt"))
      .build().toBatch
    val w = bw.createBatchWriterFactory(CommitRig.numPartitions(1))
      .createWriter(0, 0)
    val nullSalt = new GenericInternalRow(Array[Any](
      UTF8String.fromString("k1"), UTF8String.fromString("q"),
      UTF8String.fromString("v"), null))
    val e = intercept[IllegalArgumentException] { w.write(nullSalt) }
    assert(e.getMessage.contains("null salt"))
    w.abort()
  }

  test("a crashed run's staging is swept by the restarted stream's commits") {
    import graft.sources.KvTable
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_sw").toString
    // a dead attempt of epoch 0 under a queryId no restart will reuse
    val dead = new java.io.File(dir, "_staging_ingest=dead-query=e0")
    new java.io.File(dead, "salt=0").mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dead, "salt=0/part-0-epoch0-ingest.parquet").toPath, "x")
    // an UNRELATED stream's staging must survive the sweep
    val other = new java.io.File(dir, "_staging_other=live-query=e0")
    other.mkdirs()
    val sw = new KvTable(dir)
      .newWriteBuilder(CommitRig.info("fresh-query", Map("streamId" -> "ingest")))
      .build().toStreaming
    val factory = sw.createStreamingWriterFactory(CommitRig.numPartitions(1))
    val w = factory.createWriter(0, 0, 0)
    w.write(CommitRig.row("k1", "v1"))
    sw.commit(0, Array(w.commit()))
    assert(!dead.exists(), "dead staging of the same stream must be swept")
    assert(other.exists(), "another stream's staging must not be touched")
    assert(readPairs(dir) === Seq("k1" -> "v1"))
  }

  test("sweepStaleStaging is age-gated and counts what it deletes") {
    import graft.sources.KvConnector
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_age").toString
    val stale = new java.io.File(dir, "_staging_crashed-job")
    stale.mkdirs()
    stale.setLastModified(System.currentTimeMillis() - 100000)
    val live = new java.io.File(dir, "_staging_running-job")
    live.mkdirs()
    assert(KvConnector.sweepStaleStaging(dir, olderThanMillis = 50000) === 1)
    assert(!stale.exists() && live.exists())
  }
}
