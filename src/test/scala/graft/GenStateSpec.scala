package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GenState

/** GenState retention: a long-lived rolling state dir must stay at a
  * BOUNDED number of snapshot directories no matter how many commits
  * (or crashed writers) it has seen — commit auto-prunes to current +
  * previous, the standalone [[GenState.prune]] sweeps crash-orphans
  * and superseded generations, and neither ever touches the current
  * snapshot's content. */
class GenStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(StructField("v", LongType)))

  private def tmp(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_genstate")
    d.toFile.deleteOnExit()
    d
  }

  private def genDirNames(root: java.nio.file.Path): Seq[String] = {
    val f = root.toFile
    if (!f.exists) Seq.empty
    else f.listFiles.toSeq.filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("gen-")).sorted
  }

  private def currentValue(path: String): Long =
    GenState.read(spark, path).collect().map(_.getLong(0)).max

  test("commit auto-prunes to a bounded two generations over many commits") {
    val root = tmp(); val path = root.resolve("state").toString
    (1L to 7L).foreach { i =>
      GenState.commit(spark, Seq(Row(i)), schema, path)
    }
    val names = genDirNames(root.resolve("state"))
    assert(names.size === 2, s"retention must stay bounded, saw $names")
    assert(currentValue(path) === 7L)
  }

  test("prune removes crash-orphans and keeps the current snapshot intact") {
    val root = tmp(); val path = root.resolve("state").toString
    GenState.commit(spark, Seq(Row(1L)), schema, path)
    GenState.commit(spark, Seq(Row(2L)), schema, path)
    // a crashed writer: a generation dir with parquet but NO _SUCCESS
    val orphan = new java.io.File(root.resolve("state").toFile,
      "gen-0000000000000099")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-orphan.parquet"),
      Array[Byte](1, 2, 3))
    val deleted = GenState.prune(spark, path, keepLast = 2)
    assert(deleted === 1, "exactly the orphan goes")
    assert(!orphan.exists, "crash-orphan must be swept")
    assert(currentValue(path) === 2L, "current snapshot untouched")
    assert(GenState.health(spark, path).validGens === 2)
  }

  test("prune(keepLast = 1) tightens to the current generation only") {
    val root = tmp(); val path = root.resolve("state").toString
    (1L to 3L).foreach(i => GenState.commit(spark, Seq(Row(i)), schema, path))
    assert(GenState.prune(spark, path, keepLast = 1) === 1)
    assert(genDirNames(root.resolve("state")).size === 1)
    assert(currentValue(path) === 3L)
  }

  test("prune never deletes the current generation even at keepLast = 0") {
    val root = tmp(); val path = root.resolve("state").toString
    GenState.commit(spark, Seq(Row(5L)), schema, path)
    GenState.prune(spark, path, keepLast = 0) // clamped to 1
    assert(currentValue(path) === 5L)
  }

  test("commit writes its own _SUCCESS marker when the committer " +
      "doesn't, so marker-less deployments keep full semantics") {
    // marksuccessfuljobs=false (common on object stores) makes the
    // committer leave the generation unmarked. Protecting only the
    // committing call was NOT enough (r14 advice): the NEXT commit's
    // sweep would classify the unmarked predecessor as a crash-orphan
    // and delete it, and read() could never resolve such a generation.
    // commit therefore writes the marker itself after the parquet
    // write — everything downstream (read, retention, standalone
    // prune) then behaves exactly as on a marking deployment.
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prev = conf.get(key)
    conf.set(key, "false")
    try {
      val root = tmp(); val path = root.resolve("state").toString
      GenState.commit(spark, Seq(Row(42L)), schema, path)
      val names = genDirNames(root.resolve("state"))
      assert(names.size === 1, s"own-commit must survive: $names")
      assert(root.resolve("state").resolve(names.head)
        .resolve("_SUCCESS").toFile.exists,
        "commit must backfill the missing _SUCCESS marker")
      // the generation is genuinely valid: read resolves it and a
      // standalone sweep KEEPS it (not an orphan)
      assert(currentValue(path) === 42L)
      assert(GenState.prune(spark, path) === 0)
      // and the next commit retains it as the valid predecessor
      // instead of sweeping it
      GenState.commit(spark, Seq(Row(43L)), schema, path)
      assert(genDirNames(root.resolve("state")).size === 2)
      assert(currentValue(path) === 43L)
    } finally {
      if (prev == null) conf.unset(key) else conf.set(key, prev)
    }
  }

  test("prune is a no-op on a legacy bare-parquet root") {
    val root = tmp(); val path = root.resolve("bare").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L)), 1), schema)
      .write.parquet(path)
    assert(GenState.prune(spark, path) === 0)
    assert(currentValue(path) === 9L)
  }

  test("one name parser: a batch-stamped generation resolves beside " +
      "hostile names, which never shadow or lose the real state") {
    val root = tmp(); val path = root.resolve("state").toString
    GenState.commit(spark, Seq(Row(1L)), schema, path, batchId = Some(7L))
    GenState.commit(spark, Seq(Row(2L)), schema, path, batchId = Some(9L))
    val dir = root.resolve("state")
    assert(genDirNames(dir) ===
      Seq("gen-0000000000000001-b7", "gen-0000000000000002-b9"))
    // junk names, even marked, are not generations: an unparseable
    // number, an overflowing one, an unparseable batch stamp
    val junk = Seq("gen-xyz", "gen-99999999999999999999",
      "gen-0000000000000004-bxyz")
    junk.foreach { n =>
      assert(dir.resolve(n).toFile.mkdirs())
      java.nio.file.Files.createFile(dir.resolve(n).resolve("_SUCCESS"))
    }
    // a FILE with a generation name, and an unmarked crash-orphan
    java.nio.file.Files.createFile(dir.resolve("gen-0000000000000005"))
    val orphan = dir.resolve("gen-0000000000000003").toFile
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-orphan.parquet"),
      Array[Byte](1, 2, 3))

    assert(currentValue(path) === 2L)
    assert(GenState.batchWatermark(spark, path) === Some(9L))
    assert(!GenState.isUninitialized(spark, path))
    val h = GenState.health(spark, path)
    assert((h.currentGen, h.validGens, h.orphans, h.batchWatermark,
      h.rows) === ((Some(2L), 2, 1, Some(9L), 1L)))

    // a replayed batch is skipped; the next one commits past the orphan
    // (max over all generations + 1) and the auto-prune sweeps it
    assert(!GenState.fold(spark, path, schema, Some(9L))(_ =>
      fail("a replay must not merge")))
    assert(GenState.fold(spark, path, schema, Some(10L))(cur =>
      Seq(Row(cur.get.collect().map(_.getLong(0)).max + 1))))
    assert(currentValue(path) === 3L)
    assert(genDirNames(dir).filterNot(junk.contains) === Seq(
      "gen-0000000000000002-b9", "gen-0000000000000004-b10"))
    assert(!orphan.exists, "crash-orphan must be swept")
    assert(GenState.prune(spark, path, keepLast = 1) === 1)
    assert(GenState.batchWatermark(spark, path) === Some(10L))
    // no sweep ever touches what is not a generation
    junk.foreach(n => assert(dir.resolve(n).toFile.exists, n))
    assert(dir.resolve("gen-0000000000000005").toFile.isFile)
  }
}
