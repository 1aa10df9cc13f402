package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Ann

/** Persistent IVF index: query-vs-index results must equal ivfTopK over
  * the same (deterministically trained) clustering, and the inverted
  * lists must scan bucketed. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private def qc = {
    val e = Tables(spark, dir, "embeddings")
    (e.where(col("vec_id") < 8)
       .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
     e.select(col("vec_id").as("cid"), col("embedding").as("cvec")))
  }

  test("indexed query equals ivfTopK") {
    val (q, c) = qc
    val path = Files.createTempDirectory("graft_ivfidx").toString + "/idx"
    Ann.writeIvfIndex(c, path, nClusters = 16, iters = 2, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    val indexed = rows(Ann.queryIvfIndex(q, path, k = 10, nprobe = 4))
    val direct = rows(Ann.ivfTopK(q, c, k = 10, nClusters = 16,
      nprobe = 4, iters = 2))
    assert(indexed.nonEmpty)
    assert(indexed === direct)
  }

  test("an empty training set yields empty frames with the usual schemas") {
    val (q, c) = qc
    val (assign, cents) = Ann.ivfIndex(c, nClusters = 4)
    val noRows = c.where(lit(false))
    val allEmpty = c.withColumn("cvec", slice(col("cvec"), 1, 0))
    for (corpus <- Seq(noRows, allEmpty); iters <- Seq(0, 2)) {
      val (a, z) = Ann.ivfIndex(corpus, nClusters = 4, iters = iters)
      assert(a.schema === assign.schema && z.schema === cents.schema)
      assert(a.count() === 0L && z.count() === 0L)
      assert(Ann.ivfTopK(q, corpus, k = 3, nClusters = 4).count() === 0L)
    }
  }

  test("append: grown lists stay exact (all-probe equals brute force)") {
    val (q, c) = qc
    val half = c.where(col("cid") % 2 === 0)
    val rest = c.where(col("cid") % 2 =!= 0)
    val path = Files.createTempDirectory("graft_ivfidx_a").toString + "/idx"
    Ann.writeIvfIndex(half, path, nClusters = 8, iters = 2, buckets = 4)
    Ann.appendToIvfIndex(rest, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    // probing every cluster is exact whatever the centroids, so the
    // grown index must reproduce brute force over the FULL corpus —
    // proving the appended vectors landed exactly once in the lists
    val grown = rows(Ann.queryIvfIndex(q, path, k = 10, nprobe = 8))
    assert(grown === rows(Ann.bruteForceTopK(q, c, k = 10)))
  }

  test("compaction re-buckets the lists: same answers, one file per bucket") {
    val (q, c) = qc
    val half = c.where(col("cid") % 2 === 0)
    val rest = c.where(col("cid") % 2 =!= 0)
    val root = Files.createTempDirectory("graft_ivfidx_c").toString
    val (src, dst) = (s"$root/idx", s"$root/compact")
    Ann.writeIvfIndex(half, src, nClusters = 8, iters = 2, buckets = 4)
    Ann.appendToIvfIndex(rest, src)
    Ann.compactIvfIndex(spark, src, dst)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    assert(rows(Ann.queryIvfIndex(q, dst, k = 10, nprobe = 8)) ===
      rows(Ann.queryIvfIndex(q, src, k = 10, nprobe = 8)))
    // at most one file per bucket (a hash-empty bucket writes none),
    // strictly fewer than the appended source — fragmentation healed
    def files(p: String) = Option(new java.io.File(p).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(files(s"$dst/lists") <= 4 && files(s"$dst/lists") >= 1,
      s"got ${files(s"$dst/lists")}")
    assert(files(s"$src/lists") > files(s"$dst/lists"))
  }

  test("a replayed append keeps top-k exact; compaction heals the lists") {
    // an orchestrator retry appends the same batch twice: every list row
    // of the batch is stored twice, and one cid must still take ONE
    // top-k slot — full probing stays equal to brute force
    val (q, c) = qc
    val half = c.where(col("cid") % 2 === 0)
    val rest = c.where(col("cid") % 2 =!= 0)
    val root = Files.createTempDirectory("graft_ivfidx_r").toString
    val (src, dst) = (s"$root/idx", s"$root/compact")
    Ann.writeIvfIndex(half, src, nClusters = 8, iters = 2, buckets = 4)
    Ann.appendToIvfIndex(rest, src)
    Ann.appendToIvfIndex(rest, src) // replay
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    val exact = rows(Ann.bruteForceTopK(q, c, k = 10))
    assert(rows(Ann.queryIvfIndex(q, src, k = 10, nprobe = 8)) === exact)
    Ann.compactIvfIndex(spark, src, dst)
    assert(rows(Ann.queryIvfIndex(q, dst, k = 10, nprobe = 8)) === exact)
    val lists = spark.read.parquet(s"$dst/lists")
    assert(lists.count() === c.count())
    assert(lists.select("cid").distinct().count() === c.count())
  }

  test("the inverted lists scan bucketed, exactly once") {
    val (q, _) = qc
    val path = Files.createTempDirectory("graft_ivfidx2").toString + "/idx"
    Ann.writeIvfIndex(qc._2, path, nClusters = 8, iters = 1, buckets = 4)
    val plan = Ann.queryIvfIndex(q, path, k = 5, nprobe = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"),
      s"lists table should scan bucketed:\n${plan.take(3000)}")
    // ONE bucketed join with vectors in place — a (cid, cluster)/(cid,
    // cvec) split would scan the table twice and shuffle the full vector
    // payload on cid (a column the table is not bucketed by)
    val listScans = "Location.*idx/lists".r.findAllIn(plan).size
    assert(listScans === 1,
      s"lists must be scanned exactly once, got $listScans")
  }
}
