package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Ann, Pq}

/** PQ codebook/encode/ADC contracts: code shape and range, exact
  * reconstruction when the corpus has ≤k distinct subvectors, recall of
  * the ADC prefilter against exact brute force, determinism. */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def embeddings = Tables(spark, dir, "embeddings")

  private def qc = {
    val e = embeddings
    (e.where(col("vec_id") < 8)
       .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
     e.select(col("vec_id").as("cid"), col("embedding").as("cvec")))
  }

  test("codes have length m with values in [0, k)") {
    val (_, c) = qc
    val mdl = Pq.train(c, col("cid"), col("cvec"), dim = 64, m = 8, k = 16)
    assert(mdl.centroids.size === 8)
    assert(mdl.centroids.forall(sub => sub.nonEmpty && sub.size <= 16))
    assert(mdl.centroids.forall(_.forall(_.size === 8)))
    val codes = c.select(Pq.encode(col("cvec"), mdl).as("codes"))
      .select(explode(col("codes"))).as[Int].collect()
    assert(codes.forall(j => j >= 0 && j < 16))
    val lens = c.select(size(Pq.encode(col("cvec"), mdl))).as[Int].collect()
    assert(lens.forall(_ === 8))
  }

  test("a corpus of k distinct vectors encodes losslessly after training") {
    // with exactly k distinct subvectors per subspace, Lloyd converges to
    // them and ADC reconstruction is exact: every vector's nearest
    // centroid IS its own subvector
    // distinct DIRECTIONS (not scalar multiples — those normalize to the
    // same unit vector and must collapse to one code)
    val base = (0 until 4).map { i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 7 + d * 3) % 11 + 1).toFloat))
    }
    val c = base.toDF("cid", "cvec")
    val mdl = Pq.train(c, col("cid"), col("cvec"), dim = 16, m = 4, k = 4,
      iters = 3)
    val recon = c.select(col("cid"), Pq.encode(col("cvec"), mdl).as("codes"))
      .collect().map(r => r.getAs[Long]("cid") -> r.getSeq[Int](1)).toMap
    // distinct vectors must get distinct codes (lossless separation)
    assert(recon.values.toSet.size === 4)
  }

  test("ADC top-k recall vs exact brute force") {
    val (q, c) = qc
    val exact = Ann.bruteForceTopK(q, c, k = 10).select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.adcTopK(q, c, k = 10, dim = 64, m = 8, nCentroids = 16,
        overscan = 8)
      .select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.5,
      s"PQ recall $recall (${exact.count(pq.contains)}/${exact.size})")
  }

  test("IVF+PQ index: recall vs brute force, survives catalog loss") {
    import java.nio.file.Files
    val (q, c) = qc
    val path = Files.createTempDirectory("graft_ivfpq").toString + "/idx"
    Pq.writeIvfPqIndex(c, path, dim = 64, m = 8, nCentroids = 16,
      nClusters = 8, buckets = 4)
    def run() = Pq.queryIvfPqIndex(q, path, k = 10, nprobe = 4, overscan = 8)
      .select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = run()
    val exact = Ann.bruteForceTopK(q, c, k = 10).select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pairs.contains).toDouble / exact.size
    assert(recall >= 0.4,
      s"IVFPQ recall $recall (${exact.count(pairs.contains)}/${exact.size})")
    // model round-trip is lossless: reload and compare
    val reloaded = Pq.readModel(spark, s"$path/pq_model")
    assert(reloaded.centroids.flatten.flatten.nonEmpty)
    // drop the in-memory catalog registrations; stored files must carry
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_ivfpq_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    assert(run() === pairs)
  }

  test("IVF+PQ append: grown index stays exact under full probe + overscan") {
    import java.nio.file.Files
    val (q, c) = qc
    val half = c.where(col("cid") % 2 === 0)
    val rest = c.where(col("cid") % 2 =!= 0)
    val path = Files.createTempDirectory("graft_ivfpq_a").toString + "/idx"
    Pq.writeIvfPqIndex(half, path, dim = 64, m = 8, nCentroids = 16,
      nClusters = 8, buckets = 4)
    Pq.appendToIvfPqIndex(rest, path)
    // probing every cluster with an overscan that admits the whole
    // corpus makes the exact re-rank total: the grown index must
    // reproduce brute force over the FULL corpus exactly — proving each
    // appended vector landed exactly once in lists AND float store
    val n = c.count().toInt
    val grown = Pq.queryIvfPqIndex(q, path, k = 10, nprobe = 8,
        overscan = n / 10 + 1)
      .orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    val exact = Ann.bruteForceTopK(q, c, k = 10)
      .orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    assert(grown === exact)
  }

  test("IVF+PQ replayed append: top-k stays exact; compaction heals both tables") {
    // a retried append stores the batch's list AND float rows twice;
    // duplicates must neither take extra survivor or top-k slots nor
    // outlive compaction
    import java.nio.file.Files
    val (q, c) = qc
    val half = c.where(col("cid") % 2 === 0)
    val rest = c.where(col("cid") % 2 =!= 0)
    val root = Files.createTempDirectory("graft_ivfpq_r").toString
    val (src, dst) = (s"$root/idx", s"$root/compact")
    Pq.writeIvfPqIndex(half, src, dim = 64, m = 8, nCentroids = 16,
      nClusters = 8, buckets = 4)
    Pq.appendToIvfPqIndex(rest, src)
    Pq.appendToIvfPqIndex(rest, src) // replay
    val n = c.count()
    def rows(path: String) = Pq.queryIvfPqIndex(q, path, k = 10, nprobe = 8,
        overscan = n.toInt / 10 + 1)
      .orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    val exact = Ann.bruteForceTopK(q, c, k = 10)
      .orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    assert(rows(src) === exact)
    Pq.compactIvfPqIndex(spark, src, dst)
    assert(rows(dst) === exact)
    for (part <- Seq("lists", "vecs")) {
      val t = spark.read.parquet(s"$dst/$part")
      assert(t.count() === n && t.select("cid").distinct().count() === n,
        s"$part holds each cid once")
    }
  }

  test("encode raises on a dimension-mismatched vector, not code 0") {
    val (_, c) = qc
    val mdl = Pq.train(c, col("cid"), col("cvec"), dim = 64, m = 8, k = 16)
    // a short vector must fail loudly — zip_with null-padding used to
    // null every cluster distance and array_min's nulls-first struct
    // ordering silently emitted code 0 for every subspace
    val bad = Seq((1L, Array.tabulate(8)(_.toFloat))).toDF("cid", "cvec")
    val e = intercept[Exception](
      bad.select(Pq.encode(col("cvec"), mdl)).collect())
    assert(e.getMessage.contains("does not match the trained dim"))
    // a NULL vector still passes through as null codes
    val nul = Seq((1L, null.asInstanceOf[Array[Float]])).toDF("cid", "cvec")
    assert(nul.select(Pq.encode(col("cvec"), mdl)).head().isNullAt(0))
  }

  test("append telemetry + compaction close the IVF+PQ index lifecycle") {
    import java.nio.file.Files
    val (q, c) = qc
    val half = c.where(col("cid") % 2 === 0)
    val rest = c.where(col("cid") % 2 =!= 0)
    val base = Files.createTempDirectory("graft_ivfpq_c").toString
    val path = base + "/idx"
    Pq.writeIvfPqIndex(half, path, dim = 64, m = 8, nCentroids = 16,
      nClusters = 8, buckets = 4)
    val health = Pq.appendToIvfPqIndex(rest, path)
    assert(health.nonEmpty)
    assert(health.get.rows === c.count())
    // an append writes a second file set into the lists buckets — the
    // compaction pacer must see the fragmentation
    assert(health.get.files > 4)
    val before = Pq.queryIvfPqIndex(q, path, k = 10, nprobe = 8)
      .orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    val dest = base + "/compact"
    Pq.compactIvfPqIndex(spark, path, dest)
    val after = Pq.queryIvfPqIndex(q, dest, k = 10, nprobe = 8)
      .orderBy("qid", "cid").collect().map(_.toSeq).toSeq
    assert(after === before)
    val compactHealth = graft.meta.PipelineMetrics.indexHealth(
      spark.read.parquet(s"$dest/lists"), col("cluster"), s"$dest/lists")
    assert(compactHealth.files <= 4)
    assert(compactHealth.rows === c.count())
  }

  test("training an empty corpus fails loudly, not downstream") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("cid", "cvec")
    val e = intercept[IllegalArgumentException](
      Pq.train(empty, col("cid"), col("cvec"), dim = 64, m = 8, k = 16))
    assert(e.getMessage.contains("non-empty corpus"))
  }

  test("training and encoding are deterministic") {
    val (_, c) = qc
    def run() = {
      val mdl = Pq.train(c, col("cid"), col("cvec"), dim = 64, m = 8, k = 16)
      c.select(col("cid"), Pq.encode(col("cvec"), mdl).as("codes"))
        .orderBy(col("cid")).collect().map(_.toSeq).toSeq
    }
    assert(run() === run())
  }

  test("kernel encode matches the expression form it replaced") {
    // r21 optimization guard: Pq.encode/adcScore moved from interpreted
    // higher-order-function trees to codegen kernels. This leg replays
    // the OLD construction (slice + element_at + array_min-over-structs
    // argmin, zip_with/aggregate ADC sum) column-for-column against the
    // kernels on the real corpus — argmin value, tie and null semantics
    // must be bit-identical.
    val (q, c) = qc
    val mdl = Pq.train(c, col("cid"), col("cvec"), dim = 64, m = 8, k = 16)
    val cents = typedlit(mdl.centroids)
    def sq(x: org.apache.spark.sql.Column) = x * x
    def l2dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => sq(x - y)), lit(0.0), _ + _)
    val v = Ann.normalize(Ann.asDouble(col("cvec")))
    val oldCodes = when(v.isNotNull,
      transform(sequence(lit(0), lit(mdl.m - 1)), i => {
        val sv = slice(v, i * mdl.subdim + 1, lit(mdl.subdim))
        val subCents = element_at(cents, i + 1)
        array_min(transform(sequence(lit(1), size(subCents)), j =>
          struct(l2dist2(sv, element_at(subCents, j)).as("d"),
            (j - 1).as("j"))))
          .getField("j")
      }))
    val both = c.select(col("cid"),
      Pq.encode(col("cvec"), mdl).as("newc"), oldCodes.as("oldc"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"codes diverge for cid=${r.get(0)}")
    }
    // ADC totals: old zip_with/aggregate vs kernel over the same codes
    // and query tables, all (query × corpus) pairs
    val coded = c.select(col("cid"), Pq.encode(col("cvec"), mdl).as("codes"))
    val qt = q.select(col("qid"),
      graft.similarity.Pq.queryTableForTest(col("qvec"), mdl).as("qtab"))
    val scored = coded.crossJoin(qt).select(
      graft.ops.TextExprs.pqAdcScore(col("codes"), col("qtab")).as("news"),
      aggregate(zip_with(col("codes"), col("qtab"),
        (code, tbl) => element_at(tbl, code + 1)), lit(0.0), _ + _).as("olds"))
      .collect()
    assert(scored.nonEmpty)
    scored.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
    }
  }
}
