package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.{Ann, Pq}

/** The persistent bucketed-index lifecycle, one table-driven leg per
  * family (MinHash, IVF, IVF+PQ): build half the corpus, lose the
  * session catalog, append the other half as a new application, lose
  * the catalog again and query — the answer must equal one whole
  * build's. Compacting the grown index to a fresh path must give the
  * same answers with one file per bucket in every bucketed table. */
class IndexLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"
  private val buckets = 4

  /** One index family: its catalog prefix, bucketed table parts, the
    * corpus (first column = id) and its lifecycle calls. `answer` must
    * be exact whatever the trained state, so a grown index and a whole
    * build agree row for row. */
  private case class Family(name: String, prefix: String, parts: Seq[String],
      corpus: () => DataFrame, build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit, compact: (String, String) => Unit,
      answer: String => Seq[Seq[Any]])

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  private def docs = Tables(spark, dir, "documents")
    .select(col("doc_id"), col("text"))
  private def embeddings = Tables(spark, dir, "embeddings")
  private def vectors = embeddings
    .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
  private def queries = embeddings.where(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private val families = Seq(
    Family("MinHash", "graft_mhidx_", Seq("shingles", "bands"),
      () => docs.where(col("doc_id") % 5 =!= 0),
      (df, p) => Dedup.writeMinhashIndex(df, col("doc_id"), col("text"), p,
        buckets = buckets),
      (df, p) => { Dedup.appendToMinhashIndex(df, col("doc_id"), col("text"),
        p); () },
      (src, dst) => Dedup.compactMinhashIndex(spark, src, dst),
      p => rows(Dedup.queryMinhashIndex(docs.where(col("doc_id") % 5 === 0),
        col("doc_id"), col("text"), p, threshold = 0.8))),
    // probing every cluster is exact whatever the centroids
    Family("IVF", "graft_ivfidx_", Seq("lists"), () => vectors,
      (df, p) => Ann.writeIvfIndex(df, p, nClusters = 8, iters = 2,
        buckets = buckets),
      (df, p) => { Ann.appendToIvfIndex(df, p); () },
      (src, dst) => Ann.compactIvfIndex(spark, src, dst),
      p => rows(Ann.queryIvfIndex(queries, p, k = 10, nprobe = 8))),
    // full probe plus an overscan admitting the whole corpus makes the
    // exact re-rank total
    Family("IVF+PQ", "graft_ivfpq_", Seq("lists", "vecs"), () => vectors,
      (df, p) => Pq.writeIvfPqIndex(df, p, dim = 64, m = 8, nCentroids = 16,
        nClusters = 8, buckets = buckets),
      (df, p) => { Pq.appendToIvfPqIndex(df, p); () },
      (src, dst) => Pq.compactIvfPqIndex(spark, src, dst),
      p => rows(Pq.queryIvfPqIndex(queries, p, k = 10, nprobe = 8,
        overscan = vectors.count().toInt / 10 + 1))))

  /** A new application: the in-memory catalog registrations are gone,
    * the stored files are untouched. */
  private def loseCatalog(prefix: String): Unit =
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith(prefix))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))

  /** Bucket id of each parquet file under `part` (Spark's bucketed
    * writer encodes it in the file name). */
  private def bucketIds(part: String): Seq[Int] =
    Option(new java.io.File(part).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet"))
      .map(n => "_(\\d{5})\\.c\\d+".r.findFirstMatchIn(n).get.group(1).toInt)
      .toSeq

  for (f <- families)
    test(s"${f.name}: append after catalog loss and compaction answer " +
        "like one whole build") {
      val root = Files.createTempDirectory("graft_lifecycle").toString
      val (grown, whole, compacted) =
        (s"$root/grown", s"$root/whole", s"$root/compacted")
      val corpus = f.corpus()
      val id = col(corpus.columns.head)
      f.build(corpus.where(id % 2 === 0), grown)
      loseCatalog(f.prefix)
      f.append(corpus.where(id % 2 =!= 0), grown)
      loseCatalog(f.prefix)
      f.build(corpus, whole)
      val expected = f.answer(whole)
      assert(expected.nonEmpty)
      assert(f.answer(grown) === expected)

      f.compact(grown, compacted)
      assert(f.answer(compacted) === expected)
      for (part <- f.parts) {
        val ids = bucketIds(s"$compacted/$part")
        assert(ids.nonEmpty && ids.size <= buckets &&
          ids.distinct.size === ids.size,
          s"$part: one file per bucket, got buckets $ids")
        assert(bucketIds(s"$grown/$part").size > ids.size)
      }
    }
}
