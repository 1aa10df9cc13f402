package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.Ann

/** The size-aware restore-parallelism width (round 22): spreadScan /
  * pinJoinParallelism still widen a LARGE under-split input to the
  * session's full shuffle parallelism — the 100 TB behavior — while a
  * toy input is clamped by the bytes-per-partition floor instead of
  * fanning out into pure per-task scheduling overhead (the round-21
  * regression: 32 tasks × ~50 serial lifecycle stages over a 500 KB
  * frame). */
class SpreadWidthSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def parts: Int =
    spark.sessionState.conf.numShufflePartitions

  test("spreadScan widens a large under-split input to full parallelism") {
    // ~2 MB of Catalyst-estimated input in ONE partition (the
    // unsplittable-file shape) — far above parts × 64 KB floor
    val big = spark.range(100000)
      .select(col("id").as("doc_id"),
        concat(lit("token payload body "), col("id")).as("__t"))
      .coalesce(1)
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes.toLong >
      parts.toLong * 65536)
    val spread = Dedup.spreadScan(big, col("doc_id"))
    assert(spread.rdd.getNumPartitions === parts,
      "a large under-split input must still spread to the session's " +
        "full shuffle parallelism")
  }

  test("spreadScan clamps a toy input by the bytes floor") {
    val tiny = spark.range(10)
      .select(col("id").as("doc_id"), lit("t").as("__t"))
      .coalesce(1)
    val spread = Dedup.spreadScan(tiny, col("doc_id"))
    val n = spread.rdd.getNumPartitions
    assert(n >= 2 && n < parts,
      s"a toy input must at least double (got $n) but not fan out to " +
        s"full parallelism ($parts)")
  }

  test("spreadScan is a no-op on an already-wide input") {
    val wide = spark.range(1000).select(col("id").as("doc_id"))
      .repartition(parts, col("doc_id"))
    val spread = Dedup.spreadScan(wide, col("doc_id"))
    assert(spread.rdd.getNumPartitions === parts)
  }

  test("spreadScan skips (not crashes) a frame whose unprepared plan " +
    "cannot build an RDD") {
    import spark.implicits._
    // a bare broadcast-join plan has no exchange in the UNprepared
    // sparkPlan — the round-21 probe crashed at RDD construction on
    // shapes like this (ADVICE r21); it must now skip the spread
    val a = Seq((1L, "x")).toDF("doc_id", "__t")
    val b = Seq((1L, "y")).toDF("doc_id", "other")
    val joined = a.join(broadcast(b), Seq("doc_id"))
    val out = Dedup.spreadScan(joined, col("doc_id"))
    assert(out.count() === 1)
  }

  test("distributed quantile prefix-sum matches brute-force ranks on a " +
    "histogram large enough to leave the single-window path") {
    // ~300k distinct levels (the sf0.1 shape that serialized a 1.2 s
    // single-task window) — the cached histogram crosses the 4 MB/part
    // floor, so cumLevels takes the two-level prefix-sum branch
    val n = 300000
    val df = spark.range(n)
      .select(((col("id") * 2654435761L) % 97000).as("v"))
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = graft.meta.PipelineMetrics.exactQuantiles(df, col("v"), ps)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    val sorted = (0L until n).map(i => (i * 2654435761L) % 97000).sorted
    val expected = ps.map { p =>
      val r = math.min(math.max(math.ceil(p * n).toLong, 1L), n.toLong)
      (p, sorted((r - 1).toInt), n.toLong)
    }
    assert(got === expected)
  }

  test("vec class key: raw-bits kernel keeps the rendered-string key's " +
    "equivalence classes on hostile vectors") {
    import spark.implicits._
    val vectors: Seq[Seq[java.lang.Double]] = Seq(
      Seq(0.0), Seq(-0.0), Seq(Double.NaN), Seq(Double.NaN),
      Seq(Double.PositiveInfinity), Seq(Double.NegativeInfinity),
      Seq(java.lang.Double.MIN_VALUE), Seq(4.9e-324), // same subnormal
      Seq(1.0, 23.0), Seq(12.0, 3.0), // comma-boundary trap
      Seq[java.lang.Double](1.0, null, 2.0), Seq(1.0, 2.0), // null skip
      Seq.empty[java.lang.Double], Seq[java.lang.Double](null.asInstanceOf[java.lang.Double]),
      Seq(1.0E7), Seq(1.0E-7), Seq(0.1 + 0.2), Seq(0.3))
    val df = vectors.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(Option(_).map(_.doubleValue()))) }
      .toDF("i", "v")
      .select(col("i"), col("v").cast("array<double>").as("v"))
    // the round-21 key: md5 of the canonical decimal rendering
    val oldKey = md5(array_join(transform(col("v"), _.cast("string")), ","))
    val rows = df.select(col("i"), oldKey.as("o"), Ann.vecClassKey(col("v")).as("n"))
      .collect().sortBy(_.getLong(0))
    for (a <- rows; b <- rows) {
      assert((a.getString(1) == b.getString(1)) ===
        (a.getString(2) == b.getString(2)),
        s"vectors ${a.getLong(0)} and ${b.getLong(0)}: old-key equality " +
          "and raw-bits-key equality must agree")
    }
  }
}
