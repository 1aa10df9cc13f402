package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-verified checks for the approximate aggregates (their values
  * are approximate by construction, so the driver only rows-checks them):
  * HLL distinct within its standard-error envelope, approximate median
  * within rank tolerance of the exact median. */
class AggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.01"

  test("approx_count_distinct within HLL error of exact") {
    val li = Tables(spark, dir, "lineitem")
    val rows = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx"),
        countDistinct(col("l_orderkey")).as("exact"))
      .collect()
    for (r <- rows) {
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e < 0.05, s"flag ${r.getString(0)}: $a vs $e")
    }
  }

  test("percentile_approx lands within rank tolerance of the exact median") {
    val li = Tables(spark, dir, "lineitem")
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((flag, m) <- approx) {
      val e = exact(flag)
      assert(math.abs(m - e) / e < 0.05, s"flag $flag: $m vs $e")
    }
  }

  test("vec_sum equals the posexplode reference plan") {
    import spark.implicits._
    import graft.ops.VecSumAggregate
    val e = Tables(spark, dir, "embeddings")
    val kernel = e.agg(VecSumAggregate.vecSum(col("embedding").cast("array<double>")))
      .head().getSeq[Double](0)
    val reference = e.select(posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("pos")).agg(sum(col("col")).as("s"))
      .orderBy(col("pos")).as[(Int, Double)].collect().map(_._2)
    assert(kernel.length === reference.length)
    kernel.zip(reference).foreach { case (k, r) =>
      assert(math.abs(k - r) < 1e-6, s"$k vs $r")
    }
    // null VECTORS are skipped, not poisoned
    val withNull = Seq(Some(Seq(1.0, 2.0)), None, Some(Seq(3.0, 4.0)))
      .toDF("v")
    val s = withNull.agg(VecSumAggregate.vecSum(col("v"))).head().getSeq[Double](0)
    assert(s === Seq(4.0, 6.0))
    // a null ELEMENT surfaces loudly: toDoubleArray would read the slot
    // as 0.0 and silently bend the corpus mean
    val withNullSlot = Seq(Seq(Some(1.0), None, Some(3.0)))
      .toDF("v")
    val e2 = intercept[Exception] {
      withNullSlot.agg(VecSumAggregate.vecSum(col("v"))).head()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        Option(x.getCause).toSeq.flatMap(messages))
    assert(messages(e2).exists(_.contains("null element")))
  }

  test("vec_sum_decimal: an overflowed slot stays null, like sum over the cast") {
    import spark.implicits._
    import graft.ops.VecSumAggregate
    // slot 0 overflows decimal(38,18) after the two big rows, and the
    // later 1.0 must not restart it; slot 1 never overflows. One
    // partition exercises update; two partitions (the overflow in one,
    // the 1.0 in the other) exercise serialize/deserialize and merge.
    val big = 6e19
    val rows = Seq(Seq(1.0, 3.0), Seq(big, 1.0), Seq(big, 2.0))
    def kernel(df: org.apache.spark.sql.DataFrame) =
      df.agg(VecSumAggregate.vecSumDecimal(col("v"))).head()
        .getSeq[java.math.BigDecimal](0).map(Option(_).map(_.doubleValue))
    val onePart = rows.reverse.toDF("v").coalesce(1)
    val twoParts = spark.createDataset(spark.sparkContext.parallelize(rows, 2))
      .toDF("v")
    assert(twoParts.rdd.getNumPartitions === 2)
    // the reference: Spark's own sum(cast(x AS decimal(38,18))), which
    // nulls an overflowed group sum (and keeps it null) with ANSI off
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val reference = try {
      onePart.select(posexplode(col("v")))
        .groupBy(col("pos"))
        .agg(sum(col("col").cast("decimal(38,18)")).as("s"))
        .orderBy(col("pos")).collect()
        .map(r => Option(r.getDecimal(1)).map(_.doubleValue)).toSeq
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert(reference === Seq(None, Some(6.0)))
    assert(kernel(onePart) === reference)
    assert(kernel(twoParts) === reference)
  }

  test("tokenChunks keeps trailing tokens in a final partial chunk") {
    import spark.implicits._
    import graft.text.TextOps
    def chunksOf(text: String, window: Int, stride: Int): Seq[Seq[String]] =
      Seq(text).toDF("text")
        .select(TextOps.tokenChunks(col("text"), window, stride).as("c"))
        .head().getSeq[scala.collection.Seq[String]](0).map(_.toSeq)
    // 10 tokens, window 4, stride 4 → chunks of 4,4,2 — nothing dropped
    val toksOf = chunksOf((1 to 10).map(i => s"t$i").mkString(" "), 4, 4)
    assert(toksOf.map(_.length) === Seq(4, 4, 2))
    assert(toksOf.flatten === (1 to 10).map(i => s"t$i"))
    // overlap: window 4, stride 2 over 7 tokens → starts 1,3,5 (slice caps)
    assert(chunksOf((1 to 7).map(i => s"t$i").mkString(" "), 4, 2)
      .map(_.length) === Seq(4, 4, 3))
    // doc shorter than the window → one partial chunk
    assert(chunksOf("a b", 4, 4) === Seq(Seq("a", "b")))
  }

  test("approx_metrics query is deterministic across runs") {
    val q = SparkEntry.queries("approx_metrics")
    val a = q(spark, dir).collect().map(_.toString)
    val b = q(spark, dir).collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
  }
}
