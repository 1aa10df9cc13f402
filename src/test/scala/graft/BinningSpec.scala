package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.Binning

/** Binning.quantileBins vs the semantics it promises: bin must equal
  * `1 + (row_number() over (order by score desc, id) - 1) * k / n`
  * (integer division) — across k values, tie pile-ups, boundary
  * placements (level edges AND interior), and with fanout/smallCap
  * shrunk so a 200-row corpus exercises multi-round within-level rank
  * refinement. The mainline is also oracled end-to-end by the
  * `curriculum_bins` DuckDB gate. */
class BinningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The spec's independent answer: the ranking-window form. */
  private def bruteBins(df: DataFrame, k: Int): Map[Long, Int] = {
    val live = df.where(col("id").isNotNull && col("q").isNotNull)
    val n = live.count()
    val w = Window.orderBy(col("q").desc, col("id"))
    live.withColumn("rn", row_number().over(w))
      .select(col("id"), (((col("rn") - 1) * k / n).cast("int") + 1).as("bin"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def gotBins(df: DataFrame, k: Int,
                      fanout: Int = 4096, smallCap: Int = 1 << 16): Map[Long, Int] = {
    val r = Binning.quantileBinsImpl(df, col("id"), col("q"), k,
      maxLevels = 1 << 20, fanout = fanout, smallCap = smallCap)
    val rows = r.select(col("id"), col("bin")).collect()
    assert(rows.length === rows.map(_.getLong(0)).distinct.length,
      "a row must appear exactly once")
    rows.map(x => x.getLong(0) -> x.getInt(1)).toMap
  }

  /** Heavy ties (6 levels over 200 rows) so boundaries land INSIDE
    * levels and multiple boundaries can share one level. */
  private def corpus(nRows: Int, nLevels: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until nRows).map { i =>
      (i.toLong * 13 % 1000, rng.nextInt(nLevels).toLong)
    }.toDF("id", "q")
  }

  test("matches the ranking window across k") {
    val df = corpus(200, nLevels = 6, seed = 1).cache()
    for (k <- Seq(1, 2, 3, 5, 7, 16, 64))
      assert(gotBins(df, k) === bruteBins(df, k), s"k=$k")
  }

  test("deep refinement (fanout 2, smallCap 1) is output-identical") {
    val df = corpus(200, nLevels = 3, seed = 2).cache()
    for (k <- Seq(2, 5, 9))
      assert(gotBins(df, k, fanout = 2, smallCap = 1) === bruteBins(df, k),
        s"k=$k")
  }

  test("one giant tie level spanning many bins") {
    // every boundary is interior to the single level — pure selection
    val df = (0 until 120).map(i => (i.toLong * 7 % 997, 5L)).toDF("id", "q")
    for (k <- Seq(4, 10))
      assert(gotBins(df, k, fanout = 4, smallCap = 2) === bruteBins(df, k),
        s"k=$k")
  }

  test("k greater than n spreads bins by the floor map") {
    val df = (0 until 3).map(i => (i.toLong, 1L)).toDF("id", "q")
    // n=3, k=5: ranks 0,1,2 -> 1 + 0*5/3, 1 + 1*5/3, 1 + 2*5/3 = 1, 2, 4
    assert(gotBins(df, 5) === Map(0L -> 1, 1L -> 2, 2L -> 4))
  }

  test("extreme Long ids and scores bin without overflow") {
    val df = Seq(
      (Long.MinValue, Long.MaxValue), (Long.MaxValue, Long.MaxValue),
      (-5L, 0L), (3L, 0L), (9L, Long.MinValue), (0L, 7L))
      .toDF("id", "q")
    for (k <- Seq(2, 3, 6))
      assert(gotBins(df, k, fanout = 2, smallCap = 1) === bruteBins(df, k),
        s"k=$k")
  }

  test("deep refinement inside a Long.MinValue id cluster (chunk-id = id edge)") {
    // when widths shrink to 1, floorDivChunk(id, 1) == id — chunk ids
    // then take ARBITRARY Long values including Long.MinValue, so any
    // in-band sentinel in the star-chunk protocol corrupts refinement
    // exactly here; the partition-out loop must stay exact
    val df = (0 until 20).map(i => (Long.MinValue + i, 5L)).toDF("id", "q")
    for (k <- Seq(3, 7))
      assert(gotBins(df, k, fanout = 2, smallCap = 1) === bruteBins(df, k),
        s"k=$k")
  }

  test("cast-null ids and scores are dropped, not ranked") {
    val df = Seq(("1", "9"), ("x", "5"), ("3", "junk"), ("4", "2"))
      .toDF("id", "q")
    val got = Binning.quantileBins(df, col("id"), col("q"), 2)
      .select(col("id")).collect().map(_.getString(0)).toSet
    assert(got === Set("1", "4"))
  }

  test("the output plan is map-only: no sort, no window, no shuffle") {
    val df = corpus(300, nLevels = 5, seed = 3)
    val r = Binning.quantileBins(df, col("id"), col("q"), 7)
    val p = r.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("Exchange"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("Sort"), p.linesIterator.take(30).mkString("\n"))
  }

  test("k above the fold cap routes through the boundary-array path, " +
      "output-identical and still windowless") {
    // k = 100 > foldedBoundaryCap (64): the single-group assignment must
    // switch from the depth-k nested-when fold (codegen/stack hazard at
    // large k) to the flat broadcast boundary-array aggregate
    val df = corpus(400, nLevels = 50, seed = 11).cache()
    val k = 100
    assert(gotBins(df, k) === bruteBins(df, k))
    val p = Binning.quantileBins(df, col("id"), col("q"), k)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.linesIterator.take(30).mkString("\n"))
    // with a CONSTANT group key Catalyst folds the broadcast join to a
    // single-build-row nested loop — either broadcast form is the flat
    // boundary-array plan; what matters is no window and no sort
    assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("Sort"), p.linesIterator.take(30).mkString("\n"))
  }

  test("oversized level histograms fail loudly, not OOM the driver") {
    val df = (0 until 40).map(i => (i.toLong, i.toLong)).toDF("id", "q")
    val e = intercept[IllegalArgumentException] {
      Binning.quantileBinsImpl(df, col("id"), col("q"), 4, maxLevels = 10,
        fanout = 4096, smallCap = 1 << 16)
    }
    assert(e.getMessage.contains("score-level"))
  }

  test("boundaries on a level's first row resolve exactly") {
    // n = 12, k = 3, levels of 3/4/5 rows: bins 1 and 2 end at 0-based
    // ranks 3 and 7, the first rows of the second and third levels
    val df = ((0 until 3).map(i => (100L + i, 9L)) ++
      (0 until 4).map(i => (200L + i, 5L)) ++
      (0 until 5).map(i => (300L + i, 1L))).toDF("id", "q").cache()
    val want = bruteBins(df, 3)
    assert(want.values.toSeq.sorted === Seq(1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3))
    assert(gotBins(df, 3) === want)
    assert(gotBins(df, 3, fanout = 2, smallCap = 1) === want)
  }

  // ── cost-weighted bins ─────────────────────────────────────────────

  /** Independent answer: the running-cost window formula. */
  private def bruteCostBins(df: DataFrame, k: Int): Map[Long, Int] = {
    val rows = df.select(col("id"), col("q"), col("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (id, q, _) => (-q, id) }
    val w = rows.map(_._3).sum
    if (w == 0L) rows.map(_._1 -> 1).toMap
    else {
      var cum = 0L
      rows.map { case (id, _, c) =>
        cum += c
        id -> (1L + (math.max(cum, 1L) - 1L) * k / w).toInt
      }.toMap
    }
  }

  private def costCorpus(nRows: Int, nLevels: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until nRows).map { i =>
      (i.toLong * 13 % 2003, rng.nextInt(nLevels).toLong,
        rng.nextInt(6).toLong) // costs 0..5 including zero-cost rows
    }.toDF("id", "q", "c")
  }

  private def gotCostBins(df: DataFrame, k: Int,
                          fanout: Int = 4096,
                          smallCap: Int = 1 << 16): Map[Long, Int] = {
    val r = Binning.quantileBinsByCostImpl(df, lit("__all"), col("id"),
      col("q"), col("c"), k, 1 << 20, fanout, smallCap)
    r.select(col("id"), col("bin")).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
  }

  test("cost bins match the running-cost window formula across k") {
    val df = costCorpus(400, nLevels = 6, seed = 21).cache()
    for (k <- Seq(2, 3, 7, 10))
      assert(gotCostBins(df, k) === bruteCostBins(df, k), s"k=$k")
  }

  test("cost bins with unit cost equal the unweighted bins") {
    val df = corpus(300, nLevels = 5, seed = 22).cache()
    val unit = df.withColumn("c", lit(1L))
    for (k <- Seq(3, 7))
      assert(gotCostBins(unit, k) === bruteBins(df, k), s"k=$k")
  }

  test("cost bins survive deep refinement (fanout 2, smallCap 1)") {
    val df = costCorpus(240, nLevels = 3, seed = 23).cache()
    for (k <- Seq(3, 6))
      assert(gotCostBins(df, k, fanout = 2, smallCap = 1) ===
        bruteCostBins(df, k), s"k=$k")
  }

  test("deep refinement edge cases (fanout 2, smallCap 1): a cut on a " +
      "chunk edge, zero-cost rows after the cut, a zero remainder") {
    // total cost 21 and k = 21 put a cut after EVERY unit of mass, so
    // the cuts include q=5's chunk edge before a heavier row, q=3's edge
    // before two zero-cost rows, and remainders that reach 0 mid-loop
    val df = BudgetSelectSpec.refineEdges(spark)
    for (k <- Seq(2, 3, 21))
      assert(gotCostBins(df, k, fanout = 2, smallCap = 1) ===
        bruteCostBins(df, k), s"k=$k")
  }

  test("a first row heavier than the cut: the open boundary excludes " +
      "the whole level") {
    // level 2 = one row of cost 100; level 1 = one row of cost 10.
    // k=2 puts the cut at mass 55 < 100, BEFORE the only row of level
    // 2 — both rows land in bin 2, none in bin 1 (the formula's answer)
    val df = Seq((1L, 2L, 100L), (2L, 1L, 10L)).toDF("id", "q", "c")
    val got = gotCostBins(df, 2)
    assert(got === Map(1L -> 2, 2L -> 2))
    assert(got === bruteCostBins(df, 2))
  }

  test("zero-total-cost corpus puts every row in bin 1") {
    val df = Seq((1L, 5L, 0L), (2L, 3L, 0L)).toDF("id", "q", "c")
    assert(gotCostBins(df, 4) === Map(1L -> 1, 2L -> 1))
  }

  test("per-group cost bins match the partitioned window formula") {
    val rng = new scala.util.Random(24)
    val df = (0 until 300).map { i =>
      (s"g${rng.nextInt(3)}", i.toLong * 11 % 1009, rng.nextInt(4).toLong,
        rng.nextInt(6).toLong)
    }.toDF("g", "id", "q", "c").cache()
    for (k <- Seq(2, 5)) {
      val got = Binning.quantileBinsByCostPerGroup(df, col("g"), col("id"),
          col("q"), col("c"), k)
        .select(col("id"), col("bin")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = df.select(col("g")).distinct().collect().map(_.getString(0))
        .flatMap { g =>
          bruteCostBins(df.where(col("g") === g), k)
        }.toMap
      assert(got === want, s"k=$k")
    }
  }

  test("cost-bin output plan is windowless for the corpus branch") {
    val df = costCorpus(300, nLevels = 5, seed = 25)
    val p = Binning.quantileBinsByCost(df, col("id"), col("q"), col("c"), 7)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("Exchange"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("Sort"), p.linesIterator.take(30).mkString("\n"))
  }

  // ── per-group bins ─────────────────────────────────────────────────

  private def bruteBinsPerGroup(df: DataFrame, k: Int): Map[Long, Int] = {
    val live = df.where(col("g").isNotNull && col("id").isNotNull &&
      col("q").isNotNull)
    val counts = live.groupBy(col("g")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("q").desc, col("id"))
    live.withColumn("rn", row_number().over(w))
      .collect().map { r =>
      val n = counts(r.getAs[String]("g"))
      r.getAs[Long]("id") -> (((r.getAs[Int]("rn") - 1) * k / n).toInt + 1)
    }.toMap
  }

  private def groupedCorpus(nRows: Int, nGroups: Int, nLevels: Int,
                            seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until nRows).map { i =>
      (s"g${rng.nextInt(nGroups)}", i.toLong * 11 % 1009,
        rng.nextInt(nLevels).toLong)
    }.toDF("g", "id", "q")
  }

  test("per-group bins match the partitioned ranking window") {
    val df = groupedCorpus(300, nGroups = 4, nLevels = 5, seed = 7).cache()
    for (k <- Seq(2, 3, 7)) {
      val got = Binning.quantileBinsPerGroup(df, col("g"), col("id"),
        col("q"), k).select(col("id"), col("bin")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === bruteBinsPerGroup(df, k), s"k=$k")
    }
  }

  test("per-group deep refinement (fanout 2, smallCap 1) is output-identical") {
    val df = groupedCorpus(240, nGroups = 3, nLevels = 2, seed = 8).cache()
    for (k <- Seq(3, 6)) {
      val got = Binning.quantileBinsPerGroupImpl(df, col("g"), col("id"),
          col("q"), k, maxHistRows = 1 << 20, fanout = 2, smallCap = 1)
        .select(col("id"), col("bin")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === bruteBinsPerGroup(df, k), s"k=$k")
    }
  }

  test("per-group plan: broadcast boundary join, never a ranking window") {
    val df = groupedCorpus(300, nGroups = 4, nLevels = 3, seed = 9)
    val r = Binning.quantileBinsPerGroup(df, col("g"), col("id"), col("q"), 5)
    val p = r.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "per-group bins must not rank through a window:\n" +
        p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
  }
}
