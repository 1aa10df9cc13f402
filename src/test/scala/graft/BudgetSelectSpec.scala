package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.BudgetSelect

/** BudgetSelect vs the semantics it promises: the kept set must equal
  * the naive global running-sum window's prefix (quality DESC, id ASC,
  * inclusive cum ≤ budget) — across budgets, tie pile-ups, zero costs,
  * and with fanout/smallCap shrunk so a 200-row corpus exercises
  * multi-round boundary refinement (the production path a 100 TB
  * boundary level would take). The mainline is also oracled end-to-end
  * by the `corpus_budget_select` DuckDB gate. */
class BudgetSelectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The spec's independent answer: the single-window form. */
  private def bruteKept(df: DataFrame, budget: Long): Set[Long] = {
    val w = Window.orderBy(col("q").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.where(col("id").isNotNull && col("q").isNotNull && col("c").isNotNull)
      .withColumn("__cum", sum(col("c")).over(w))
      .where(col("__cum") <= budget)
      .select(col("id")).collect().map(_.getLong(0)).toSet
  }

  private def gotKept(df: DataFrame, budget: Long,
                      fanout: Int = 4096, smallCap: Int = 1 << 16): Set[Long] = {
    val r = BudgetSelect.budgetSelectImpl(df, col("id"), col("q"), col("c"),
      budget, maxQualityLevels = 1 << 20, fanout = fanout, smallCap = smallCap)
    val ids = r.select(col("id")).collect().map(_.getLong(0))
    assert(ids.length === ids.toSet.size, "a kept row must appear exactly once")
    ids.toSet
  }

  /** Deterministic pseudo-random corpus: heavy quality ties (11 levels
    * over 200 rows) and small costs so budgets cut mid-level. */
  private def corpus(n: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong * 7 % 1000, rng.nextInt(11).toLong, rng.nextInt(5).toLong)
    }.toDF("id", "q", "c")
  }

  test("matches the running-sum window across the budget spectrum") {
    val df = corpus(200, seed = 1).cache()
    val total = df.agg(sum(col("c"))).head().getLong(0)
    for (budget <- Seq(0L, 1L, 7L, total / 4, total / 2, total - 1, total,
        total + 100)) {
      assert(gotKept(df, budget) === bruteKept(df, budget),
        s"budget=$budget")
    }
  }

  test("deep refinement (fanout 4, smallCap 2) is output-identical") {
    // smallCap 2 forces the id-chunk loop to recurse until two rows
    // remain — every boundary level resolves through multiple rounds
    val df = corpus(200, seed = 2).cache()
    val total = df.agg(sum(col("c"))).head().getLong(0)
    for (budget <- Seq(3L, total / 5, total / 3, total / 2))
      assert(gotKept(df, budget, fanout = 4, smallCap = 2) ===
        bruteKept(df, budget), s"budget=$budget")
  }

  test("all-one-quality corpus: the cut is purely the id prefix") {
    val df = (0 until 50).map(i => (i.toLong, 5L, 10L)).toDF("id", "q", "c")
    assert(gotKept(df, 95L, fanout = 4, smallCap = 2) ===
      (0L until 9L).toSet) // 9 rows * 10 = 90 <= 95 < 100
  }

  test("zero-cost rows ride any budget, including zero") {
    val df = Seq((1L, 9L, 0L), (2L, 9L, 5L), (3L, 1L, 0L), (4L, 1L, 3L))
      .toDF("id", "q", "c")
    // budget 0: the greedy order is (9,id1)(9,id2)(1,id3)(1,id4); id1
    // fits at cum 0, id2 overflows, and the PREFIX semantics mean
    // everything after the overflow is out — id3's zero cost does not
    // resurrect it (cum stays 5)
    assert(gotKept(df, 0L) === Set(1L))
    assert(bruteKept(df, 0L) === Set(1L))
  }

  test("null id/quality/cost rows are dropped, not ordered") {
    val df = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(5L), java.lang.Long.valueOf(2L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(9L), java.lang.Long.valueOf(1L)),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L)),
      (java.lang.Long.valueOf(4L), java.lang.Long.valueOf(4L), null.asInstanceOf[java.lang.Long]))
      .toDF("id", "q", "c")
    assert(gotKept(df, 100L) === Set(1L))
  }

  test("negative costs fail loudly") {
    val df = Seq((1L, 5L, 2L), (2L, 4L, -1L)).toDF("id", "q", "c")
    val e = intercept[IllegalArgumentException](gotKept(df, 10L))
    assert(e.getMessage.contains("negative cost"))
  }

  test("too many quality levels fail loudly, not OOM the driver") {
    val df = (0 until 40).map(i => (i.toLong, i.toLong, 1L)).toDF("id", "q", "c")
    val e = intercept[IllegalArgumentException] {
      BudgetSelect.budgetSelectImpl(df, col("id"), col("q"), col("c"),
        budget = 10L, maxQualityLevels = 10, fanout = 4096, smallCap = 1 << 16)
    }
    assert(e.getMessage.contains("quality-level"))
  }

  test("fraction form: floor(fraction * total) and the zero/one poles") {
    val df = (0 until 20).map(i => (i.toLong, (i % 3).toLong, 4L)).toDF("id", "q", "c")
    // total 80; fraction .25 -> budget 20 -> 5 rows of the best levels
    val kept = BudgetSelect.budgetSelectFraction(df, col("id"), col("q"),
      col("c"), 0.25).select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept === bruteKept(df, 20L))
    assert(BudgetSelect.budgetSelectFraction(df, col("id"), col("q"),
      col("c"), 0.0).count() === 0L)
    assert(BudgetSelect.budgetSelectFraction(df, col("id"), col("q"),
      col("c"), 1.0).count() === 20L)
  }

  test("extreme Long ids refine without overflow") {
    // ids at both Long extremes force the BigInt span path and negative
    // floor-division chunks; quality ties put them all in one boundary
    val df = Seq(
      (Long.MinValue, 5L, 10L), (Long.MinValue + 3, 5L, 10L),
      (-7L, 5L, 10L), (0L, 5L, 10L), (13L, 5L, 10L),
      (Long.MaxValue - 2, 5L, 10L), (Long.MaxValue, 5L, 10L))
      .toDF("id", "q", "c")
    for (budget <- Seq(0L, 25L, 45L, 200L))
      assert(gotKept(df, budget, fanout = 2, smallCap = 1) ===
        bruteKept(df, budget), s"budget=$budget")
  }

  test("extreme Long quality levels sort best-first (MinValue negation trap)") {
    // sortBy(-q) would leave Long.MinValue at the TOP of the order
    // (its negation is itself) — the reverse-Ordering sort must put it
    // last, and MaxValue first, in both the ungrouped and the per-group
    // cutoff
    val df = Seq(
      (1L, Long.MaxValue, 4L), (2L, 10L, 4L), (3L, 0L, 4L),
      (4L, -10L, 4L), (5L, Long.MinValue, 4L))
      .toDF("id", "q", "c")
    for (budget <- Seq(0L, 4L, 9L, 14L, 100L))
      assert(gotKept(df, budget) === bruteKept(df, budget), s"budget=$budget")
    val grouped = df.withColumn("g", lit("g0"))
    val pg = BudgetSelect.budgetSelectPerGroup(grouped, col("g"), col("id"),
        col("q"), col("c"), Map("g0" -> 9L))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(pg === Set(1L, 2L), "per-group cutoff must also order MaxValue first")
  }

  test("kept sets nest as the budget grows (prefix monotonicity)") {
    // a cutoff-arithmetic bug (off-by-one level, misapplied remainder)
    // shows up as a row kept at a SMALLER budget but lost at a larger
    // one — impossible for a true greedy prefix
    val df = corpus(150, seed = 11).cache()
    val total = df.agg(sum(col("c"))).head().getLong(0)
    val keptAt = Seq(0L, 3L, 11L, total / 6, total / 3, total / 2, total)
      .map(b => gotKept(df, b, fanout = 4, smallCap = 2))
    keptAt.sliding(2).foreach { case Seq(sm, lg) =>
      assert(sm.subsetOf(lg), "a larger budget must keep a superset")
    }
  }

  test("deep refinement edge cases: a cut on a chunk edge, zero-cost " +
      "rows after the cut, budget 0") {
    // fanout 2 + smallCap 1 (width-4 chunks on each aligned 8-id level):
    // budget 0 keeps q=9's zero-cost prefix; budget 9 cuts q=5 exactly
    // after its first chunk, with the next row (cost 2) heavier than
    // the 0 left; budget 17 cuts q=3 on a chunk edge followed by two
    // zero-cost rows that still fit
    val df = BudgetSelectSpec.refineEdges(spark)
    for ((budget, want) <- Seq(0L -> (100L to 102L),
        9L -> ((100L to 107L) ++ (0L to 3L)),
        17L -> ((100L to 107L) ++ (0L to 13L)))) {
      val got = gotKept(df, budget, fanout = 2, smallCap = 1)
      assert(got === want.toSet, s"budget=$budget")
      assert(got === bruteKept(df, budget), s"budget=$budget")
    }
  }

  // ── per-group budgets ──────────────────────────────────────────────

  /** Per-group brute force: the partitioned window form. */
  private def bruteKeptPerGroup(df: DataFrame,
                                budgets: Map[String, Long]): Set[Long] = {
    val w = Window.partitionBy(col("g")).orderBy(col("q").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = budgets.toSeq.toDF("g", "budget")
    df.where(col("id").isNotNull && col("q").isNotNull && col("c").isNotNull)
      .join(b, Seq("g"))
      .withColumn("__cum", sum(col("c")).over(w))
      .where(col("__cum") <= col("budget"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
  }

  private def groupedCorpus(n: Int, nGroups: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      (s"g${rng.nextInt(nGroups)}", i.toLong * 3 % 1000,
        rng.nextInt(7).toLong, rng.nextInt(5).toLong)
    }.toDF("g", "id", "q", "c")
  }

  test("per-group budgets match the partitioned window, incl. dropped groups") {
    val df = groupedCorpus(300, nGroups = 5, seed = 7).cache()
    // g0 deep cutoff, g1 zero, g2 keep-all, g3 mid; g4 omitted → dropped
    val budgets = Map("g0" -> 9L, "g1" -> 0L, "g2" -> 100000L, "g3" -> 40L)
    val got = BudgetSelect.budgetSelectPerGroup(df, col("g"), col("id"),
      col("q"), col("c"), budgets)
    val ids = got.select(col("id")).collect().map(_.getLong(0))
    assert(ids.length === ids.toSet.size, "a kept row must appear exactly once")
    assert(ids.toSet === bruteKeptPerGroup(df, budgets))
    // dropped group really is dropped, and output columns are unchanged
    assert(got.where(col("g") === "g4").count() === 0L)
    assert(got.columns.toSeq === df.columns.toSeq)
  }

  test("per-group deep refinement (fanout 2, smallCap 1) is output-identical") {
    val df = groupedCorpus(240, nGroups = 3, seed = 8).cache()
    val budgets = Map("g0" -> 15L, "g1" -> 60L, "g2" -> 7L)
    val got = BudgetSelect.budgetSelectPerGroupImpl(df, col("g"), col("id"),
        col("q"), col("c"), budgets, maxHistRows = 1 << 20,
        fanout = 2, smallCap = 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got === bruteKeptPerGroup(df, budgets))
  }

  test("per-group fraction form: floor(fraction_g * group's own total)") {
    val df = groupedCorpus(300, nGroups = 4, seed = 12).cache()
    val fractions = Map("g0" -> 0.25, "g1" -> 0.0, "g2" -> 1.0, "g3" -> 0.5)
    val totals = df.groupBy(col("g")).agg(sum(col("c")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budgets = fractions.map { case (g, f) =>
      g -> math.floor(f * totals(g).toDouble).toLong
    }
    val got = BudgetSelect.budgetSelectPerGroupFraction(df, col("g"),
        col("id"), col("q"), col("c"), fractions)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got === bruteKeptPerGroup(df, budgets))
    // fraction 1.0 keeps the whole group, 0.0 keeps only zero-cost rows
    assert(got.intersect(idsOf(df, "g2")) === idsOf(df, "g2"))
  }

  private def idsOf(df: DataFrame, g: String): Set[Long] =
    df.where(col("g") === g).select(col("id"))
      .collect().map(_.getLong(0)).toSet

  test("per-group: every group keep-all skips the refinement machinery") {
    val df = groupedCorpus(60, nGroups = 2, seed = 9)
    val budgets = Map("g0" -> 100000L, "g1" -> 100000L)
    assert(BudgetSelect.budgetSelectPerGroup(df, col("g"), col("id"),
      col("q"), col("c"), budgets).count() === df.count())
  }

  test("per-group: negative cost and oversized histograms fail loudly") {
    val neg = Seq(("g0", 1L, 5L, -1L)).toDF("g", "id", "q", "c")
    val e1 = intercept[IllegalArgumentException] {
      BudgetSelect.budgetSelectPerGroup(neg, col("g"), col("id"), col("q"),
        col("c"), Map("g0" -> 10L))
    }
    assert(e1.getMessage.contains("negative cost"))
    val wide = (0 until 40).map(i => ("g0", i.toLong, i.toLong, 1L))
      .toDF("g", "id", "q", "c")
    val e2 = intercept[IllegalArgumentException] {
      BudgetSelect.budgetSelectPerGroupImpl(wide, col("g"), col("id"),
        col("q"), col("c"), Map("g0" -> 10L), maxHistRows = 10,
        fanout = 4096, smallCap = 1 << 16)
    }
    assert(e2.getMessage.contains("quality-level"))
  }

  test("per-group plan: no corpus sort, every window partitioned by group") {
    val df = groupedCorpus(300, nGroups = 4, seed = 13)
    val r = BudgetSelect.budgetSelectPerGroup(df, col("g"), col("id"),
      col("q"), col("c"), Map("g0" -> 20L, "g1" -> 999999L, "g2" -> 0L))
    val p = r.queryExecution.executedPlan.toString
    assert(!p.contains("rangepartitioning"),
      "quality order must come from the driver histogram, not a sort\n" +
        p.linesIterator.take(40).mkString("\n"))
    // the only windows are the bounded per-group final resolutions —
    // an unpartitioned (global) window would be the single-task plan
    // this operator exists to avoid
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.forall(_.contains("__bsg")),
      "found a window not partitioned by the group key:\n" + specs.mkString("\n"))
  }

  test("refinement rounds scan the checkpointed boundary frame, not the corpus") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // count every corpus-row READ across the whole operator call with an
    // accumulator riding the source RDD: each scan of the corpus plan
    // re-runs the map, so acc.value / n is the exact corpus-scan count.
    val sc = spark.sparkContext
    val acc = sc.longAccumulator("corpusRowReads")
    val n = 200
    // id = 7i mod 1000 (unique, span ~993), q = i%11, c = i%5 (total 400)
    val rows = (0 until n).map(i =>
      Row(i.toLong * 7 % 1000, (i % 11).toLong, (i % 5).toLong))
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("q", LongType, false), StructField("c", LongType, false)))
    val rdd = sc.parallelize(rows, 4).map { r => acc.add(1); r }
    val df = spark.createDataFrame(rdd, schema)
    // fanout 2 + smallCap 1 force ~log2(993) ≈ 10 refinement rounds; a
    // per-round corpus rescan (the pre-r11 ungrouped shape) reads the
    // corpus 12+ times — the checkpointed boundary frame reads it ≤ 4
    val r = BudgetSelect.budgetSelectImpl(df, col("id"), col("q"), col("c"),
      budget = 190L, maxQualityLevels = 1 << 20, fanout = 2, smallCap = 1)
    val ids = r.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids === bruteKept(df.toDF("id", "q", "c"), 190L))
    assert(acc.value <= 6L * n,
      s"corpus scanned ${acc.value.toDouble / n}x — refinement rounds " +
        "must run against the checkpointed slim frame, not the corpus plan")
  }

  test("reserved __bs column prefix fails loudly") {
    val df = Seq((1L, 5L, 2L, "x")).toDF("id", "q", "c", "__bsg")
    val e = intercept[IllegalArgumentException](
      BudgetSelect.budgetSelect(df, col("id"), col("q"), col("c"), 10L))
    assert(e.getMessage.contains("__bs"))
  }

  test("a string quality that casts to null is dropped, not an NPE") {
    val df = Seq((1L, "7", 2L), (2L, "not-a-number", 3L), (3L, "5", 1L))
      .toDF("id", "q", "c")
    val kept = BudgetSelect.budgetSelect(df, col("id"), col("q"), col("c"), 2L)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // cast-null row 2 is dropped; greedy order (7,id1)(5,id3): id1 fits
    assert(kept === Set(1L))
  }

  test("persisted budget state: write + append ≡ from-scratch selection") {
    val df = corpus(240, seed = 21).cache()
    val total = df.agg(sum(col("c"))).head().getLong(0)
    val path = java.nio.file.Files.createTempDirectory("graft_bs")
      .resolve("state").toString
    // rolling split: "existing" store state, then a batch fold
    BudgetSelect.writeBudgetState(df.where(col("id") % 3 =!= 0),
      col("id"), col("q"), col("c"), path)
    BudgetSelect.appendBudgetState(df.where(col("id") % 3 === 0),
      col("id"), col("q"), col("c"), path)
    // folded state totals must equal the corpus's own
    assert(BudgetSelect.readBudgetState(spark, path).agg(sum(col("total_cost")))
      .head().getLong(0) === total)
    for (budget <- Seq(0L, 7L, total / 3, total / 2, total)) {
      val got = BudgetSelect.budgetSelectFromState(df, col("id"), col("q"),
        col("c"), budget, path).select(col("id")).collect()
        .map(_.getLong(0)).toSet
      assert(got === bruteKept(df, budget), s"budget=$budget")
    }
    // a second append folds on top of the merged state, not beside it
    BudgetSelect.appendBudgetState(df.limit(0), col("id"), col("q"), col("c"), path)
    val levels = BudgetSelect.readBudgetState(spark, path).count()
    assert(levels === df.select(col("q")).distinct().count(),
      "append must merge levels, not duplicate them")
  }

  test("per-group persisted state: write + append ≡ from-scratch selection") {
    val df = groupedCorpus(300, nGroups = 4, seed = 31).cache()
    val budgets = Map("g0" -> 12L, "g1" -> 0L, "g2" -> 100000L, "g3" -> 33L)
    val path = java.nio.file.Files.createTempDirectory("graft_bsg")
      .resolve("state").toString
    BudgetSelect.writeBudgetStatePerGroup(df.where(col("id") % 3 =!= 0),
      col("g"), col("id"), col("q"), col("c"), path)
    BudgetSelect.appendBudgetStatePerGroup(df.where(col("id") % 3 === 0),
      col("g"), col("id"), col("q"), col("c"), path)
    val got = BudgetSelect.budgetSelectPerGroupFromState(df, col("g"),
        col("id"), col("q"), col("c"), budgets, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got === bruteKeptPerGroup(df, budgets))
    // folded per-group totals equal the corpus's own
    val stateTotals = BudgetSelect.readBudgetState(spark, path).groupBy(col("group"))
      .agg(sum(col("total_cost")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpusTotals = df.groupBy(col("g")).agg(sum(col("c")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stateTotals === corpusTotals)
  }

  test("the plan is cutoff filters, not a corpus-wide sort") {
    val df = corpus(200, seed = 3)
    val total = df.agg(sum(col("c"))).head().getLong(0)
    val r = BudgetSelect.budgetSelect(df, col("id"), col("q"), col("c"),
      total / 2)
    val p = r.queryExecution.executedPlan.toString
    // no range exchange anywhere: the quality order is resolved by the
    // driver histogram, never by sorting the corpus
    assert(!p.contains("rangepartitioning"), p.linesIterator.take(40).mkString("\n"))
    // the only Window runs over the bounded boundary remainder and
    // feeds the broadcast semi-join, not the corpus branch
    assert("Window".r.findAllIn(p).size <= 1, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "boundary ids must come back as a broadcast-class semi-join side\n" + p)
  }

  test("corrupt budget state fails loudly, never silently mis-cuts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badstate")
    val bad = dir.resolve("state").toString
    // a parquet file with the WRONG schema at the state path
    Seq((1L, "x")).toDF("foo", "bar").write.parquet(bad)
    val df = corpus(50, seed = 41)
    intercept[org.apache.spark.sql.AnalysisException] {
      BudgetSelect.budgetSelectFromState(df, col("id"), col("q"), col("c"),
        10L, bad)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      BudgetSelect.appendBudgetState(df, col("id"), col("q"), col("c"), bad)
    }
    // a missing path is equally loud
    intercept[Exception] {
      BudgetSelect.budgetSelectFromState(df, col("id"), col("q"), col("c"),
        10L, dir.resolve("nope").toString)
    }
  }

  test("a crashed state write leaves the previous generation current") {
    val df = corpus(120, seed = 61).cache()
    val total = df.agg(sum(col("c"))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_bscrash")
    val path = dir.resolve("state").toString
    BudgetSelect.writeBudgetState(df, col("id"), col("q"), col("c"), path)
    // simulate a crash mid-write of the NEXT generation: a gen dir with
    // data files but no _SUCCESS marker must be invisible to readers
    // and must not block subsequent appends
    val orphan = new java.io.File(path, f"gen-${9999L}%016d")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(BudgetSelect.readBudgetState(spark, path)
      .agg(sum(col("total_cost"))).head().getLong(0) === total,
      "an unmarked orphan generation must not become the current state")
    val got = BudgetSelect.budgetSelectFromState(df, col("id"), col("q"),
      col("c"), total / 2, path).select(col("id")).collect()
      .map(_.getLong(0)).toSet
    assert(got === bruteKept(df, total / 2))
    // the next append commits past the orphan and prunes it
    BudgetSelect.appendBudgetState(df.limit(0), col("id"), col("q"),
      col("c"), path)
    assert(!orphan.exists(), "a committed write must prune orphans")
    assert(BudgetSelect.readBudgetState(spark, path)
      .agg(sum(col("total_cost"))).head().getLong(0) === total)
  }

  test("state generations are pruned to the last two valid snapshots") {
    val df = corpus(90, seed = 62).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_bsprune")
    val path = dir.resolve("state").toString
    BudgetSelect.writeBudgetState(df.where(col("id") % 4 === 0),
      col("id"), col("q"), col("c"), path)
    for (r <- 1 to 3)
      BudgetSelect.appendBudgetState(df.where(col("id") % 4 === r),
        col("id"), col("q"), col("c"), path)
    val gens = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.length <= 2,
      s"4 writes must leave <= 2 generations, found ${gens.map(_.getName).toSeq}")
    // and the surviving current state is the full fold
    assert(BudgetSelect.readBudgetState(spark, path)
      .agg(sum(col("total_cost"))).head().getLong(0) ===
      df.agg(sum(col("c"))).head().getLong(0))
  }

  test("stale per-group state fails loudly when a budgeted group has " +
      "live input rows but no histogram") {
    val df = groupedCorpus(200, nGroups = 3, seed = 63).cache()
    val path = java.nio.file.Files.createTempDirectory("graft_bsstale")
      .resolve("state").toString
    // state covers only g0/g1 — g2's batches were never appended
    BudgetSelect.writeBudgetStatePerGroup(df.where(col("g") =!= "g2"),
      col("g"), col("id"), col("q"), col("c"), path)
    val e = intercept[IllegalArgumentException] {
      BudgetSelect.budgetSelectPerGroupFromState(df, col("g"), col("id"),
        col("q"), col("c"),
        Map("g0" -> 10L, "g2" -> 10L), path)
    }
    assert(e.getMessage.contains("stale or partial state") &&
      e.getMessage.contains("g2"))
    // but a budgeted group with NO live input rows is fine (selects
    // nothing — exactly the from-scratch behavior), not a false alarm
    val got = BudgetSelect.budgetSelectPerGroupFromState(
        df.where(col("g") =!= "g2"), col("g"), col("id"), col("q"), col("c"),
        Map("g0" -> 10L, "g2" -> 10L), path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got === bruteKeptPerGroup(df.where(col("g") =!= "g2"),
      Map("g0" -> 10L, "g2" -> 10L)))
  }

  test("GenState.health reports generations, orphans, and watermark") {
    import graft.core.GenState
    val df = corpus(60, seed = 91).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_bshealth")
    val path = dir.resolve("state").toString
    BudgetSelect.writeBudgetState(df, col("id"), col("q"), col("c"), path)
    val h1 = GenState.health(spark, path)
    assert(h1.currentGen === Some(1L) && h1.validGens === 1 &&
      h1.orphans === 0 && h1.batchWatermark === None && h1.rows > 0)
    // a batch fold stamps the watermark and retains the previous gen
    BudgetSelect.appendBudgetStateBatch(df.limit(0), col("id"), col("q"),
      col("c"), path, batchId = 5L)
    val h2 = GenState.health(spark, path)
    assert(h2.currentGen === Some(2L) && h2.validGens === 2 &&
      h2.batchWatermark === Some(5L) && h2.rows === h1.rows)
    // an unmarked orphan (crashed write) is visible until the next commit
    val orphan = new java.io.File(path, f"gen-${77L}%016d")
    assert(orphan.mkdirs())
    assert(GenState.health(spark, path).orphans === 1)
  }

  test("fraction-from-state ≡ from-scratch fraction selection") {
    val df = groupedCorpus(300, nGroups = 4, seed = 81).cache()
    val path = java.nio.file.Files.createTempDirectory("graft_bsfrac")
      .resolve("state").toString
    BudgetSelect.writeBudgetStatePerGroup(df.where(col("id") % 2 === 0),
      col("g"), col("id"), col("q"), col("c"), path)
    BudgetSelect.appendBudgetStatePerGroup(df.where(col("id") % 2 =!= 0),
      col("g"), col("id"), col("q"), col("c"), path)
    val fractions = Map("g0" -> 0.0, "g1" -> 0.3, "g2" -> 1.0, "g3" -> 0.5)
    val fromState = BudgetSelect.budgetSelectPerGroupFractionFromState(df,
        col("g"), col("id"), col("q"), col("c"), fractions, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val scratch = BudgetSelect.budgetSelectPerGroupFraction(df, col("g"),
        col("id"), col("q"), col("c"), fractions)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(fromState === scratch)
    // a fraction for a group with NO input rows is benign (selects
    // nothing — the from-scratch behavior), not a false stale alarm
    val benign = BudgetSelect.budgetSelectPerGroupFractionFromState(df,
        col("g"), col("id"), col("q"), col("c"),
        Map("nope" -> 0.5) ++ fractions, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(benign === scratch)
    // the stale guard applies to the fraction form too: state covering
    // only one of two budgeted groups that BOTH have input rows
    val partial = java.nio.file.Files.createTempDirectory("graft_bsfrac2")
      .resolve("state").toString
    BudgetSelect.writeBudgetStatePerGroup(df.where(col("g") === "g0"),
      col("g"), col("id"), col("q"), col("c"), partial)
    val e2 = intercept[IllegalArgumentException] {
      BudgetSelect.budgetSelectPerGroupFractionFromState(df, col("g"),
        col("id"), col("q"), col("c"), Map("g0" -> 0.5, "g1" -> 0.5),
        partial)
    }
    assert(e2.getMessage.contains("stale or partial state"))
  }

  test("takeTopPerGroup keeps each group's m-row prefix; unnamed drop") {
    val df = groupedCorpus(300, nGroups = 4, seed = 71).cache()
    val ms = Map("g0" -> 0L, "g1" -> 7L, "g2" -> 100000L, "g3" -> 25L)
    val got = BudgetSelect.takeTopPerGroup(df, col("g"), col("id"),
        col("q"), ms)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val w = Window.partitionBy(col("g")).orderBy(col("q").desc, col("id"))
    val want = df.withColumn("rn", row_number().over(w))
      .collect().filter { r =>
        ms.get(r.getAs[String]("g")).exists(r.getAs[Int]("rn") <= _)
      }.map(_.getAs[Long]("id")).toSet
    assert(got === want)
  }

  test("takeTop keeps exactly the m best rows across the m spectrum") {
    val df = corpus(200, seed = 51).cache()
    val w = Window.orderBy(col("q").desc, col("id"))
    val ranked = df.withColumn("rn", row_number().over(w))
    for (m <- Seq(0L, 1L, 37L, 100L, 199L, 200L, 500L)) {
      val got = BudgetSelect.takeTop(df, col("id"), col("q"), m)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val want = ranked.where(col("rn") <= m).select(col("id"))
        .collect().map(_.getLong(0)).toSet
      assert(got === want, s"m=$m")
      assert(got.size === math.min(m, 200L), s"m=$m size")
    }
  }

  test("takeTopSmall ≡ takeTop (heap vs histogram), incl. a " +
      "distinct-per-row composed key the histogram path cannot hold") {
    val df = corpus(200, seed = 91).cache()
    for (m <- Seq(0L, 1L, 37L, 200L, 500L)) {
      val got = BudgetSelect.takeTopSmall(df, col("id"), col("q"), m)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val want = BudgetSelect.takeTop(df, col("id"), col("q"), m)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(got === want, s"m=$m")
    }
    // composed sort key, distinct per row — the case takeTop's level
    // histogram would inflate to the full key set on
    val keyed = df.withColumn("k", col("q") * 1000000L + col("id"))
    val got5 = BudgetSelect.takeTopSmall(keyed, col("id"), col("k"), 5L)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val w = Window.orderBy(col("k").desc, col("id"))
    val want5 = keyed.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(got5 === want5)
    df.unpersist()
  }

  test("takeTopPerGroupUniform ≡ the named-quota form over discovered groups") {
    // corpus ids are multiples of 7 — group on %5 so groups actually vary
    val df = corpus(200, seed = 77)
      .withColumn("g", concat(lit("host"), col("id") % 5)).cache()
    val groups = (0 until 5).map(i => s"host$i")
    for (m <- Seq(0L, 1L, 5L, 50L)) {
      val got = BudgetSelect.takeTopPerGroupUniform(df, col("g"),
          col("id"), col("q"), m)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val want = BudgetSelect.takeTopPerGroup(df, col("g"), col("id"),
          col("q"), groups.map(_ -> m).toMap)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(got === want, s"m=$m")
    }
    // null group keys never become a discovered group
    val withNull = df.withColumn("g",
      when(col("id") % 3 === 0, lit(null)).otherwise(col("g")))
    val kept = BudgetSelect.takeTopPerGroupUniform(withNull, col("g"),
      col("id"), col("q"), 1000L)
    assert(kept.where(col("g").isNull).isEmpty)
    // buffer-budget loud-fail: the size-m heap IS per-group executor
    // state, so an m above maxPerGroup refuses up front
    val e = intercept[IllegalArgumentException] {
      BudgetSelect.takeTopPerGroupUniform(df, col("g"), col("id"),
        col("q"), 10L, maxPerGroup = 3)
    }
    assert(e.getMessage.contains("maxPerGroup"))
    // empty input → empty output with the input schema, no throw
    val empty = BudgetSelect.takeTopPerGroupUniform(df.limit(0), col("g"),
      col("id"), col("q"), 5L)
    assert(empty.columns.toSeq === df.columns.toSeq)
    assert(empty.isEmpty)
  }

  test("takeTopPerGroupUniform holds ZERO driver state: group count " +
      "above the old 2^20 enumeration cap") {
    // one row per group at 2^20 + 4096 groups — the exact cardinality
    // the former distinct-collect path loud-failed at. m=2 keeps every
    // row (every group is under quota); a spot host with 5 rows keeps
    // its best 2 by (q DESC, id ASC).
    val n = (1 << 20) + 4096
    val wide = spark.range(n.toLong)
      .select(col("id"),
        concat(lit("host-"), col("id")).as("g"),
        (col("id") % 11).as("q"))
    val spot = Seq(
      (n + 0L, "spot.example", 9L), (n + 1L, "spot.example", 7L),
      (n + 2L, "spot.example", 9L), (n + 3L, "spot.example", 1L),
      (n + 4L, "spot.example", 7L)).toDF("id", "g", "q")
    val kept = BudgetSelect.takeTopPerGroupUniform(
      wide.unionAll(spot), col("g"), col("id"), col("q"), 2L)
    val spotIds = kept.where(col("g") === "spot.example")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // q=9 at ids n+0,n+2 beat q=7,7,1
    assert(spotIds === Set(n + 0L, n + 2L))
    assert(kept.count() === n.toLong + 2L)
  }

  test("takeTopPerGroupUniform ≡ the per-group ranking window across " +
      "random corpora (heavy ties, random layouts)") {
    for (seed <- Seq(11, 23, 47)) {
      val rng = new scala.util.Random(seed)
      val df = (0 until 300).map { i =>
        (i.toLong, "g" + rng.nextInt(12), rng.nextInt(5).toLong)
      }.toDF("id", "g", "q").repartition(1 + seed % 7).cache()
      val w = Window.partitionBy(col("g"))
        .orderBy(col("q").desc, col("id"))
      val ranked = df.withColumn("rn", row_number().over(w))
      for (m <- Seq(1L, 2L, 7L, 300L)) {
        val got = BudgetSelect.takeTopPerGroupUniform(df, col("g"),
            col("id"), col("q"), m)
          .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
        val want = ranked.where(col("rn") <= m).select(col("id"))
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got === want, s"seed=$seed m=$m")
      }
      df.unpersist()
    }
  }

  test("takeTopPerGroupUniform plan: one bounded aggregate + semi-join, " +
      "no window, no driver collect of groups") {
    val df = corpus(50, seed = 5)
      .withColumn("g", concat(lit("h"), col("id") % 7))
    val plan = BudgetSelect.takeTopPerGroupUniform(df, col("g"),
      col("id"), col("q"), 3L).queryExecution.executedPlan.toString
    assert(plan.contains("bounded_top_m"))
    assert(plan.contains("LeftSemi"))
    assert(!plan.contains("Window"), "no per-group ranking window")
  }
}

object BudgetSelectSpec {

  /** Three aligned 8-id quality levels whose costs put cuts on the
    * refinement's edge cases (see the edge-case legs here and in
    * BinningSpec): q=9 ids 100..107, q=5 ids 0..7, q=3 ids 8..15. */
  def refineEdges(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val levels = Seq((9L, 100L, Seq(0L, 0L, 0L, 1L, 1L, 1L, 1L, 1L)),
      (5L, 0L, Seq(1L, 1L, 1L, 1L, 2L, 1L, 1L, 0L)),
      (3L, 8L, Seq(1L, 1L, 1L, 1L, 0L, 0L, 3L, 2L)))
    levels.flatMap { case (q, lo, cs) =>
      cs.zipWithIndex.map { case (c, i) => (lo + i, q, c) }
    }.toDF("id", "q", "c")
  }
}
