package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, StringType, StructField, StructType}

import graft.core.Refine

/** Curriculum binning: assign every document an exact quantile bin over
  * the (score DESC, id ASC) order — the "sort the corpus by quality and
  * train easy→hard (or hard→easy) in k stages" step, as a first-class
  * operator. One algorithm serves every form: bins of equal cumulative
  * COST (token mass), with count bins run as cost bins of unit cost.
  *
  * Semantics: with per-row integral cost w ≥ 0, W = Σw and `cum` a
  * row's INCLUSIVE running cost in the order,
  * `bin = 1 + floor((max(cum, 1) - 1) * k / W)` (all bins 1 when
  * W = 0) — the SQL window
  * `1 + ((greatest(sum(w) OVER (ORDER BY score DESC, id), 1) - 1) * k) / W`
  * under integer division. With w = 1, cum is the 1-based rank r + 1
  * and W = n, so this is `bin = 1 + floor(r * k / n)` — SQL
  * `1 + (row_number() over (order by score desc, id) - 1) * k / n`,
  * equal to `ntile(k)` whenever n ≥ k (for n < k ntile renumbers 1..n
  * while the floor map spreads bins; the floor map is the
  * oracle-exact contract).
  *
  * Scale shape (100 TB): the naive plan is a GLOBAL SORT plus a
  * single-task running window — the canonical unscalable plan twice
  * over. Here instead:
  *
  *  1. ONE aggregation builds the (group, level) histogram
  *     (cost, rows, min id, max id) — bounded by `maxLevels` /
  *     `maxHistRows` (the ppm convention), collected to the driver;
  *  2. the driver places every group's k-1 cuts against cumulative
  *     level cost. A cut on a level's LAST unit of mass resolves to the
  *     level's max id at once; the rest need the largest id whose
  *     within-level running cost (id ASC) stays ≤ the remainder — a
  *     selection problem, solved by [[graft.core.Refine.refineCuts]],
  *     the id-chunk COST refinement shared with [[BudgetSelect]], over
  *     a slim (cursor, id, cost) frame localCheckpointed ONCE, so rounds
  *     never re-scan the corpus; all groups' cursors refine together,
  *     one aggregation per round, starting from the id extremes and
  *     counts the histogram already holds (no stats job). The final
  *     ≤ `smallCap` rows per cursor resolve with ONE running-sum window
  *     PARTITIONED BY the cursor, and only one aggregated row per
  *     cursor reaches the driver. A cut can fall BEFORE a level's first
  *     row (that row's cost alone exceeds the remainder; never with
  *     unit cost), so a boundary carries an `open` flag — "every row of
  *     this level is after the cut" — instead of an id that may not
  *     exist;
  *  3. the OUTPUT plan is map-only for the single group: `bin` is a
  *     folded comparison against ≤ k-1 literal boundaries — no join, no
  *     window, no corpus shuffle. Real groups, and the single group
  *     above 64 boundaries (where k-1 nested when() folds would build a
  *     depth-k Catalyst tree), join a broadcast per-group boundary
  *     array and fold it with a flat array aggregate instead — still
  *     windowless and shuffle-free, so no group's ranking window owns
  *     the job's wall clock.
  *
  * Driver state: the level histogram + (k-1) × groups boundary cursors
  * + ≤ fanout chunk rows per cursor per round + one row per refined
  * cursor at the finish. Nothing scales with corpus size, and nothing
  * multiplies by smallCap.
  *
  * Preconditions (the [[BudgetSelect]] discipline): integral `score`
  * (ppm a continuous one first), integral UNIQUE `id`, integral
  * NON-NEGATIVE cost (negative mass has no cumulative order — loud);
  * rows where group, id, score or cost casts to null are DROPPED (no
  * coherent rank exists for them). `k` must be ≥ 1, and a group's
  * total cost must fit 64 bits (loud); the cut arithmetic runs in
  * BigInt.
  */
object Binning {

  /** Annotate `df` with an exact `bin` column in 1..k: equal-count
    * bins (see object doc). Row order unspecified, like any
    * projection. */
  def quantileBins(df: DataFrame, id: Column, score: Column, k: Int,
                   maxLevels: Int = 1 << 20): DataFrame =
    quantileBinsImpl(df, id, score, k, maxLevels,
      fanout = 4096, smallCap = 1 << 16)

  /** Test seam: `fanout`/`smallCap` shrink to force deep refinement. */
  private[graft] def quantileBinsImpl(df: DataFrame, id: Column,
                                      score: Column, k: Int, maxLevels: Int,
                                      fanout: Int, smallCap: Int): DataFrame =
    quantileBinsByCostImpl(df, lit(allGroup), id, score, lit(1L), k,
      maxLevels, fanout, smallCap)

  /** [[quantileBins]] computed SEPARATELY within every group — the
    * mixture-spec curriculum ("bin web and code each into their own k
    * stages") over each group's own (score DESC, id ASC) order, from
    * one (group, level) histogram. */
  def quantileBinsPerGroup(df: DataFrame, group: Column, id: Column,
                           score: Column, k: Int,
                           maxHistRows: Int = 1 << 20): DataFrame =
    quantileBinsPerGroupImpl(df, group, id, score, k, maxHistRows,
      fanout = 4096, smallCap = 1 << 16)

  private[graft] def quantileBinsPerGroupImpl(
      df: DataFrame, group: Column, id: Column, score: Column, k: Int,
      maxHistRows: Int, fanout: Int, smallCap: Int): DataFrame =
    quantileBinsByCostImpl(df, group, id, score, lit(1L), k, maxHistRows,
      fanout, smallCap)

  private val allGroup = "__all"

  /** Max literal boundaries folded into nested when() comparisons for
    * the single-group assignment; above this the broadcast
    * boundary-array aggregate (flat expression tree) takes over. */
  private val foldedBoundaryCap = 64

  /** COST-WEIGHTED curriculum bins: k bins of EQUAL CUMULATIVE COST
    * (token mass) instead of equal row count — the curriculum you
    * actually schedule training with, where equal-doc bins mislead (a
    * few huge documents dominate a stage's token budget). Zero-cost
    * rows ride their position's mass point. */
  def quantileBinsByCost(df: DataFrame, id: Column, score: Column,
                         cost: Column, k: Int,
                         maxLevels: Int = 1 << 20): DataFrame =
    quantileBinsByCostImpl(df, lit(allGroup), id, score, cost, k, maxLevels,
      fanout = 4096, smallCap = 1 << 16)

  /** [[quantileBinsByCost]] computed SEPARATELY within every group —
    * per-domain equal-token-mass curricula from one histogram pass. */
  def quantileBinsByCostPerGroup(df: DataFrame, group: Column, id: Column,
                                 score: Column, cost: Column, k: Int,
                                 maxHistRows: Int = 1 << 20): DataFrame =
    quantileBinsByCostImpl(df, group, id, score, cost, k, maxHistRows,
      fanout = 4096, smallCap = 1 << 16)

  private[graft] def quantileBinsByCostImpl(
      df: DataFrame, group: Column, id: Column, score: Column, cost: Column,
      k: Int, maxHistRows: Int, fanout: Int, smallCap: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(fanout >= 2 && smallCap >= 1, "fanout >= 2, smallCap >= 1")
    val gS = group.cast("string")
    val idL = id.try_cast("long")
    val qL = score.try_cast("long")
    val cL = cost.try_cast("long")
    val live = df.where(gS.isNotNull && idL.isNotNull && qL.isNotNull &&
      cL.isNotNull)
    if (k == 1) return live.withColumn("bin", lit(1))

    // 1. (group, level) COST histogram with id extremes + row counts
    val hist = live.groupBy(gS.as("__g"), qL.as("__q"))
      .agg(sum(cL).as("__w"), count(lit(1)).as("__n"),
        min(idL).as("__lo"), max(idL).as("__hi"), min(cL).as("__cmin"))
      .limit(maxHistRows + 1)
      .collect()
    require(hist.length <= maxHistRows,
      s"more than $maxHistRows distinct (group, score-level) rows — " +
        "quantize the score (ppm convention) or raise the cap")
    require(hist.forall(_.getLong(6) >= 0L),
      "negative costs break cumulative-mass binning — costs must be >= 0")
    if (hist.isEmpty) return live.withColumn("bin", lit(1))

    // 2. boundary placement against cumulative COST: a cut on a level's
    // last unit of mass is that level's max id; the rest are cursors
    // for the shared refinement
    var resolved = Map.empty[(String, Int), Refine.Boundary]
    var sels = List.empty[((String, Int), Refine.Cursor)]
    hist.groupBy(_.getString(0)).foreach { case (g, rows) =>
      val levels = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)(Ordering[Long].reverse)
      val w = levels.map(_._2).map(BigInt(_)).sum
      if (w > 0) {
        require(w <= Long.MaxValue,
          s"total cost exceeds 64 bits (group=$g)")
        val starts = levels.scanLeft(BigInt(0))((acc, l) => acc + l._2)
        for (i <- 1 until k) {
          val ti = (BigInt(i) * w - 1) / k + 1 // clamp(ceil-ish) ≥ 1
          var j = 0
          while (starts(j + 1) < ti) j += 1
          val (lvl, wl, cnt, lo, hi) = levels(j)
          val t = (ti - starts(j)).toLong // 1 ≤ t ≤ wl
          if (t == wl) resolved += (g, i) -> Refine.Boundary(lvl, hi, open = false)
          else sels ::= (g, i) -> Refine.Cursor(lvl, lo, hi, cnt, t)
        }
      }
    }

    // 3. interior cuts: the largest id whose within-level running cost
    // (id ASC) stays ≤ t, from Refine.refineCuts over the cursors'
    // level rows — a slim (cursor, id, cost) frame checkpointed ONCE
    val spark = df.sparkSession
    if (sels.nonEmpty) {
      val keyed = sels.sortBy(_._1).zipWithIndex
      val slim = live
        .select(gS.as("__sg"), qL.as("__slvl"), idL.as("__id"), cL.as("__c"))
        .join(broadcast(Refine.frame(spark,
          keyed.map { case ((key, c), i) => Row(i, key._1, c.level) },
          "__cur" -> IntegerType, "__sg" -> StringType, "__slvl" -> LongType)),
          Seq("__sg", "__slvl"))
        .select(col("__cur"), col("__id"), col("__c"))
        .localCheckpoint(false)
      val found = Refine.refineCuts(slim,
        keyed.map { case ((_, c), i) => i -> c }.toMap, fanout, smallCap)
      keyed.foreach { case ((key, _), i) => resolved += key -> found(i) }
    }

    // 4. assignment: bin = 1 + the number of boundaries the row is after
    def afterExpr(lvl: Column, bid: Column, open: Column): Column =
      when(Refine.after(qL, idL, lvl, bid, open), 1).otherwise(0)
    val groupsResolved = resolved.keys.map(_._1).toSet
    if (groupsResolved.forall(_ == allGroup) &&
        resolved.size <= foldedBoundaryCap) {
      val after = resolved.values.foldLeft(lit(0)) { (acc, b) =>
        acc + afterExpr(lit(b.level), lit(b.id), lit(b.open))
      }
      live.withColumn("bin", (after + 1).cast("int"))
    } else {
      val bRows = resolved.toSeq
        .groupBy(_._1._1).toSeq.sortBy(_._1)
        .map { case (g, bs) =>
          Row(g, bs.sortBy(_._1._2).map { case (_, b) =>
            Row(b.level, b.id, b.open) })
        }
      val entry = StructType(Seq(
        StructField("lvl", LongType, nullable = false),
        StructField("bid", LongType, nullable = false),
        StructField("open", BooleanType, nullable = false)))
      val bDf = Refine.frame(spark, bRows, "__bg" -> StringType,
        "__bounds" -> ArrayType(entry, containsNull = false))
      live.withColumn("__bg", gS)
        .join(broadcast(bDf), Seq("__bg"), "left")
        .withColumn("bin",
          (coalesce(aggregate(col("__bounds"), lit(0), (acc, b) =>
            acc + afterExpr(b.getField("lvl"), b.getField("bid"),
              b.getField("open"))),
            lit(0)) + 1).cast("int"))
        .drop("__bg", "__bounds")
    }
  }
}
