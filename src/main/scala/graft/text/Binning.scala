package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TemporalOps.floorDivChunk

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
  *     selection problem, solved by id-chunk COST refinement (the
  *     [[BudgetSelect]] machinery) over a slim (cursor, id, cost) frame
  *     localCheckpointed ONCE, so rounds never re-scan the corpus; all
  *     groups' cursors refine together, one aggregation per round. The
  *     final ≤ `smallCap` rows per cursor resolve with ONE running-sum
  *     window PARTITIONED BY the cursor (bounded partitions by
  *     construction), and only one aggregated row per cursor reaches
  *     the driver. A cut can fall BEFORE a level's first row (that
  *     row's cost alone exceeds the remainder; never with unit cost),
  *     so a boundary carries an `open` flag — "every row of this level
  *     is after the cut" — instead of an id that may not exist;
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
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
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

    // 2. boundary placement against cumulative COST. resolved value:
    // (level, boundaryId, open) — open = "the cut precedes every row
    // of this level"
    var resolved = Map.empty[(String, Int), (Long, Long, Boolean)]
    // interior selections: (key, level, costTarget t, rowCount, lo, hi)
    var sels = List.empty[((String, Int), Long, Long, Long, Long, Long)]
    val byGroup = hist.groupBy(_.getString(0))
    byGroup.foreach { case (g, rows) =>
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
          if (t == wl) resolved += (g, i) -> (lvl, hi, false)
          else sels ::= ((g, i), lvl, t, cnt, lo, hi)
        }
      }
    }

    val spark = df.sparkSession
    def frame(rows: Seq[Row], fs: (String, org.apache.spark.sql.types.DataType)*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(fs.map { case (nm, t) => StructField(nm, t, nullable = false) }))

    // 3. interior refinement: largest id whose within-level cumulative
    // cost (id ASC) stays ≤ t — BudgetSelect's remaining-budget chunk
    // walk over a slim checkpointed (sel, id, cost) frame; fully-kept
    // chunks record their max id in `lastKept` so a boundary landing at
    // a chunk edge still has its id without re-reading dropped chunks
    if (sels.nonEmpty) {
      val selIndex = sels.map(_._1).sorted.zipWithIndex.toMap
      val selDf = frame(
        sels.sortBy(s => selIndex(s._1)).map { case (key, lvl, _, _, _, _) =>
          Row(selIndex(key), key._1, lvl)
        }, "__sel" -> IntegerType, "__sg" -> StringType, "__slvl" -> LongType)
      var pending = live
        .select(gS.as("__sg"), qL.as("__slvl"), idL.as("__id"), cL.as("__c"))
        .join(broadcast(selDf), Seq("__sg", "__slvl"))
        .select(col("__sel"), col("__id"), col("__c"))
        .localCheckpoint(false)
      var state: Map[Int, (Long, Long, Long, Long)] = // (lo, hi, n, rem)
        sels.map { case (key, _, t, cnt, lo, hi) =>
          selIndex(key) -> (lo, hi, cnt, t)
        }.toMap
      val lastKept = scala.collection.mutable.Map.empty[Int, Long]
      var finals = pending.limit(0)
      val finalRem = scala.collection.mutable.Map.empty[Int, (Long, Long)] // (n, rem)
      var rounds = 0
      while (state.nonEmpty) {
        rounds += 1
        require(rounds <= 64, "refinement failed to converge — are the " +
          "ids unique within each group? (duplicate or non-integral ids " +
          "collapse chunks)")
        // converged cursors (≤ smallCap rows) move their rows into
        // `finals` and LEAVE pending, so finished rows are never
        // re-aggregated and no in-band chunk sentinel is needed (a Long
        // chunk id can be ANY value once widths reach 1)
        val (small, big) = state.partition(_._2._3 <= smallCap)
        if (small.nonEmpty) {
          small.foreach { case (i, (_, _, n, rem)) => finalRem(i) = (n, rem) }
          finals = finals.unionByName(
            pending.join(broadcast(frame(small.keys.toSeq.sorted.map(Row(_)),
              "__sel" -> IntegerType)), Seq("__sel"), "left_semi"))
        }
        if (big.isEmpty) state = Map.empty
        else {
          val widths = big.toSeq.sortBy(_._1).map { case (i, (lo, hi, _, _)) =>
            Row(i, graft.core.Refine.chunkWidth(lo, hi, fanout))
          }
          val chunked = pending
            .join(broadcast(frame(widths, "__sel" -> IntegerType, "__w" -> LongType)),
              Seq("__sel"))
            .withColumn("__ck", floorDivChunk(col("__id"), col("__w")))
          val chist = chunked.groupBy(col("__sel"), col("__ck"))
            .agg(sum(col("__c")).as("__s"), count(lit(1)).as("__n"),
              min(col("__id")).as("__lo"), max(col("__id")).as("__hi"))
            .collect()
          val nextState = scala.collection.mutable.Map.empty[Int, (Long, Long, Long, Long)]
          val stars = chist.groupBy(_.getInt(0)).map { case (i, rows) =>
            val rem = big(i)._4
            val chunks = rows.map(r => (r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
            // invariant rem < Σ chunk costs, so the boundary exists
            val ((cs, _, cn, clo, chi), before) =
              graft.core.Refine.boundary[(Long, Long, Long, Long, Long)](
                chunks.toSeq, _._2, rem).get
            val keptHis = chunks.filter(_._1 < cs).map(_._5)
            if (keptHis.nonEmpty)
              lastKept(i) = math.max(lastKept.getOrElse(i, Long.MinValue),
                keptHis.max)
            nextState(i) = (clo, chi, cn, rem - before)
            Row(i, cs)
          }.toSeq
          pending = chunked
            .join(broadcast(frame(stars.sortBy(_.getInt(0)),
              "__sel" -> IntegerType, "__cstar" -> LongType)), Seq("__sel"))
            .where(col("__ck") === col("__cstar"))
            .select(col("__sel"), col("__id"), col("__c"))
            .localCheckpoint(false)
          state = nextState.toMap
        }
      }
      // bounded distributed finish: per cursor (≤ smallCap rows), the
      // max id whose running cost stays ≤ rem — one window partitioned
      // by the cursor; ONE aggregated row per cursor reaches the driver
      val remDf = frame(
        finalRem.toSeq.sortBy(_._1).map { case (i, (n, rem)) => Row(i, n, rem) },
        "__sel" -> IntegerType, "__n" -> LongType, "__rem" -> LongType)
      val wSel = Window.partitionBy(col("__sel")).orderBy(col("__id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val picked = finals.join(broadcast(remDf), Seq("__sel"))
        .withColumn("__cum", sum(col("__c")).over(wSel))
        .groupBy(col("__sel"))
        .agg(count(lit(1)).as("__pn"),
          max(when(col("__cum") <= col("__rem"), col("__id"))).as("__bid"))
        .collect()
        .map(r => r.getInt(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      val selKey = sels.map { case (key, lvl, _, _, _, _) =>
        selIndex(key) -> (key, lvl) }.toMap
      require(picked.size == finalRem.size,
        s"boundary refinement lost cursors (${picked.size} of ${finalRem.size})")
      finalRem.foreach { case (i, (n, _)) =>
        val (pn, bidOpt) = picked(i)
        require(pn == n,
          s"boundary $i refinement lost rows (have $pn, want $n)")
        val (key, lvl) = selKey(i)
        resolved += key -> (bidOpt.orElse(lastKept.get(i)) match {
          case Some(bid) => (lvl, bid, false)
          case None      => (lvl, 0L, true) // cut precedes the whole level
        })
      }
    }

    // 4. assignment: a row is after a boundary when its level is
    // lower, or the same and (open or id > boundary id); bin = 1 + the
    // number of boundaries the row is after
    def afterExpr(lvlC: Column, idC: Column, lvl: Column, bid: Column,
                  open: Column): Column =
      when(lvlC < lvl || (lvlC === lvl && (open || idC > bid)), 1).otherwise(0)
    val groupsResolved = resolved.keys.map(_._1).toSet
    if (groupsResolved.forall(_ == allGroup) &&
        resolved.size <= foldedBoundaryCap) {
      val after = resolved.foldLeft(lit(0)) {
        case (acc, (_, (lvl, bid, open))) =>
          acc + afterExpr(qL, idL, lit(lvl), lit(bid), lit(open))
      }
      live.withColumn("bin", (after + 1).cast("int"))
    } else {
      val bRows = resolved.toSeq
        .groupBy(_._1._1).toSeq.sortBy(_._1)
        .map { case (g, bs) =>
          Row(g, bs.sortBy(_._1._2).map { case (_, (lvl, bid, open)) =>
            Row(lvl, bid, open) })
        }
      val entry = StructType(Seq(
        StructField("lvl", LongType, nullable = false),
        StructField("bid", LongType, nullable = false),
        StructField("open", BooleanType, nullable = false)))
      val bDf = spark.createDataFrame(
        spark.sparkContext.parallelize(bRows, 1),
        StructType(Seq(StructField("__bg", StringType, nullable = false),
          StructField("__bounds", org.apache.spark.sql.types.ArrayType(entry,
            containsNull = false), nullable = false))))
      live.withColumn("__bg", gS)
        .join(broadcast(bDf), Seq("__bg"), "left")
        .withColumn("bin",
          (coalesce(aggregate(col("__bounds"), lit(0), (acc, b) =>
            acc + afterExpr(qL, idL, b.getField("lvl"), b.getField("bid"),
              b.getField("open"))),
            lit(0)) + 1).cast("int"))
        .drop("__bg", "__bounds")
    }
  }
}
