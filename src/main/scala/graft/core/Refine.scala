package graft.core

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

import graft.ops.TemporalOps.floorDivChunk

/** The one id-chunk cost refinement behind [[graft.text.BudgetSelect]]
  * and [[graft.text.Binning]], plus the driver arithmetic it and the
  * quantile lookups share. Both operators solve "find the element of a
  * huge (score DESC, id ASC) order at a given cumulative COST" by
  * placing each cut on a score level from a level histogram and then
  * resolving the cut inside that level with [[refineCuts]] (row counts
  * are the unit-cost case: `takeTop` and the count bins). The cut is
  * one [[Boundary]] type and one [[after]] predicate for both. One
  * implementation, so the edge cases (full-Long spans, the 2^62 clamp,
  * the strict cum > threshold pick, a cut on a chunk edge, zero-cost
  * rows after the cut) cannot drift between the two operators. */
private[graft] object Refine {

  /** Chunk width that splits [lo, hi] into ~`fanout` id chunks. Works
    * on the BigInt span: ids may legitimately span the full Long range,
    * where `hi - lo` overflows. The 2^62 clamp keeps the width a
    * positive Long even at the full-2^64 span with a tiny fanout
    * (ceil(2^64 / 2) overflows); clamped rounds still cut the span
    * ≥ 4×, so the round bound only rises from log_fanout to log_4 for
    * the first round or two. width < span always (fanout ≥ 2,
    * span ≥ 2), so hi - lo ≥ width forces ≥ 2 occupied chunks and every
    * round strictly shrinks the span. */
  def chunkWidth(lo: Long, hi: Long, fanout: Int): Long = {
    val span = BigInt(hi) - BigInt(lo) + 1
    ((span + fanout - 1) / fanout).max(1)
      .min(BigInt(Long.MaxValue / 2)).toLong
  }

  /** Cumulative counts and values of a (value, count) histogram sorted
    * by value ascending. Levels must be nonempty. */
  private def cumulative(levels: Seq[(Long, Long)])
      : (IndexedSeq[Long], IndexedSeq[Long]) = {
    require(levels.nonEmpty, "levels must be nonempty")
    (levels.scanLeft(0L)(_ + _._2).tail.toIndexedSeq,
      levels.map(_._1).toIndexedSeq)
  }

  /** The one rank search: the first index whose cumulative count
    * exceeds `rank` — or, when `inclusive`, reaches it. */
  private def rankIndex(cum: IndexedSeq[Long], rank: Long,
                        inclusive: Boolean): Int = {
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) > rank || (inclusive && cum(mid) == rank)) hi = mid
      else lo = mid + 1
    }
    lo
  }

  /** Discrete quantile values off a (value, count) histogram sorted by
    * value ascending: for each p, the value at 0-based rank
    * `clamp(ceil(p*n)-1, 0, n-1)` — the percentile_disc definition.
    * One cumulative pass + binary search per p (not a linear walk per
    * p), and ONE home for the rank clamp so it cannot drift between
    * the global and per-group quantile forms. Levels must be nonempty. */
  def quantileValues(levels: Seq[(Long, Long)],
                     ps: Seq[Double]): Seq[(Double, Long, Long)] = {
    val (cum, vals) = cumulative(levels)
    val n = cum.last
    ps.map { p =>
      val rank = math.min(n - 1, math.max(0L, math.ceil(p * n).toLong - 1))
      (p, vals(rankIndex(cum, rank, inclusive = false)), n)
    }
  }

  /** [[quantileValues]] with the quantile given as an INTEGER ppm
    * fraction (p = ppm / 1,000,000) and the rank threshold computed in
    * PURE INTEGER arithmetic — no DOUBLE × count product anywhere, so
    * the result is bit-identical across JVMs, and an oracle engine
    * mirroring `ceil(n * ppm / 1e6)` in its own integer arithmetic
    * (BIGINT/HUGEINT) agrees exactly regardless of how it parses or
    * multiplies decimal literals. This is the WEIGHTED-quantile house
    * form: `n` here is total weight, which at corpus scale (100 TB of
    * chars) overflows a Double's 2^53 integer range — the BigInt
    * product sidesteps both that and Long overflow (W * ppm exceeds
    * Long at W > ~9.2e12). Semantics: 1-based rank
    * `clamp(ceil(n * ppm / 1e6), 1, n)`; result is the first value
    * whose cumulative count reaches the rank (percentile_disc over the
    * weight-expanded multiset). Returns (ppm, value, n). */
  def quantileValuesPpm(levels: Seq[(Long, Long)],
                        psPpm: Seq[Long]): Seq[(Long, Long, Long)] = {
    val (cum, vals) = cumulative(levels)
    require(psPpm.forall(p => p >= 0L && p <= 1000000L),
      "quantiles in [0, 1000000] ppm")
    val n = cum.last
    psPpm.map { ppm =>
      val rank = ((BigInt(n) * ppm + 999999L) / 1000000L)
        .max(1).min(BigInt(n)).toLong
      (ppm, vals(rankIndex(cum, rank, inclusive = true)), n)
    }
  }

  /** CONTINUOUS-interpolation quantiles over the same level histogram
    * (`percentile_cont` / DuckDB `quantile_cont` semantics): for each p
    * the fractional rank is h = p*(n-1); the result interpolates
    * linearly between the values at 0-based ranks floor(h) and
    * floor(h)+1 as `v_lo + frac * (v_hi - v_lo)` with frac = h -
    * floor(h). At quarter-fraction fracs (0, .25, .5, .75) every term
    * is exactly representable for integral values below 2^51, so the
    * double result is the EXACT rational — bit-equal across engines
    * regardless of their interpolation formula. Returns
    * (p, interpolated value, n). */
  def quantileValuesCont(levels: Seq[(Long, Long)],
                         ps: Seq[Double]): Seq[(Double, Double, Long)] = {
    val (cum, vals) = cumulative(levels)
    val n = cum.last
    def valueAtRank(rank: Long): Long =
      vals(rankIndex(cum, math.min(n - 1, math.max(0L, rank)),
        inclusive = false))
    ps.map { p =>
      val h = p * (n - 1).toDouble
      val lo = math.floor(h).toLong
      val frac = h - lo.toDouble
      val vLo = valueAtRank(lo)
      val v =
        if (frac == 0.0) vLo.toDouble
        else vLo.toDouble + frac * (valueAtRank(lo + 1) - vLo).toDouble
      (p, v, n)
    }
  }

  /** The boundary element of `elems` (already sorted in walk order):
    * the first whose cumulative weight STRICTLY exceeds `threshold`,
    * with the cumulative weight before it. None when the total never
    * exceeds the threshold (the caller's keep-all case). */
  def boundary[T](elems: Seq[T], weight: T => Long,
                  threshold: Long): Option[(T, Long)] = {
    var acc = 0L
    var found = Option.empty[(T, Long)]
    elems.foreach { e =>
      if (found.isEmpty && acc + weight(e) > threshold) found = Some((e, acc))
      acc += weight(e)
    }
    found
  }

  /** A one-partition driver frame of non-null columns — the broadcast
    * side of every cursor, cutoff and boundary join. */
  def frame(spark: SparkSession, rows: Seq[Row],
            fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }))

  /** A cut in a (level DESC, id ASC) order. The rows AFTER it are every
    * row of a lower level and, at `level`, every row with id > `id` —
    * or every row of the level when `open` (the cut precedes the
    * level's first row, so no id names it). */
  final case class Boundary(level: Long, id: Long, open: Boolean)

  /** The row at (`lvl`, `id`) is after the boundary (`bLvl`, `bId`,
    * `bOpen`): the one predicate behind Binning's bin fold and
    * BudgetSelect's kept filter. */
  def after(lvl: Column, id: Column, bLvl: Column, bId: Column,
            bOpen: Column): Column =
    lvl < bLvl || (lvl === bLvl && (bOpen || id > bId))

  /** A cut still to resolve inside one level: the level's rows span ids
    * [lo, hi] and number n, and `rem` of their cost lies before the cut
    * (0 ≤ rem < their total cost). */
  final case class Cursor(level: Long, lo: Long, hi: Long, n: Long,
                          rem: Long)

  /** Resolve every cursor of `start` to its [[Boundary]]: the largest
    * id whose running cost (id ASC) within the cursor's rows stays
    * ≤ `rem`, open when no row fits.
    *
    * `slim` holds the cursors' rows as `(__cur INT, __id BIGINT,
    * __c BIGINT)` and must be localCheckpointed by the caller, so the
    * rounds scan that frame and never re-run the corpus plan. Every
    * round is ONE aggregation over all live cursors: each cursor's id
    * span splits into ~`fanout` chunks (width per cursor on a broadcast
    * frame), the chunk cost histogram picks the chunk holding the cut,
    * and only that chunk's rows stay pending (checkpointed again), so
    * the span shrinks ×`fanout` per round. Chunks wholly before the cut
    * record their max id (`lastKept`): a cut that lands exactly on a
    * chunk edge, with every later row heavier than what is left, still
    * has its id without re-reading the dropped chunks. A cursor down to
    * ≤ `smallCap` rows leaves the loop, and all of them finish together
    * with ONE running-sum window partitioned by the cursor (bounded
    * partitions by construction), collected as one row per cursor.
    *
    * Driver state: ≤ fanout chunk rows per cursor per round + one row
    * per cursor at the finish; nothing scales with corpus size or with
    * smallCap. */
  def refineCuts(slim: DataFrame, start: Map[Int, Cursor], fanout: Int,
                 smallCap: Int): Map[Int, Boundary] = {
    if (start.isEmpty) return Map.empty
    val spark = slim.sparkSession
    var pending = slim
    var state = start
    var finals = slim.limit(0)
    val finished = mutable.Map.empty[Int, Cursor]
    val lastKept = mutable.Map.empty[Int, Long]
    var rounds = 0
    while (state.nonEmpty) {
      // unreachable with UNIQUE ids (spans shrink every round) — but a
      // violated precondition (duplicate or non-integral ids collapsing
      // under the long cast) parks > smallCap rows on ONE id, where
      // width-1 chunks stop shrinking; fail loudly naming the cause
      // instead of looping forever
      rounds += 1
      require(rounds <= 64, "refinement failed to converge — are the " +
        "ids unique within each group? (duplicate or non-integral ids " +
        "collapse chunks)")
      // converged cursors move their rows into `finals` and LEAVE
      // pending, so finished rows are never re-aggregated and no in-band
      // chunk sentinel is needed (a chunk id can be ANY Long)
      val (small, big) = state.partition(_._2.n <= smallCap)
      if (small.nonEmpty) {
        finished ++= small
        finals = finals.unionByName(pending.join(broadcast(frame(spark,
          small.keys.toSeq.sorted.map(Row(_)), "__cur" -> IntegerType)),
          Seq("__cur"), "left_semi"))
      }
      state = if (big.isEmpty) Map.empty else {
        val widths = big.toSeq.sortBy(_._1).map { case (i, c) =>
          Row(i, chunkWidth(c.lo, c.hi, fanout))
        }
        val chunked = pending
          .join(broadcast(frame(spark, widths,
            "__cur" -> IntegerType, "__w" -> LongType)), Seq("__cur"))
          .withColumn("__ck", floorDivChunk(col("__id"), col("__w")))
        val next = chunked.groupBy(col("__cur"), col("__ck"))
          .agg(sum(col("__c")), count(lit(1)), min(col("__id")),
            max(col("__id")))
          .collect()
          .groupBy(_.getInt(0)).map { case (i, rows) =>
            val c = big(i)
            val chunks = rows.map(r => (r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
            // invariant rem < Σ chunk costs, so the cut chunk exists
            val ((ck, _, n, lo, hi), before) =
              boundary[(Long, Long, Long, Long, Long)](chunks.toSeq, _._2,
                c.rem).get
            // chunks ascend by id, and every one before `ck` is kept
            chunks.takeWhile(_._1 < ck).lastOption
              .foreach(k => lastKept(i) = k._5)
            i -> (ck, c.copy(lo = lo, hi = hi, n = n, rem = c.rem - before))
          }
        pending = chunked
          .join(broadcast(frame(spark,
            next.toSeq.sortBy(_._1).map { case (i, (ck, _)) => Row(i, ck) },
            "__cur" -> IntegerType, "__cstar" -> LongType)), Seq("__cur"))
          .where(col("__ck") === col("__cstar"))
          .select(col("__cur"), col("__id"), col("__c"))
          .localCheckpoint(false)
        next.map { case (i, (_, c)) => i -> c }
      }
    }
    val rem = frame(spark,
      finished.toSeq.sortBy(_._1).map { case (i, c) => Row(i, c.rem) },
      "__cur" -> IntegerType, "__rem" -> LongType)
    val w = Window.partitionBy(col("__cur")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = finals.join(broadcast(rem), Seq("__cur"))
      .withColumn("__cum", sum(col("__c")).over(w))
      .groupBy(col("__cur"))
      .agg(count(lit(1)), max(when(col("__cum") <= col("__rem"), col("__id"))))
      .collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), Option.unless(r.isNullAt(2))(r.getLong(2))))
      .toMap
    require(picked.size == finished.size,
      s"boundary refinement lost cursors (${picked.size} of ${finished.size})")
    finished.map { case (i, c) =>
      val (n, id) = picked(i)
      require(n == c.n, s"boundary $i refinement lost rows (have $n, want ${c.n})")
      i -> id.orElse(lastKept.get(i)).fold(Boundary(c.level, 0L, open = true))(
        Boundary(c.level, _, open = false))
    }.toMap
  }
}
