package graft.core

/** Driver-side arithmetic shared by the histogram-cutoff refinement
  * loops ([[graft.text.BudgetSelect]], [[graft.text.Binning]]): both
  * solve "find the element of a huge (score, id) order at a given
  * cumulative COST threshold" by id-chunk cost histograms (row counts
  * are the unit-cost case: `takeTop` and the count bins), and both
  * need the same two carefully-guarded pieces — the overflow-safe chunk
  * width and the boundary pick over a sorted chunk histogram. One
  * implementation so
  * the edge cases (full-Long spans, the 2^62 clamp, the strict
  * cum > threshold pick) cannot drift between the two operators. */
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

  /** Discrete quantile values off a (value, count) histogram sorted by
    * value ascending: for each p, the value at 0-based rank
    * `clamp(ceil(p*n)-1, 0, n-1)` — the percentile_disc definition.
    * One cumulative pass + binary search per p (not a linear walk per
    * p), and ONE home for the rank clamp so it cannot drift between
    * the global and per-group quantile forms. Levels must be nonempty. */
  def quantileValues(levels: Seq[(Long, Long)],
                     ps: Seq[Double]): Seq[(Double, Long, Long)] = {
    require(levels.nonEmpty, "levels must be nonempty")
    val cum = levels.scanLeft(0L)(_ + _._2).tail.toIndexedSeq
    val vals = levels.map(_._1).toIndexedSeq
    val n = cum.last
    ps.map { p =>
      val rank = math.min(n - 1, math.max(0L, math.ceil(p * n).toLong - 1))
      // first index with cum(idx) > rank
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) > rank) hi = mid else lo = mid + 1
      }
      (p, vals(lo), n)
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
    require(levels.nonEmpty, "levels must be nonempty")
    require(psPpm.forall(p => p >= 0L && p <= 1000000L),
      "quantiles in [0, 1000000] ppm")
    val cum = levels.scanLeft(0L)(_ + _._2).tail.toIndexedSeq
    val vals = levels.map(_._1).toIndexedSeq
    val n = cum.last
    psPpm.map { ppm =>
      val rank = ((BigInt(n) * ppm + 999999L) / 1000000L)
        .max(1).min(BigInt(n)).toLong
      // first index with cum(idx) >= rank
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) >= rank) hi = mid else lo = mid + 1
      }
      (ppm, vals(lo), n)
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
    require(levels.nonEmpty, "levels must be nonempty")
    val cum = levels.scanLeft(0L)(_ + _._2).tail.toIndexedSeq
    val vals = levels.map(_._1).toIndexedSeq
    val n = cum.last
    def valueAtRank(rank: Long): Long = {
      val r = math.min(n - 1, math.max(0L, rank))
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) > r) hi = mid else lo = mid + 1
      }
      vals(lo)
    }
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
}
