package graft.meta

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** In-flight pipeline metrics via Spark's `observe` API — the
  * monitoring twin of the reference's MDS_METRIC status records
  * (MetricDetails.scala:99-145, per-load row/status counters), done the
  * Spark way: counters ride the pipeline's OWN pass as accumulators
  * (CollectMetrics), so a 100 TB curation run reports its row counts,
  * null rates and token totals without a second scan — where a separate
  * metrics query would re-read the corpus.
  *
  * Batch: [[observed]] + [[runAndCollect]] (or read
  * `queryExecution.observedMetrics` after any action on the same
  * QueryExecution). Streaming: the same `observe` column surfaces per
  * micro-batch in `StreamingQueryProgress.observedMetrics` — no extra
  * code path.
  *
  * Constraint (Spark's): observed aggregates cannot use DISTINCT or
  * grouping — count/sum/min/max/avg compositions only.
  */
object PipelineMetrics {

  /** EXACT distributed quantiles of an integral column — the
    * corpus-profiling step `percentile_approx` only approximates, made
    * exact by the same value-histogram trick the budget/binning
    * operators ride: one map-side-combined aggregation keyed on the
    * value (bounded by `maxLevels` — quantize continuous metrics to ppm
    * first), then every requested quantile reads off DISTRIBUTED
    * cumulative counts over the bounded histogram (a per-group window
    * whose input is capped by `maxLevels`). The driver receives only a
    * one-row validation summary, never the histogram — the pre-r21
    * driver-side lookup deserialized up to `maxLevels` rows per call.
    * Null and cast-null values are excluded (a null has no rank).
    *
    * Semantics: discrete lower quantile over the value order — the
    * value at 0-based rank `ceil(p * n) - 1` (clamped to [0, n-1]),
    * exactly DuckDB/Postgres `quantile_disc` / `percentile_disc`.
    * Returns one row per requested p: (p, value, n). Empty input
    * returns no rows. A FRACTIONAL value (a raw double where the
    * ppm/cents-quantized column was meant) fails loudly — a silently
    * truncating cast would return confidently-"exact" wrong quantiles. */
  def exactQuantiles(df: DataFrame, value: Column,
                     ps: Seq[Double],
                     maxLevels: Int = 1 << 20): DataFrame = {
    quantilePs(ps) // validate FIRST: bad ps must be loud on an empty
    // frame too, matching the per-group form (empty input flows through
    // the distributed lookup as zero rows)
    quantileLookupDisc(
        quantileHistogram(df, lit("__all"), value, maxLevels), ps)
      .select(col("p"), col("value"), col("n"))
  }

  /** [[exactQuantiles]] computed SEPARATELY within every group from ONE
    * (group, value) histogram pass — the per-domain profiling twin
    * ("p99 tokens per source"). Driver state: the bounded histogram
    * across all groups (`maxHistRows`, loud-fail). Returns one row per
    * (group, p): (group, p, value, n); groups come from the data. The
    * group column is COMPARED AND RETURNED AS A STRING (the per-group
    * budget/binning convention — join back on a string-cast key), and
    * rows whose group is null are dropped with the value-null rows. */
  def exactQuantilesPerGroup(df: DataFrame, group: Column, value: Column,
                             ps: Seq[Double],
                             maxHistRows: Int = 1 << 20): DataFrame = {
    quantilePs(ps)
    quantileLookupDisc(
        quantileHistogram(df, group, value, maxHistRows), ps)
      .select(col("g").as("group"), col("p"), col("value"), col("n"))
  }

  /** [[exactQuantiles]]' CONTINUOUS-interpolation twin — the
    * `percentile_cont` / DuckDB `quantile_cont` semantics most profiling
    * stacks default to: the value at fractional rank h = p*(n-1),
    * interpolated linearly between the integral-rank neighbors. Same
    * single histogram pass and driver lookup; only the finish differs.
    * Returns one row per p: (p, value DOUBLE, n). The interpolation is
    * `v_lo + frac * (v_hi - v_lo)` in double arithmetic; at
    * quarter-fraction fracs every term is exactly representable, so the
    * result is the exact rational — which is what lets the gate
    * hash-compare against DuckDB bit-for-bit. */
  def exactQuantilesCont(df: DataFrame, value: Column,
                         ps: Seq[Double],
                         maxLevels: Int = 1 << 20): DataFrame = {
    quantilePs(ps)
    quantileLookupCont(
        quantileHistogram(df, lit("__all"), value, maxLevels), ps)
      .select(col("p"), col("value"), col("n"))
  }

  /** [[exactQuantilesCont]] computed SEPARATELY within every group from
    * ONE (group, value) histogram pass — the continuous twin of
    * [[exactQuantilesPerGroup]], same group-as-string convention. */
  def exactQuantilesContPerGroup(df: DataFrame, group: Column, value: Column,
                                 ps: Seq[Double],
                                 maxHistRows: Int = 1 << 20): DataFrame = {
    quantilePs(ps)
    quantileLookupCont(
        quantileHistogram(df, group, value, maxHistRows), ps)
      .select(col("g").as("group"), col("p"), col("value"), col("n"))
  }

  /** EXACT WEIGHTED quantiles: the smallest value whose cumulative
    * weight reaches `clamp(ceil(p * W), 1, W)` over the value order,
    * where every row carries a non-negative integral weight (tokens,
    * bytes, cost) — "the quality level below which 25% of the TOKENS
    * sit", the curation-report form of [[exactQuantiles]] (which IS
    * this with weight 1: the histogram count is just a weight, so the
    * same [[graft.core.Refine.quantileValues]] lookup serves both).
    * One map-side-combined (value, sum weight) pass; returns one row
    * per p: (p, value, n) with n the TOTAL WEIGHT. Rows whose value or
    * weight is null/cast-null are dropped; fractional values or
    * weights fail loudly (the truncating-cast contract); negative
    * weights fail loudly (no coherent cumulative order). Zero-weight
    * rows are excluded naturally — they cannot host a quantile. */
  def exactQuantilesWeighted(df: DataFrame, value: Column, weight: Column,
                             ps: Seq[Double],
                             maxLevels: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = ppmOf(ps)
    // one output row per REQUESTED p, caller order, duplicates kept —
    // the ppm computation itself runs once per distinct ppm
    val byPpm = exactQuantilesWeightedPpm(df, value, weight,
        pairs.map(_._1).distinct, maxLevels)
      .collect().toSeq
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    if (byPpm.isEmpty) return Seq.empty[(Double, Long, Long)]
      .toDF("p", "value", "n")
    pairs.map { case (ppm, p) =>
      val (v, n) = byPpm(ppm); (p, v, n)
    }.toDF("p", "value", "n")
  }

  /** [[exactQuantilesWeighted]] with the quantile as an INTEGER ppm
    * fraction (the house quantization convention applied to p itself) —
    * the rank threshold is `clamp(ceil(W * ppm / 1e6), 1, W)` computed
    * in pure integer arithmetic ([[graft.core.Refine.quantileValuesPpm]]),
    * so the result is reproducible bit-for-bit across JVMs and
    * verifiable against any engine's BIGINT arithmetic — no
    * DOUBLE × weight product on either side. Returns one row per ppm:
    * (p_ppm, value, n) with n the TOTAL WEIGHT. */
  def exactQuantilesWeightedPpm(df: DataFrame, value: Column, weight: Column,
                                psPpm: Seq[Long],
                                maxLevels: Int = 1 << 20): DataFrame = {
    quantilePpms(psPpm)
    // zero-weight levels are excluded BEFORE the cumulative walk (they
    // cannot host a quantile), matching the driver form's filter
    quantileLookupPpm(
        quantileHistogram(df, lit("__all"), value, maxLevels, weight)
          .where(col("n") > 0),
        psPpm)
      .select(col("p_ppm"), col("value"), col("n"))
  }

  /** [[exactQuantilesWeighted]] computed SEPARATELY within every group
    * from ONE (group, value) weighted histogram pass. */
  def exactQuantilesWeightedPerGroup(df: DataFrame, group: Column,
                                     value: Column, weight: Column,
                                     ps: Seq[Double],
                                     maxHistRows: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = ppmOf(ps)
    // per group: one output row per REQUESTED p, caller order,
    // duplicates kept (same contract as the global form)
    val rows = exactQuantilesWeightedPerGroupPpm(df, group, value, weight,
        pairs.map(_._1).distinct, maxHistRows)
      .collect().toSeq
    val byKey = rows.map(r => (r.getString(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3)))).toMap
    rows.map(_.getString(0)).distinct.flatMap { g =>
      pairs.map { case (ppm, p) =>
        val (v, n) = byKey((g, ppm)); (g, p, v, n)
      }
    }.toDF("group", "p", "value", "n")
  }

  /** [[exactQuantilesWeightedPpm]]'s per-group twin — ONE weighted
    * histogram pass, integer-exact ranks. One row per (group, ppm):
    * (group, p_ppm, value, n). */
  def exactQuantilesWeightedPerGroupPpm(df: DataFrame, group: Column,
                                        value: Column, weight: Column,
                                        psPpm: Seq[Long],
                                        maxHistRows: Int = 1 << 20): DataFrame = {
    quantilePpms(psPpm)
    quantileLookupPpm(
        quantileHistogram(df, group, value, maxHistRows, weight)
          .where(col("n") > 0),
        psPpm)
      .select(col("g").as("group"), col("p_ppm"), col("value"), col("n"))
  }

  private def quantilePs(ps: Seq[Double]): Unit = {
    require(ps.nonEmpty, "ps must name at least one quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "quantiles in [0,1]")
  }

  private def quantilePpms(psPpm: Seq[Long]): Unit = {
    require(psPpm.nonEmpty, "psPpm must name at least one quantile")
    require(psPpm.forall(p => p >= 0L && p <= 1000000L),
      "quantiles in [0, 1000000] ppm")
  }

  /** The Double-p → ppm bridge for the weighted family: the integer
    * rank arithmetic needs p as an exact fraction, so a p that is not
    * a ppm multiple (the house quantization convention) fails loudly
    * rather than silently answering a nearby quantile. Returns the
    * (ppm, original-p) pairs IN CALLER ORDER, duplicates preserved —
    * the Double-p API's row contract is one output row per requested
    * p, in the order requested (a Map here would silently collapse
    * duplicate ps and re-sort the result). */
  private[meta] def ppmOf(ps: Seq[Double]): Seq[(Long, Double)] = {
    quantilePs(ps)
    ps.map { p =>
      val ppm = math.round(p * 1e6)
      require(math.abs(p * 1e6 - ppm) < 1e-6,
        s"p=$p is not a ppm-representable fraction — use the ppm form " +
          "(exactQuantilesWeightedPpm) for finer quantiles")
      ppm -> p
    }
  }

  /** One (g, v, n) histogram row per distinct (group, value) — the
    * single map-side-combined pass behind every exact-quantile flavor,
    * built by [[ProfileState.histogram]] (cast-null rows dropped, lossy
    * casts and negative weights flagged in the same pass; the
    * unweighted forms pass weight = 1). Validation (the row cap, the fractional-value and negative-weight
    * contracts) runs as ONE bounded action whose result is a 1-row
    * summary: the driver never receives the histogram itself. (The
    * pre-r21 form collected every level row to the driver — ~594k rows
    * per call at sf0.1, measured as the dominant cost of the quantile
    * gates, and pure driver-side deserialization at any scale.) The
    * frame is lazily checkpointed: the validation action materializes
    * it, and the distributed rank lookups below read cached blocks. */
  private def quantileHistogram(df: DataFrame, group: Column, value: Column,
                                maxRows: Int,
                                weight: Column = lit(1L)): DataFrame = {
    val hist = ProfileState.histogram(df, group, value, weight, "g", "v")
      .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
        "quantile histogram"))
    val s = hist
      .agg(count(lit(1)).as("rows"), max(col("lossy")).as("lossy"),
        min(col("wmin")).as("wmin"))
      .head()
    require(s.getLong(0) <= maxRows,
      s"more than $maxRows distinct (group, value) rows — quantize " +
        "the metric (ppm convention) or raise the cap")
    require(s.isNullAt(1) || s.getInt(1) == 0,
      "fractional values would be TRUNCATED by the long cast — quantize " +
        "the metric first (ppm/cents convention)")
    require(s.isNullAt(2) || s.getLong(2) >= 0L,
      "negative weights break the cumulative order — weights must be >= 0")
    hist.select(col("g"), col("v"), col("n"))
  }

  /** Per-group cumulative counts in value order plus the group total —
    * the distributed replacement for [[graft.core.Refine]]'s driver-side
    * scanLeft. The per-group window is bounded by the histogram cap
    * (`maxRows`), so the sort inside it is never corpus-sized.
    *
    * Above a size threshold the cumulative walk runs as a two-level
    * prefix sum (round 22): the single `partitionBy(g)` window put the
    * WHOLE histogram of a one-group gate through one task (measured at
    * sf0.1: 594k levels, a 1.2 s single-task sort+cumsum — the
    * dominant stage of every unweighted quantile gate). Instead the
    * levels range-partition by (g, v), each partition cumsums its own
    * slice, and a tiny per-(group, partition) totals frame — W×|groups|
    * rows — provides the additive offsets and group totals through one
    * broadcast. The cumulative count of a level is a sum of the same
    * Longs in the same value order whatever the partition boundaries,
    * so the output is bit-identical to the single-window form; small
    * histograms (the incremental gates' bounded state) keep the single
    * window and pay zero extra exchanges. */
  private def cumLevels(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cumsum work is cheap per byte (no kernel hashing), so the width
    // uses a 4 MB floor rather than the spread conf default
    val w = graft.dedup.Dedup.scaledWidth(hist, 1, 4L << 20)
    if (w <= 2) {
      val byV = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // group totals ride a SECOND window over the same partitioning
      // (whole-partition frame, no ordering requirement): both windows
      // share one exchange and one sort, where the previous aggregate +
      // broadcast-join form paid its own aggregation job and a
      // broadcast build per call — measured as two extra serial stages
      // per quantile gate at sf0.1 for the same number
      val whole = Window.partitionBy(col("g"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("cum", sum(col("n")).over(byV))
        .withColumn("__t", sum(col("n")).over(whole))
    } else {
      // consumed by the partition-totals build AND the cum pass — lazy
      // checkpoint so the range exchange runs once
      val ranged = hist.repartitionByRange(w, col("g"), col("v"))
        .withColumn("__pid", spark_partition_id())
        .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
          "quantile prefix-sum range partitions"))
      val off = Window.partitionBy(col("g")).orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = Window.partitionBy(col("g"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val offsets = ranged.groupBy(col("g"), col("__pid"))
        .agg(sum(col("n")).as("__pn"))
        .withColumn("__off", coalesce(sum(col("__pn")).over(off), lit(0L)))
        .withColumn("__t", sum(col("__pn")).over(tot))
        .select(col("g").as("__og"), col("__pid").as("__opid"),
          col("__off"), col("__t"))
      val byVInPart = Window.partitionBy(col("g"), col("__pid"))
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranged
        // pin the window's clustering exchange at w — AQE's byte-based
        // coalescing would otherwise fold the slim level rows back
        // into a couple of partitions and re-serialize the cumsum
        .repartition(w, col("g"), col("__pid"))
        .withColumn("__c", sum(col("n")).over(byVInPart))
        .join(broadcast(offsets),
          col("g") === col("__og") && col("__pid") === col("__opid"))
        .withColumn("cum", col("__off") + col("__c"))
        .select(col("g"), col("v"), col("n"), col("cum"), col("__t"))
    }
  }

  /** Distributed `percentile_disc` lookup over a (g, v, n) histogram:
    * one row per (group, requested p) — the value at 1-based rank
    * `clamp(ceil(p * N), 1, N)`, i.e. the unique level with
    * `cum - n < rank <= cum`. The rank arithmetic is the same
    * double-multiply-then-ceil [[graft.core.Refine.quantileValues]]
    * computes on the driver, evaluated per group in the executors.
    * Output: (g, p, value, n) ordered by (g, caller index) — one row
    * per REQUESTED p, duplicates kept. */
  private def quantileLookupDisc(hist: DataFrame,
                                 ps: Seq[Double]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val psDF = ps.zipWithIndex.toDF("p", "__i")
    cumLevels(hist)
      .join(broadcast(psDF))
      .withColumn("r",
        least(greatest(ceil(col("p") * col("__t")), lit(1L)), col("__t")))
      .where(col("cum") >= col("r") && col("cum") - col("n") < col("r"))
      // lazily checkpoint the ≤ |groups|·|ps| matches BEFORE ordering:
      // the orderBy's range partitioner SAMPLES its child, which would
      // otherwise re-execute the whole window chain a second time
      // (measured: two ~1 s single-task passes per call at sf0.1)
      .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
        "disc rank matches (pre-sort)"))
      .orderBy(col("g"), col("__i"))
      .select(col("g"), col("p"), col("v").as("value"), col("__t").as("n"))
  }

  /** Distributed continuous-interpolation lookup (`percentile_cont`):
    * per (group, p) the fractional rank h = p·(N−1) selects the two
    * clamped neighbor levels, interpolated `v_lo + frac·(v_hi − v_lo)`
    * in exactly [[graft.core.Refine.quantileValuesCont]]'s double
    * arithmetic. The tiny (group × p × 2) target frame broadcasts; the
    * histogram streams once. Output: (g, p, value DOUBLE, n). */
  private def quantileLookupCont(hist: DataFrame,
                                 ps: Seq[Double]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val psDF = ps.zipWithIndex.toDF("p", "__i")
    val totals = hist.groupBy(col("g")).agg(sum(col("n")).as("__t"))
    val targets = totals.join(broadcast(psDF))
      .withColumn("h", col("p") * (col("__t") - 1).cast("double"))
      .withColumn("lo", floor(col("h")))
      .withColumn("frac", col("h") - col("lo").cast("double"))
      .select(col("g").as("__tg"), col("p"), col("__i"), col("__t"),
        col("frac"),
        explode(array(
          struct(lit(0).as("which"), col("lo").as("rank0")),
          struct(lit(1).as("which"), (col("lo") + 1).as("rank0")))).as("t"))
      .select(col("__tg"), col("p"), col("__i"), col("__t"), col("frac"),
        col("t.which").as("which"),
        (least(greatest(col("t.rank0"), lit(0L)), col("__t") - 1) + 1)
          .as("rr"))
    cumLevels(hist)
      // the cum side's own total is dropped — targets carry the one the
      // interpolation needs, and duplicate names are ambiguous
      .select(col("g"), col("v"), col("n"), col("cum"))
      .join(broadcast(targets),
        col("g") === col("__tg") &&
          col("cum") >= col("rr") && col("cum") - col("n") < col("rr"))
      .groupBy(col("g"), col("p"), col("__i"))
      .agg(
        min(when(col("which") === 0, col("v"))).as("v_lo"),
        min(when(col("which") === 1, col("v"))).as("v_hi"),
        first(col("frac")).as("frac"), first(col("__t")).as("__t"))
      // see quantileLookupDisc: break the orderBy sampler's
      // re-execution of the window + join chain
      .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
        "cont rank matches (pre-sort)"))
      .orderBy(col("g"), col("__i"))
      .select(col("g"), col("p"),
        when(col("frac") === 0.0, col("v_lo").cast("double"))
          .otherwise(col("v_lo").cast("double") +
            col("frac") * (col("v_hi") - col("v_lo")).cast("double"))
          .as("value"),
        col("__t").as("n"))
  }

  /** Distributed integer-ppm rank lookup (the WEIGHTED house form):
    * 1-based rank `clamp(ceil(N * ppm / 1e6), 1, N)` computed in pure
    * Long arithmetic via `N = q·1e6 + rem` (so `rank = q·ppm +
    * ceil(rem·ppm/1e6)` — both terms Long-safe at any corpus weight,
    * matching [[graft.core.Refine.quantileValuesPpm]]'s BigInt result
    * exactly). Zero-weight levels are excluded by the callers before
    * the cumulative walk, as in the driver form. Output:
    * (g, p_ppm, value, n). */
  private def quantileLookupPpm(hist: DataFrame,
                                psPpm: Seq[Long]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val psDF = psPpm.zipWithIndex.toDF("p_ppm", "__i")
    cumLevels(hist)
      .join(broadcast(psDF))
      .withColumn("r", least(greatest(
        expr("__t div 1000000") * col("p_ppm") +
          expr("((__t % 1000000) * p_ppm + 999999) div 1000000"),
        lit(1L)), col("__t")))
      .where(col("cum") >= col("r") && col("cum") - col("n") < col("r"))
      // see quantileLookupDisc: break the orderBy sampler's
      // re-execution of the window chain
      .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
        "ppm rank matches (pre-sort)"))
      .orderBy(col("g"), col("__i"))
      .select(col("g"), col("p_ppm"), col("v").as("value"),
        col("__t").as("n"))
  }

  /** Attach named counters to a frame without changing its rows. */
  def observed(df: DataFrame, name: String,
               metrics: Seq[(String, Column)]): DataFrame = {
    require(metrics.nonEmpty, "at least one metric")
    val cols = metrics.map { case (n, c) => c.as(n) }
    df.observe(name, cols.head, cols.tail: _*)
  }

  /** Standard corpus counters for a documents frame. */
  def corpusCounters(text: Column): Seq[(String, Column)] = Seq(
    "n_docs" -> count(lit(1)),
    "n_null_text" -> count(when(text.isNull, 1)),
    "total_chars" -> coalesce(sum(length(text)), lit(0L)).cast("long"))

  /** Execute the frame (no rows collected — the plan runs through a
    * foreach sink) and return every observation's metric row by name.
    * One action; the metrics are exact, not sampled. */
  def runAndCollect(df: DataFrame): Map[String, Row] = {
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())
    qe.observedMetrics
  }

  /** Standing-index health after an append: the two signals that say
    * "this index needs a rebuild/compaction" —
    *
    *  - `skew` (max/avg list size): appends assign into lists trained
    *    at build time, so as the data distribution drifts the hot lists
    *    grow unboundedly while query cost is paced by the largest
    *    probed list;
    *  - `files` (parquet files under the table dir): every append adds
    *    one file per touched bucket, and Spark stops trusting per-bucket
    *    SORT once buckets hold multiple files — compaction restores the
    *    sorted-merge property.
    *
    * Grouped maxima are outside `observe`'s aggregate constraint (no
    * grouping allowed), so this is a dedicated probe rather than a
    * rider — but a slim one: it scans ONLY the index's key column
    * (column-pruned bucketed parquet), never signatures or vectors. */
  case class IndexHealth(rows: Long, keys: Long, maxList: Long,
                         avgList: Double, skew: Double, files: Int,
                         generation: Long = 0L) {
    override def toString: String =
      f"rows=$rows keys=$keys maxList=$maxList avgList=$avgList%.1f " +
        f"skew=$skew%.1f files=$files gen=$generation"
  }

  /** Probe `index`'s per-`key` list-size distribution + the file count
    * under `dir` (both appended tables in this library keep their files
    * directly under the table directory). The listing goes through the
    * session's Hadoop FileSystem, not java.io.File — an HDFS/S3 index
    * path would otherwise silently report files = 0 forever and the
    * compaction signal would never fire. */
  def indexHealth(index: DataFrame, key: Column, dir: String): IndexHealth = {
    val r = index.groupBy(key).count()
      .agg(coalesce(sum(col("count")), lit(0L)).as("rows"),
        count(lit(1)).as("keys"),
        coalesce(max(col("count")), lit(0L)).as("max"),
        coalesce(avg(col("count")), lit(0.0)).as("avg"))
      .head()
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(
      index.sparkSession.sparkContext.hadoopConfiguration)
    val files =
      if (fs.exists(hp))
        fs.listStatus(hp).count(_.getPath.getName.endsWith(".parquet"))
      else 0
    val (rows, keys, mx, av) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    IndexHealth(rows, keys, mx, av, if (av == 0.0) 0.0 else mx / av, files)
  }
}
