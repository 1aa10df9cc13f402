package graft.meta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rolling-corpus profiling state: the (group, value) histogram behind
  * [[PipelineMetrics.exactQuantiles]] persisted as generation-versioned
  * parquet ([[graft.core.GenState]]), so a corpus that grows by appends
  * answers EXACT quantiles and counts at any commit WITHOUT re-scanning
  * ingested data — the profiling twin of [[graft.text.BudgetSelect]]'s
  * budget state, sharing its whole persistence discipline:
  *
  *  - ingest writes the histogram once, each batch FOLDS in with one
  *    batch-only aggregation (the existing corpus is never re-read);
  *  - commits are crash-atomic generations — a bad batch (fractional
  *    values, cap overflow) or a crashed write leaves the previous
  *    valid state current; concurrent appenders collide loudly;
  *  - streaming folds are effectively-once ([[appendProfileStateBatch]]
  *    — the batchId rides the committing generation's name; replays
  *    skip via the watermark), wired by
  *    [[graft.streaming.StreamingIngest.profileStateFold]];
  *  - quantile answers come off the state ALONE — zero corpus passes:
  *    at 100 TB, "p99 tokens per source right now" is a driver read of
  *    a manifest-class table.
  *
  * The state histogram is EXACT, not a sketch: the value must be
  * integral under the house ppm/cents convention (a fractional value
  * fails the fold loudly — the [[PipelineMetrics]] contract), and the
  * distinct (group, value) count is capped at `maxHistRows`
  * (loud-fail). Within those bounds every quantile read is exact —
  * where a mergeable sketch (t-digest/KLL) would trade that exactness
  * for unbounded cardinality, the quantized-value histogram keeps both
  * bounded size AND exactness, which is what the DuckDB gates verify.
  *
  * Group convention: compared and stored as STRING (the budget-state
  * convention); ungrouped forms run under one constant group.
  */
object ProfileState {

  private val allGroup = "__all"

  private val stateSchema = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    StructType(Seq(StructField("group", StringType, nullable = false),
      StructField("value", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
  }

  /** The batch histogram with the lossy-cast flags riding the same
    * pass: cast-null groups/values/weights drop (the null-has-no-rank
    * contract), and a value or weight that survives try_cast by
    * TRUNCATING — or a negative weight — is detected here so the fold
    * can fail loudly instead of skewing the state. The unweighted forms
    * pass weight = 1, where the extra checks are vacuous; a WEIGHTED
    * state's `n` is the level's total weight (token mass), which is
    * exactly what the quantile lookup consumes. Shared with
    * [[PipelineMetrics]]' one-shot quantiles, which name the key
    * columns `g` and `v`. */
  private[meta] def histogram(df: DataFrame, group: Column, value: Column,
                              weight: Column, groupAs: String = "group",
                              valueAs: String = "value"): DataFrame = {
    val gS = group.cast("string")
    val vL = value.try_cast("long")
    val wL = weight.try_cast("long")
    val lossy = greatest(
      when(value.cast("double") =!= vL.cast("double"), 1).otherwise(0),
      when(weight.cast("double") =!= wL.cast("double"), 1).otherwise(0))
    df.where(gS.isNotNull && vL.isNotNull && wL.isNotNull)
      .groupBy(gS.as(groupAs), vL.as(valueAs))
      .agg(sum(wL).as("n"), max(lossy).as("lossy"), min(wL).as("wmin"))
  }

  /** Collect + validate (cap, lossy) strictly BEFORE any write; the
    * rows then commit as the next generation. */
  private def validated(hist: DataFrame,
                        maxHistRows: Int): Seq[org.apache.spark.sql.Row] = {
    val rows = hist.limit(maxHistRows + 1).collect()
    require(rows.length <= maxHistRows,
      s"more than $maxHistRows distinct (group, value) rows — quantize " +
        "the metric (ppm/cents convention) or raise the cap")
    require(rows.forall(_.getInt(3) == 0),
      "fractional values or weights would be TRUNCATED by the long " +
        "cast — quantize the metric first (ppm/cents convention)")
    require(rows.forall(_.getLong(4) >= 0L),
      "negative weights break the cumulative order — weights must be >= 0")
    rows.toSeq.map(r =>
      org.apache.spark.sql.Row(r.getString(0), r.getLong(1), r.getLong(2)))
  }

  /** Persist the corpus's (group, value) histogram as profile state.
    * A non-unit `weight` makes the state WEIGHTED (n = level token
    * mass) — the rolling twin of
    * [[PipelineMetrics.exactQuantilesWeighted]]. */
  def writeProfileStatePerGroup(df: DataFrame, group: Column, value: Column,
                                path: String,
                                maxHistRows: Int = 1 << 20,
                                weight: Column = lit(1L)): Unit =
    graft.core.GenState.commit(df.sparkSession,
      validated(histogram(df, group, value, weight), maxHistRows),
      stateSchema, path)

  /** Ungrouped [[writeProfileStatePerGroup]] (one constant group). */
  def writeProfileState(df: DataFrame, value: Column, path: String,
                        maxLevels: Int = 1 << 20,
                        weight: Column = lit(1L)): Unit =
    writeProfileStatePerGroup(df, lit(allGroup), value, path, maxLevels,
      weight)

  /** Fold a batch's histogram into existing state — one batch-only
    * aggregation plus a merge of two manifest-class tables; loud on a
    * missing/foreign path (explicit initialization is [[writeProfileState]]'s
    * job — only the STREAMING form cold-starts implicitly). */
  def appendProfileStatePerGroup(batch: DataFrame, group: Column,
                                 value: Column, path: String,
                                 maxHistRows: Int = 1 << 20,
                                 weight: Column = lit(1L)): Unit =
    appendFold(batch, group, value, weight, path, maxHistRows,
      batchId = None)

  /** Ungrouped [[appendProfileStatePerGroup]]. */
  def appendProfileState(batch: DataFrame, value: Column, path: String,
                         maxLevels: Int = 1 << 20,
                         weight: Column = lit(1L)): Unit =
    appendProfileStatePerGroup(batch, lit(allGroup), value, path, maxLevels,
      weight)

  /** Effectively-once streaming fold (the
    * [[graft.text.BudgetSelect.appendBudgetStateBatch]] discipline):
    * the committing generation carries `batchId` in its name, a batch
    * at or below the surviving watermark is skipped, and missing state
    * initializes from the first batch. Returns true when applied. */
  def appendProfileStatePerGroupBatch(batch: DataFrame, group: Column,
                                      value: Column, path: String,
                                      batchId: Long,
                                      maxHistRows: Int = 1 << 20,
                                      weight: Column = lit(1L)): Boolean =
    appendFold(batch, group, value, weight, path, maxHistRows,
      batchId = Some(batchId))

  /** Ungrouped [[appendProfileStatePerGroupBatch]]. */
  def appendProfileStateBatch(batch: DataFrame, value: Column, path: String,
                              batchId: Long,
                              maxLevels: Int = 1 << 20,
                              weight: Column = lit(1L)): Boolean =
    appendProfileStatePerGroupBatch(batch, lit(allGroup), value, path,
      batchId, maxLevels, weight)

  /** The fold behind every append ([[graft.core.GenState.fold]] —
    * replay skip and streaming cold-start). */
  private def appendFold(batch: DataFrame, group: Column, value: Column,
                         weight: Column, path: String, maxHistRows: Int,
                         batchId: Option[Long]): Boolean =
    graft.core.GenState.fold(batch.sparkSession, path, stateSchema,
        batchId) { existing =>
      val batchHist = histogram(batch, group, value, weight)
      validated(existing.fold(batchHist)(
        _.select(col("group"), col("value"), col("n"))
          // persisted state is already validated
          .withColumn("lossy", lit(0)).withColumn("wmin", lit(0L))
          .unionByName(batchHist)
          .groupBy(col("group"), col("value"))
          .agg(sum(col("n")).as("n"), max(col("lossy")).as("lossy"),
            min(col("wmin")).as("wmin"))), maxHistRows)
    }

  /** Read the CURRENT profile state (latest valid generation). The read
    * contract — do not read the root path directly as parquet. */
  def readProfileState(spark: SparkSession, path: String): DataFrame =
    graft.core.GenState.read(spark, path)
      .select(col("group"), col("value"), col("n"))

  /** The streaming replay watermark ([[graft.core.GenState.batchWatermark]]). */
  def stateBatchWatermark(spark: SparkSession, path: String): Option[Long] =
    graft.core.GenState.batchWatermark(spark, path)

  /** EXACT per-group quantiles answered from state ALONE — zero corpus
    * passes. Same `quantile_disc` semantics and result shape as
    * [[PipelineMetrics.exactQuantilesPerGroup]]: one row per
    * (group, p): (group, p, value, n). */
  def exactQuantilesPerGroupFromState(spark: SparkSession, path: String,
                                      ps: Seq[Double],
                                      maxHistRows: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    require(ps.nonEmpty, "ps must name at least one quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "quantiles in [0,1]")
    collectState(spark, path, maxHistRows)
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        val levels = rows.map(r => (r._2, r._3)).sortBy(_._1)
        graft.core.Refine.quantileValues(levels, ps)
          .map { case (p, v, n) => (g, p, v, n) }
      }.toDF("group", "p", "value", "n")
  }

  /** Ungrouped [[exactQuantilesPerGroupFromState]]: (p, value, n). */
  def exactQuantilesFromState(spark: SparkSession, path: String,
                              ps: Seq[Double],
                              maxLevels: Int = 1 << 20): DataFrame =
    exactQuantilesPerGroupFromState(spark, path, ps, maxLevels)
      .where(col("group") === allGroup)
      .select(col("p"), col("value"), col("n"))

  /** The INTEGER-ppm quantile read
    * ([[PipelineMetrics.exactQuantilesWeightedPpm]] semantics — rank in
    * pure integer arithmetic, bit-reproducible across JVMs): one row
    * per (group, ppm): (group, p_ppm, value, n). The natural read for
    * WEIGHTED state, where n is token mass and a DOUBLE × weight rank
    * product would be both JVM-fragile and 2^53-bounded. */
  def exactQuantilesPerGroupPpmFromState(spark: SparkSession, path: String,
                                         psPpm: Seq[Long],
                                         maxHistRows: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    require(psPpm.nonEmpty, "psPpm must name at least one quantile")
    require(psPpm.forall(p => p >= 0L && p <= 1000000L),
      "quantiles in [0, 1000000] ppm")
    collectState(spark, path, maxHistRows)
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        val levels = rows.map(r => (r._2, r._3)).sortBy(_._1)
        graft.core.Refine.quantileValuesPpm(levels, psPpm)
          .map { case (p, v, n) => (g, p, v, n) }
      }.toDF("group", "p_ppm", "value", "n")
  }

  /** Ungrouped [[exactQuantilesPerGroupPpmFromState]]: (p_ppm, value, n). */
  def exactQuantilesPpmFromState(spark: SparkSession, path: String,
                                 psPpm: Seq[Long],
                                 maxLevels: Int = 1 << 20): DataFrame =
    exactQuantilesPerGroupPpmFromState(spark, path, psPpm, maxLevels)
      .where(col("group") === allGroup)
      .select(col("p_ppm"), col("value"), col("n"))

  /** The continuous-interpolation twin ([[PipelineMetrics.exactQuantilesCont]]
    * semantics) from state alone: (group, p, value DOUBLE, n). */
  def exactQuantilesContPerGroupFromState(spark: SparkSession, path: String,
                                          ps: Seq[Double],
                                          maxHistRows: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    require(ps.nonEmpty, "ps must name at least one quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "quantiles in [0,1]")
    collectState(spark, path, maxHistRows)
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        val levels = rows.map(r => (r._2, r._3)).sortBy(_._1)
        graft.core.Refine.quantileValuesCont(levels, ps)
          .map { case (p, v, n) => (g, p, v, n) }
      }.toDF("group", "p", "value", "n")
  }

  /** Distribution-drift report between two profile states — "what did
    * this ingest wave (or corpus version bump) do to the data?"
    * answered as a DRIVER READ of two manifest-class tables, no corpus
    * touched: one row per (group, p) over the UNION of the states'
    * groups, carrying each side's count and discrete quantile value
    * plus the value shift. A group present in only one state reports
    * the other side's columns as null (and a null shift) — the
    * new-source / retired-source signal. Typical rolling use: keep the
    * pre-ingest state dir, fold the wave into a copy, diff the two. */
  def profileDrift(spark: SparkSession, pathA: String, pathB: String,
                   ps: Seq[Double],
                   maxHistRows: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    require(ps.nonEmpty, "ps must name at least one quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "quantiles in [0,1]")
    def side(path: String): Map[(String, Double), (Long, Long)] =
      collectState(spark, path, maxHistRows)
        .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
          val levels = rows.map(r => (r._2, r._3)).sortBy(_._1)
          graft.core.Refine.quantileValues(levels, ps)
            .map { case (p, v, n) => (g, p) -> (v, n) }
        }.toMap
    val a = side(pathA)
    val b = side(pathB)
    (a.keySet ++ b.keySet).toSeq.sorted.map { key =>
      val (g, p) = key
      val av = a.get(key)
      val bv = b.get(key)
      (g, p, av.map(_._2), av.map(_._1), bv.map(_._2), bv.map(_._1),
        for (x <- av; y <- bv) yield y._1 - x._1)
    }.toDF("group", "p", "n_a", "value_a", "n_b", "value_b", "shift")
  }

  private def collectState(spark: SparkSession, path: String,
                           maxHistRows: Int): Seq[(String, Long, Long)] = {
    val rows = readProfileState(spark, path).limit(maxHistRows + 1).collect()
    require(rows.length <= maxHistRows,
      s"profile state at $path exceeds $maxHistRows rows")
    // zero-mass levels (possible in a weighted state) cannot host a
    // quantile and are excluded from the lookup, like everywhere else
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 > 0L)
  }
}
