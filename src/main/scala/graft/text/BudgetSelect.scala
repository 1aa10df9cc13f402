package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType}

import graft.core.Refine

/** Token-budget corpus selection: keep the highest-quality documents
  * whose cumulative cost (tokens) fits a budget — the curation step that
  * turns "score every document" ([[TextOps]]) into "the best N tokens
  * for this training run".
  *
  * Semantics are the exact greedy prefix: order the corpus by
  * (quality DESC, id ASC) and keep every row whose INCLUSIVE running
  * cost sum is ≤ budget. Costs are non-negative, so the kept set is a
  * prefix of that order — the same answer as the obvious
  * `SUM(cost) OVER (ORDER BY quality DESC, id)` window, which is NOT how
  * it is computed:
  *
  * Scale shape (100 TB): a global running sum is a total-order sort plus
  * a single-task window — the canonical unscalable plan. Instead the
  * selection threshold is found by HISTOGRAM CUTOFF:
  *
  *  1. one aggregation keyed on the quality level (map-side combined;
  *     bounded by `maxQualityLevels` — the house ppm convention gives
  *     ≤ 1e6+1 levels) → the driver finds the boundary level q*: every
  *     level above it is kept whole, every level below dropped whole —
  *     a narrow filter, no sort;
  *  2. only the SINGLE boundary level needs row resolution: its slim
  *     (id, cost) rows are checkpointed once and the cut inside it
  *     resolves through [[graft.core.Refine.refineCuts]], the id-chunk
  *     cost refinement shared with [[Binning]] — the span shrinks
  *     ×`fanout` per round (≤ ~6 rounds cover the full Long id range),
  *     and the last ≤ `smallCap` rows resolve with one running-sum
  *     window partitioned by the cut, collected as ONE row;
  *  3. the kept set is ONE map-side filter over the corpus: a row is
  *     kept unless it is after its group's boundary (level, id, open) —
  *     a broadcast join, no sort and no window in the output plan.
  *
  * Driver state is the level histogram (≤ maxQualityLevels slim rows —
  * manifest-class, tens of MB at the 1M-level worst case; quantize
  * coarser if that is too much) plus ≤ fanout chunk rows per round and
  * one boundary per group. Nothing scales with corpus size.
  *
  * Preconditions (the [[Sampling.takePerGroup]] discipline):
  *  - `quality` is an INTEGRAL score (the ppm house convention —
  *    `round(x * 1e6)` a continuous score first); it is cast to long.
  *  - `cost` is integral and NON-NEGATIVE (token counts); negative costs
  *    break prefix monotonicity and throw.
  *  - `id` is integral and unique; ties on (quality, id) would make the
  *    boundary cut nondeterministic.
  *  - Rows whose id, quality, or cost is null AFTER the long cast are
  *    DROPPED (raw nulls, and values that cannot cast — e.g. a string
  *    score under non-ANSI): a null has no place in a total order, and
  *    every engine orders/sums it differently — no coherent greedy
  *    semantics exists for them.
  *  - Computed quality/cost columns are evaluated a CONSTANT number of
  *    times (the histogram pass, the one boundary-frame build, and the
  *    kept filter — 3 corpus passes): refinement rounds run against a
  *    localCheckpointed slim boundary frame, never the raw corpus plan,
  *    so an expensive score is never re-paid per round.
  */
object BudgetSelect {

  /** Keep the greedy quality-prefix of `df` whose cost sum fits
    * `budget`. Returns the kept rows with `df`'s columns unchanged (row
    * order unspecified, like any filter). */
  def budgetSelect(df: DataFrame, id: Column, quality: Column, cost: Column,
                   budget: Long, maxQualityLevels: Int = 1 << 20): DataFrame = {
    require(budget >= 0L, "budget must be >= 0")
    budgetSelectImpl(df, id, quality, cost, _ => budget, maxQualityLevels,
      fanout = 4096, smallCap = 1 << 16)
  }

  /** [[budgetSelect]] with the budget as a fraction of the corpus's own
    * total cost — "keep the best 25% of tokens". The budget is
    * `floor(fraction * total)` computed in double (exact below 2^53
    * total cost — every physical corpus; the DuckDB-oracle-portable
    * arithmetic), with the total read off the level histogram the
    * selection needs anyway — no extra corpus pass. */
  def budgetSelectFraction(df: DataFrame, id: Column, quality: Column,
                           cost: Column, fraction: Double,
                           maxQualityLevels: Int = 1 << 20): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction in [0,1]")
    budgetSelectImpl(df, id, quality, cost,
      total => math.floor(fraction * total.toDouble).toLong,
      maxQualityLevels, fanout = 4096, smallCap = 1 << 16)
  }

  /** Keep EXACTLY the best `m` rows of `df` by (quality DESC, id ASC) —
    * exact global top-m selection at ANY m (billions included), where
    * `orderBy.limit(m)` stops being an option: Spark's global limit
    * materializes m rows through a single task, and a ranking window is
    * the single-task sort this module exists to avoid. Implemented as
    * [[budgetSelect]] with unit cost — a budget of m unit-cost rows IS
    * the m-row prefix — so it inherits the histogram-cutoff scale shape
    * and the checkpointed boundary refinement verbatim. */
  def takeTop(df: DataFrame, id: Column, quality: Column,
              m: Long, maxQualityLevels: Int = 1 << 20): DataFrame = {
    require(m >= 0L, "m must be >= 0")
    budgetSelect(df, id, quality, lit(1L), m, maxQualityLevels)
  }

  /** Exact global top-m for SMALL m over a HIGH-CARDINALITY quality
    * key — the complement of [[takeTop]]: takeTop resolves through the
    * quality-LEVEL histogram (`maxQualityLevels` driver rows), which
    * is the right plan when m is huge but quality sits on a bounded
    * grid (the house ppm convention). A composed sort key (e.g.
    * `score * 2e9 + rank` — every row distinct) makes that histogram
    * the full distinct key set: loud-fail at corpus scale. For small
    * m the size-m heap aggregate is the plan you want — O(m) per
    * partition partials, one merge, no driver state, no sort
    * ([[takeTopPerGroupUniform]] under one constant group). Same
    * (quality DESC, id ASC) greedy contract; `id` duplicate-free. */
  def takeTopSmall(df: DataFrame, id: Column, quality: Column, m: Long,
                   maxM: Int = 1 << 20): DataFrame =
    takeTopPerGroupUniform(df, lit("__all"), id, quality, m, maxM)

  /** [[takeTop]] computed SEPARATELY within every group — "the best
    * m_g documents per source" at any m, without the per-group ranking
    * window whose single hottest group would own the job's wall clock:
    * [[budgetSelectPerGroup]] with unit cost, so every group's m-row
    * prefix resolves through the shared histogram cutoff and all
    * groups' boundaries refine together. Groups absent from `ms` are
    * dropped (the mixture-spec rate-0 default). */
  def takeTopPerGroup(df: DataFrame, group: Column, id: Column,
                      quality: Column, ms: Map[String, Long],
                      maxHistRows: Int = 1 << 20): DataFrame = {
    require(ms.nonEmpty, "ms must name at least one group")
    require(ms.values.forall(_ >= 0L), "m must be >= 0")
    budgetSelectPerGroup(df, group, id, quality, lit(1L), ms, maxHistRows)
  }

  /** Uniform per-group top-m — "at most m best docs per DOMAIN", the
    * crawl diversity cap — with the groups DISCOVERED from the data
    * and NEVER enumerated anywhere: ONE groupBy whose aggregation
    * buffer is a size-m heap of (quality, id) keys
    * ([[graft.ops.BoundedTopMAgg]], the bounded_collect pattern), then
    * one semi-join back to `df`. O(m) memory per group per partial,
    * ZERO driver state — tens of millions of hosts cost the cluster
    * m keys each and the driver nothing (this replaced a
    * distinct-collect of the group keys that loud-failed at 2²⁰
    * groups, i.e. below real crawl host counts). Map-side partials
    * mean a hot host collapses to m entries before the shuffle.
    *
    * Keeps, per non-null group, the m best rows by (quality DESC,
    * id ASC); rows with a null quality or id drop (the family's
    * null-drop contract). `id` must be duplicate-free (it is the
    * tiebreak and the join-back key — the same assumption the
    * refinement family makes). TWO passes over `df` (aggregate +
    * join-back): persist an EXPENSIVE upstream (a parse/extract
    * chain, a join) before calling — re-scanning a parquet column is
    * fine, re-running an ingest pipeline twice is not (the
    * crawl_pipeline gate's 13s-vs-1s lesson).
    *
    * `maxPerGroup` bounds the heap a single group may hold (the
    * buffer IS per-group state); a uniform diversity cap is small by
    * construction — for corpus-scale per-group budgets use
    * [[takeTopPerGroup]]/[[budgetSelectPerGroup]], whose histogram
    * refinement never buffers a group. */
  def takeTopPerGroupUniform(df: DataFrame, group: Column, id: Column,
                             quality: Column, m: Long,
                             maxPerGroup: Int = 1 << 20): DataFrame = {
    require(m >= 0L, "m must be >= 0")
    require(m <= maxPerGroup,
      s"m=$m exceeds maxPerGroup=$maxPerGroup — the top-m heap is the " +
        "aggregation buffer; for large per-group quotas use " +
        "takeTopPerGroup, whose histogram refinement never buffers a group")
    if (m == 0L) return df.limit(0)
    val kept = df
      .where(group.isNotNull)
      .groupBy(group.cast("string").as("__tg"))
      .agg(graft.ops.BoundedTopM.topM(
        org.apache.spark.sql.functions.struct(
          quality.as("__q"), id.as("__id")),
        m.toInt, Seq(true, false)).as("__top"))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("__top")).as("__k"))
      .select(org.apache.spark.sql.functions.col("__k.__id").as("__tid"))
    df.join(kept, id === kept("__tid"), "left_semi")
  }

  /** Test-seam form: `fanout` (id chunks per refinement round) and
    * `smallCap` (max rows the final window may see) shrink in the spec
    * to force deep refinement on a 200-row corpus. */
  private[graft] def budgetSelectImpl(df: DataFrame, id: Column,
                                      quality: Column, cost: Column,
                                      budget: Long, maxQualityLevels: Int,
                                      fanout: Int, smallCap: Int): DataFrame = {
    require(budget >= 0L, "budget must be >= 0")
    budgetSelectImpl(df, id, quality, cost, _ => budget, maxQualityLevels,
      fanout, smallCap)
  }

  /** Core: `budgetOfTotal` maps the corpus's total cost (read off the
    * level histogram — no extra pass) to the absolute budget, so the
    * fraction form shares every pass with the absolute form.
    *
    * Implemented as the per-group core with one constant group: the
    * per-group machinery localCheckpoints the slim boundary frame
    * (cursor, id, cost) ONCE, so every refinement round scans that
    * checkpointed frame — never the raw corpus plan. The corpus-plan
    * expressions (quality/cost kernels) are therefore evaluated a
    * CONSTANT number of times (histogram + the one boundary-frame
    * build + the kept filter), independent of the
    * O(log_fanout(id-span)) round count; and the one exact window runs
    * partitioned by the cut over the ≤ smallCap remainder. */
  private def budgetSelectImpl(df: DataFrame, id: Column,
                               quality: Column, cost: Column,
                               budgetOfTotal: Long => Long,
                               maxQualityLevels: Int,
                               fanout: Int, smallCap: Int): DataFrame =
    budgetSelectPerGroupCore(df, lit(allGroup), id, quality, cost,
      Set(allGroup),
      totals => totals.map { case (g, t) =>
        val b = budgetOfTotal(t)
        require(b >= 0L, "budget must be >= 0")
        g -> b
      },
      maxQualityLevels, fanout, smallCap)

  /** The constant group name the ungrouped form runs under. */
  private val allGroup = "__all"

  // ── Per-group budgets ──────────────────────────────────────────────

  /** [[budgetSelect]] with a SEPARATE budget per group — the
    * mixture-spec curation step ("web gets 500 B tokens, code 200 B,
    * …"): within every group, keep the greedy (quality DESC, id ASC)
    * prefix whose cost fits that group's budget. Rows whose group is
    * not in `budgets` are dropped (the [[Sampling.mixBySource]]
    * rate-0 default); the group column is compared as a string.
    *
    * Same histogram-cutoff scale shape as the ungrouped form, run for
    * ALL groups in parallel: ONE (group, level) histogram pass finds
    * every group's boundary level on the driver; the boundary rows of
    * every still-unresolved group then refine TOGETHER — each round is
    * one aggregation over the single slim pending frame, with
    * per-group chunk widths riding a broadcast frame, so the round
    * count is the WORST group's O(log_fanout(idspan)), not the sum.
    * Groups whose remainder fits `smallCap` rows drop out into one
    * final bounded per-group window ([[graft.core.Refine.refineCuts]]).
    * Driver state: the level histogram (`maxHistRows` cap across all
    * groups) + `fanout` rows per group per round + the budget map and
    * one boundary per group — all independent of corpus size. `budgets`
    * must be driver-small (a mixture spec is dozens of entries, not
    * millions).
    *
    * The refinement carries only (cursor, id, cost): the result is one
    * filter of the input against the broadcast per-group boundaries,
    * so it references no refinement checkpoint.
    */
  def budgetSelectPerGroup(df: DataFrame, group: Column, id: Column,
                           quality: Column, cost: Column,
                           budgets: Map[String, Long],
                           maxHistRows: Int = 1 << 20): DataFrame =
    budgetSelectPerGroupImpl(df, group, id, quality, cost, budgets,
      maxHistRows, fanout = 4096, smallCap = 1 << 16)

  /** [[budgetSelectPerGroup]] with each group's budget as a fraction of
    * that group's OWN total cost — "keep the best 30% of every domain's
    * tokens". Per-group totals come off the (group, level) histogram
    * the selection collects anyway (no extra pass); each budget is
    * `floor(fraction_g * total_g)` in the same oracle-portable double
    * arithmetic as [[budgetSelectFraction]]. Groups absent from
    * `fractions` are dropped. */
  def budgetSelectPerGroupFraction(df: DataFrame, group: Column, id: Column,
                                   quality: Column, cost: Column,
                                   fractions: Map[String, Double],
                                   maxHistRows: Int = 1 << 20): DataFrame = {
    require(fractions.nonEmpty, "fractions must name at least one group")
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions in [0,1]")
    budgetSelectPerGroupCore(df, group, id, quality, cost,
      fractions.keySet,
      totals => totals.map { case (g, t) =>
        g -> math.floor(fractions(g) * t.toDouble).toLong
      },
      maxHistRows, fanout = 4096, smallCap = 1 << 16)
  }

  private[graft] def budgetSelectPerGroupImpl(
      df: DataFrame, group: Column, id: Column, quality: Column,
      cost: Column, budgets: Map[String, Long], maxHistRows: Int,
      fanout: Int, smallCap: Int): DataFrame = {
    require(budgets.nonEmpty, "budgets must name at least one group")
    require(budgets.values.forall(_ >= 0L), "budgets must be >= 0")
    budgetSelectPerGroupCore(df, group, id, quality, cost,
      budgets.keySet, _ => budgets, maxHistRows, fanout, smallCap)
  }

  // ── Persisted budget state (rolling-corpus cutoffs) ────────────────

  /** Persist the quality-level histogram — the ONE corpus-wide
    * aggregation [[budgetSelect]] needs — as parquet state
    * `(q_level, total_cost, min_cost)`, so a rolling corpus can update
    * its budget cutoff incrementally: ingest appends fold each batch's
    * histogram into the state ([[appendBudgetState]]), and
    * [[budgetSelectFromState]] runs the selection WITHOUT re-scanning
    * the corpus for the histogram. State size is bounded by the ppm
    * level convention (≤ maxQualityLevels slim rows — manifest-class),
    * the same bucketBy-free pattern as the minhash index manifests.
    *
    * `id` is required even though the histogram doesn't store it: the
    * state must count EXACTLY the rows the selection can keep, and the
    * selection's null-drop contract excludes rows whose id try_casts to
    * null — a state built without that filter would carry cost the
    * selection can never spend and shift (or strand) the cutoff.
    *
    * The histogram is VALIDATED BEFORE the path is touched (collect +
    * cap require, then write): a continuous score passed by mistake
    * fails loudly while the previous valid state stays intact. */
  def writeBudgetState(df: DataFrame, id: Column, quality: Column,
                       cost: Column, path: String,
                       maxQualityLevels: Int = 1 << 20): Unit =
    writeBudgetStatePerGroup(df, lit(allGroup), id, quality, cost, path,
      maxQualityLevels)

  /** Fold a new batch's histogram into existing state: ONE aggregation
    * over the batch plus a merge of two manifest-class level tables —
    * the existing corpus is never re-scanned. The merged state is
    * collected (bounded by `maxQualityLevels`, loud-fail) BEFORE the
    * rewrite, so a bad batch cannot destroy the existing state. */
  def appendBudgetState(batch: DataFrame, id: Column, quality: Column,
                        cost: Column, path: String,
                        maxQualityLevels: Int = 1 << 20): Unit =
    appendBudgetStatePerGroup(batch, lit(allGroup), id, quality, cost, path,
      maxQualityLevels)

  /** [[budgetSelect]] whose histogram comes from persisted state
    * ([[writeBudgetState]] / [[appendBudgetState]]) instead of a corpus
    * scan: the cutoff level resolves from the state alone, so the
    * corpus-plan passes shrink to the boundary-frame build and the kept
    * filter. The state MUST describe exactly `df`'s rows
    * (the rolling contract: state appended in lockstep with corpus
    * appends) — a stale histogram yields a stale cutoff, exactly as a
    * stale index yields stale lookups. */
  def budgetSelectFromState(df: DataFrame, id: Column, quality: Column,
                            cost: Column, budget: Long, path: String,
                            maxQualityLevels: Int = 1 << 20): DataFrame = {
    require(budget >= 0L, "budget must be >= 0")
    budgetSelectPerGroupFromState(df, lit(allGroup), id, quality, cost,
      Map(allGroup -> budget), path, maxQualityLevels)
  }

  /** The state's batch histogram: aggregated over EXACTLY the rows the
    * selection's null-drop contract can keep — including the id filter,
    * which the histogram doesn't store but whose cast-null rows the
    * selection drops (state counting them would carry cost the
    * selection can never spend). */
  private def stateHistogram(df: DataFrame, group: Column, id: Column,
                             quality: Column, cost: Column): DataFrame = {
    val gS = group.cast("string")
    val idL = id.try_cast("long")
    val qL = quality.try_cast("long")
    val cL = cost.try_cast("long")
    df.where(gS.isNotNull && idL.isNotNull && qL.isNotNull && cL.isNotNull)
      .groupBy(gS.as("group"), qL.as("q_level"))
      .agg(sum(cL).as("total_cost"), min(cL).as("min_cost"))
  }

  // State persistence rides the shared generation-versioned layout
  // ([[graft.core.GenState]]): crash-atomic commits, loud
  // concurrent-append collisions, previous-generation retention, and
  // batchId-stamped generations for streaming replay detection.

  /** Read the CURRENT budget state (latest valid generation; a legacy
    * bare-parquet root reads as-is). Public so rolling pipelines can
    * inspect totals/levels without knowing the layout — reading the
    * root path directly as parquet is NOT part of the contract. */
  def readBudgetState(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame =
    graft.core.GenState.read(spark, path)

  /** The highest streaming batchId folded into any surviving valid
    * generation — [[appendBudgetStateBatch]]'s replay guard. None when
    * the state holds no batch-stamped generations (fresh state, or only
    * plain writes/appends). */
  def stateBatchWatermark(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[Long] =
    graft.core.GenState.batchWatermark(spark, path)

  private val stateSchema = {
    import org.apache.spark.sql.types.{StructField, StructType}
    StructType(Seq(StructField("group", StringType, nullable = false),
      StructField("q_level", LongType, nullable = false),
      StructField("total_cost", LongType, nullable = false),
      StructField("min_cost", LongType, nullable = false)))
  }

  /** Collect and cap-validate histogram rows — strictly BEFORE the path
    * is touched; the rows then commit in a fresh generation dir
    * ([[graft.core.GenState.commit]]), so neither a bad batch nor a
    * crashed write can destroy the previous valid state. */
  private def capped(hist: DataFrame,
                     maxHistRows: Int): Seq[Row] = {
    val rows = hist.limit(maxHistRows + 1).collect()
    require(rows.length <= maxHistRows,
      s"more than $maxHistRows (group, quality-level) rows — quantize " +
        "the score (ppm convention) or raise the cap")
    rows.toSeq
  }

  /** Per-group persisted state: the (group, level) histogram as parquet
    * `(group, q_level, total_cost, min_cost)` — the mixture-spec twin of
    * [[writeBudgetState]] (which IS this function with one constant
    * group). Same rolling contract and same validate-before-write
    * discipline. */
  def writeBudgetStatePerGroup(df: DataFrame, group: Column, id: Column,
                               quality: Column, cost: Column, path: String,
                               maxHistRows: Int = 1 << 20): Unit =
    graft.core.GenState.commit(df.sparkSession,
      capped(stateHistogram(df, group, id, quality, cost), maxHistRows),
      stateSchema, path)

  /** Fold a batch's (group, level) histogram into existing per-group
    * state — one batch-only aggregation, the existing corpus is never
    * re-scanned. The merge is collected (cap-checked) before any write,
    * and the result commits as a NEW state generation (see [[capped]]):
    * a crash mid-write cannot lose the prior state, and a concurrent
    * second appender fails loudly on the generation collision instead
    * of silently dropping a fold. */
  def appendBudgetStatePerGroup(batch: DataFrame, group: Column, id: Column,
                                quality: Column, cost: Column, path: String,
                                maxHistRows: Int = 1 << 20): Unit =
    appendFold(batch, group, id, quality, cost, path, maxHistRows,
      batchId = None)

  /** [[appendBudgetState]] made effectively-once for streaming
    * foreachBatch: foreachBatch is at-least-once, and a histogram fold
    * is not idempotent — a replayed micro-batch would double-count its
    * cost. Here the committing generation carries `batchId` in its
    * directory NAME (atomic with the parquet commit), and a batch at or
    * below the surviving watermark is skipped. Missing state
    * initializes from the first batch (the streaming cold-start), where
    * the plain append stays loud on a missing path. Returns true when
    * the fold was applied, false when skipped as a replay. */
  def appendBudgetStateBatch(batch: DataFrame, id: Column, quality: Column,
                             cost: Column, path: String, batchId: Long,
                             maxQualityLevels: Int = 1 << 20): Boolean =
    appendBudgetStatePerGroupBatch(batch, lit(allGroup), id, quality, cost,
      path, batchId, maxQualityLevels)

  /** The mixture-spec twin of [[appendBudgetStateBatch]]. */
  def appendBudgetStatePerGroupBatch(batch: DataFrame, group: Column,
                                     id: Column, quality: Column,
                                     cost: Column, path: String,
                                     batchId: Long,
                                     maxHistRows: Int = 1 << 20): Boolean =
    appendFold(batch, group, id, quality, cost, path, maxHistRows,
      batchId = Some(batchId))

  /** Shared fold ([[graft.core.GenState.fold]] — replay skip and
    * streaming cold-start): merge the batch histogram into the current
    * state and commit as the next generation. */
  private def appendFold(batch: DataFrame, group: Column, id: Column,
                         quality: Column, cost: Column, path: String,
                         maxHistRows: Int, batchId: Option[Long]): Boolean =
    graft.core.GenState.fold(batch.sparkSession, path, stateSchema,
        batchId) { existing =>
      val batchHist = stateHistogram(batch, group, id, quality, cost)
      capped(existing.fold(batchHist)(_.unionByName(batchHist))
        .groupBy(col("group"), col("q_level"))
        .agg(sum(col("total_cost")).as("total_cost"),
          min(col("min_cost")).as("min_cost")), maxHistRows)
    }

  /** [[budgetSelectPerGroup]] with its (group, level) histogram read
    * from persisted state instead of a corpus scan — the mixture-spec
    * cutoffs resolve from state alone. Groups absent from `budgets` are
    * dropped, exactly as in the from-scratch form. */
  def budgetSelectPerGroupFromState(df: DataFrame, group: Column, id: Column,
                                    quality: Column, cost: Column,
                                    budgets: Map[String, Long], path: String,
                                    maxHistRows: Int = 1 << 20): DataFrame = {
    require(budgets.nonEmpty, "budgets must name at least one group")
    require(budgets.values.forall(_ >= 0L), "budgets must be >= 0")
    fromStateCore(df, group, id, quality, cost, budgets.keySet,
      _ => budgets, path, maxHistRows)
  }

  /** [[budgetSelectPerGroupFraction]] with each group's total read from
    * PERSISTED state instead of a corpus histogram pass — "keep the
    * best 30% of every domain's tokens, by what the rolling state says
    * the domains hold": the cutoffs AND the totals they derive from
    * both resolve from state alone. Same oracle-portable floor(f × t)
    * arithmetic as the from-scratch fraction form; groups absent from
    * `fractions` drop, and the stale/partial-state guard applies. */
  def budgetSelectPerGroupFractionFromState(
      df: DataFrame, group: Column, id: Column, quality: Column,
      cost: Column, fractions: Map[String, Double], path: String,
      maxHistRows: Int = 1 << 20): DataFrame = {
    require(fractions.nonEmpty, "fractions must name at least one group")
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions in [0,1]")
    fromStateCore(df, group, id, quality, cost, fractions.keySet,
      totals => totals.map { case (g, t) =>
        g -> math.floor(fractions(g) * t.toDouble).toLong
      }, path, maxHistRows)
  }

  /** Shared from-state front: read + cap-check the state histogram for
    * the named groups, run the stale/partial-state guard, then hand the
    * core the histogram override (no corpus histogram pass). */
  private def fromStateCore(df: DataFrame, group: Column, id: Column,
                            quality: Column, cost: Column,
                            groups: Set[String],
                            budgetsOfTotals: Map[String, Long] => Map[String, Long],
                            path: String, maxHistRows: Int): DataFrame = {
    val spark = df.sparkSession
    val hist = readBudgetState(spark, path)
      .select(col("group"), col("q_level"), col("total_cost"), col("min_cost"))
      .where(col("group").isin(groups.toSeq: _*))
      .limit(maxHistRows + 1)
      .collect()
    require(hist.length <= maxHistRows,
      s"budget state at $path exceeds $maxHistRows rows")
    // stale/partial-state guard: a named group with LIVE rows in the
    // input but no histogram in the state would land in neither the
    // keep-all nor the cutoff set — its rows would silently vanish. A
    // group genuinely absent from the input is fine (selects nothing,
    // same as from-scratch), so probe the input only for the missing
    // groups before failing.
    val missing = groups -- hist.map(_.getString(0)).toSet
    if (missing.nonEmpty) {
      val gS = group.cast("string")
      val present = !df.where(gS.isin(missing.toSeq: _*) &&
          id.try_cast("long").isNotNull && quality.try_cast("long").isNotNull &&
          cost.try_cast("long").isNotNull)
        .isEmpty
      require(!present,
        s"budget state at $path has no histogram for group(s) " +
          s"${missing.toSeq.sorted.mkString(", ")} present in the input — " +
          "stale or partial state; write/append the missing batches first")
    }
    budgetSelectPerGroupCore(df, group, id, quality, cost,
      groups, budgetsOfTotals,
      maxHistRows, fanout = 4096, smallCap = 1 << 16,
      histOverride = Some(hist.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))))
  }

  /** Core: `groups` gates membership; `budgetsOfTotals` maps the
    * per-group totals (read off the level histogram) to absolute
    * budgets, so the fraction form shares every pass. `histOverride`
    * supplies a precomputed (group, level, total, minCost) histogram —
    * the persisted-state path — skipping the one corpus-wide
    * aggregation. */
  private def budgetSelectPerGroupCore(
      df: DataFrame, group: Column, id: Column, quality: Column,
      cost: Column, groups: Set[String],
      budgetsOfTotals: Map[String, Long] => Map[String, Long],
      maxHistRows: Int, fanout: Int, smallCap: Int,
      histOverride: Option[Array[(String, Long, Long, Long)]] = None): DataFrame = {
    require(fanout >= 2, "fanout must be >= 2")
    require(smallCap >= 1, "smallCap must be >= 1")
    require(!df.columns.exists(_.startsWith("__bs")),
      "input columns must not start with the reserved __bs prefix: " +
        df.columns.filter(_.startsWith("__bs")).mkString(", "))
    val spark = df.sparkSession
    // try_cast, not cast: a value that cannot cast to long becomes null
    // (and is dropped by the live filter below) under BOTH ANSI and
    // legacy modes, instead of ANSI throwing mid-scan
    val gS = group.cast("string")
    val idL = id.try_cast("long")
    val qL = quality.try_cast("long")
    val cL = cost.try_cast("long")
    val budgetGroups = Refine.frame(spark, groups.toSeq.sorted.map(Row(_)),
      "__bsg" -> StringType)
    // the null-drop contract FILTERS ON THE CAST columns: a raw null
    // casts to null, and so does a value that cannot cast to long (a
    // string score under non-ANSI) — both have no place in a total
    // order, and the cast-form filter turns what would otherwise be an
    // opaque driver NPE at histogram time into the documented drop
    val live = df
      .where(idL.isNotNull && qL.isNotNull && cL.isNotNull && gS.isNotNull)
      .withColumn("__bsg", gS)
      .join(broadcast(budgetGroups), Seq("__bsg"), "left_semi")

    // one corpus pass: the (group, level) histogram — skipped entirely
    // when persisted state supplies it (budgetSelectFromState)
    val hist: Array[(String, Long, Long, Long)] = histOverride.getOrElse {
      live.groupBy(col("__bsg"), qL.as("__bsq"))
        .agg(sum(cL).as("__bst"), min(cL).as("__bsm"))
        .limit(maxHistRows + 1)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    require(hist.length <= maxHistRows,
      s"more than $maxHistRows (group, quality-level) rows — quantize " +
        "the score (ppm convention) or raise maxHistRows")
    require(hist.forall(_._4 >= 0L),
      "negative cost values break greedy-prefix monotonicity")

    // driver cutoffs per group; budgets derive from the histogram's own
    // per-group totals (the fraction form's no-extra-pass contract).
    // A keep-all group has no cut; the rest are (group, q*, remaining)
    val byGroup = hist.groupBy(_._1)
    val budgets = budgetsOfTotals(
      byGroup.map { case (g, rows) => g -> rows.map(_._3).sum })
    require(budgets.values.forall(_ >= 0L), "budgets must be >= 0")
    val cut = byGroup.toSeq.sortBy(_._1).flatMap { case (g, rows) =>
      val levels = rows.map(r => (r._2, r._3))
        .sortBy(_._1)(Ordering[Long].reverse)
      Refine.boundary[(Long, Long)](levels.toSeq, _._2, budgets(g))
        .map { case ((qs, _), before) => (g, qs, budgets(g) - before) }
    }
    if (cut.isEmpty) return live.drop("__bsg")

    // every cut group's q* rows as ONE slim (cursor, id, cost) frame,
    // checkpointed once: the refinement rounds scan it, never the corpus
    val cutDf = Refine.frame(spark,
      cut.zipWithIndex.map { case ((g, qs, _), i) => Row(g, qs, i) },
      "__bsg" -> StringType, "__bsqstar" -> LongType, "__bscur" -> IntegerType)
    val slim = live.join(broadcast(cutDf), Seq("__bsg"))
      .where(qL === col("__bsqstar"))
      .select(col("__bscur").as("__cur"), idL.as("__id"), cL.as("__c"))
      .localCheckpoint(false)
    // the level's id extremes and row count: a persisted histogram has
    // neither, so one stats action over the slim frame reads them
    val start = slim.groupBy(col("__cur"))
      .agg(min(col("__id")), max(col("__id")), count(lit(1)))
      .collect()
      .map { r =>
        val (_, qs, rem) = cut(r.getInt(0))
        r.getInt(0) -> Refine.Cursor(qs, r.getLong(1), r.getLong(2),
          r.getLong(3), rem)
      }.toMap
    val found = Refine.refineCuts(slim, start, fanout, smallCap)

    // the kept set: ONE map-side filter over `live` — a row is kept
    // unless it is after its group's boundary (a cut level with no rows
    // in `df` keeps none of that level: open)
    val bounds = Refine.frame(spark,
      cut.zipWithIndex.map { case ((g, qs, _), i) =>
        val b = found.getOrElse(i, Refine.Boundary(qs, 0L, open = true))
        Row(g, b.level, b.id, b.open)
      },
      "__bsg" -> StringType, "__bsl" -> LongType, "__bsb" -> LongType,
      "__bso" -> BooleanType)
    live.join(broadcast(bounds), Seq("__bsg"), "left")
      .where(col("__bsl").isNull || !Refine.after(qL, idL, col("__bsl"),
        col("__bsb"), col("__bso")))
      .drop("__bsg", "__bsl", "__bsb", "__bso")
  }
}
