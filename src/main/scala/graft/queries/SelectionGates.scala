package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.meta.{PipelineMetrics, ProfileState}
import graft.text.{Binning, BudgetSelect, TextOps}

import Tier._
import GateFixtures._

/** Quantile and selection gates: exact/weighted/incremental quantiles,
  * profile drift, budget selection, top-m, curriculum bins, sampling,
  * temperature mixtures and leakage-safe splits. */
object SelectionGates {

  // ── Whole-corpus / per-group twins ─────────────────────────────────
  // Each selection and quantile family below comes as a whole-corpus
  // gate and a per-group twin (`by` = the group column) that differ only
  // in that column, so one builder per family makes both gates, Spark
  // plan and DuckDB oracle together. SQL fragments: `g` = "<by>, " or
  // "", `part` = "PARTITION BY <by> " or "", `nn` = "<by> IS NOT NULL
  // AND " or "".

  private def g(by: Option[String]): String = by.fold("")(c => s"$c, ")
  private def part(by: Option[String]): String =
    by.fold("")(c => s"PARTITION BY $c ")
  private def nn(by: Option[String]): String =
    by.fold("")(c => s"$c IS NOT NULL AND ")

  /** Alpha-ratio quality of `text` in ppm — `round(alpha_ratio * 1e6)`
    * as `q_ppm` — the score every selection gate ranks by, in Spark and
    * (`qPpmSql`) in DuckDB. */
  private[queries] def qPpm(text: Column): Column =
    round(TextOps.qualityStruct(text).getField("alpha_ratio")
      * 1e6, 0).cast("long").as("q_ppm")
  private val qPpmSql =
    """cast(round(len(regexp_extract_all(text, '[A-Za-z]'))
      |      / greatest(length(text), 1) * 1000000) AS bigint)""".stripMargin
  private val nTokensSql =
    """cast(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
      |      w -> len(w) > 0)) AS bigint)""".stripMargin

  /** A per-parameter CTE's join: one row CROSS JOINed, or one row per
    * group joined on `by`. */
  private def joinParams(by: Option[String], cte: String): String =
    by.fold(s"CROSS JOIN $cte")(c => s"JOIN $cte USING ($c)")

  /** `(k, v)` pairs as a DuckDB VALUES table `(<by>, <col>)`. */
  private def valuesSql(kv: Seq[(String, Long)], by: String, c: String): String =
    kv.map { case (k, v) => s"('$k', $v)" }
      .mkString("SELECT * FROM (VALUES ", ", ", s") AS v($by, $c)")

  /** Per-source token budgets: deep cutoff (src1: 50), mid cutoffs
    * (src0, src3), zero (src4), keep-all (src2: 1M), and SCALE-VARYING
    * src5 (2000 — keep-all at sf0.001/0.01 totals ~1.3k, cutoff at
    * sf0.1's ~14k); the other 14 sources drop by omission. */
  private val sourceBudgets = Seq("src0" -> 800L, "src1" -> 50L,
    "src2" -> 1000000L, "src3" -> 400L, "src4" -> 0L, "src5" -> 2000L)

  /** The greedy token-budget prefix over (quality DESC, doc_id): a
    * quarter of the corpus's tokens, or `by` source with
    * [[sourceBudgets]]; `fromState` resolves the cutoffs from the
    * persisted (written, then batch-folded) budget state instead of a
    * corpus pass — the state fold must land on exactly the from-scratch
    * cutoffs. */
  private def budgetGate(name: String, by: Option[String],
      fromState: Boolean): Gate = Gate(name, Bench, (s, dir) => {
    val scored = budgetScored(s, dir)
    val (id, q, cost) = (col("doc_id"), col("q_ppm"), col("n_tokens"))
    ((by, fromState) match {
      case (None, false) => BudgetSelect.budgetSelectFraction(
        scored.drop("source"), id, q, cost, fraction = 0.25)
      case (None, true) =>
        val statePath = bstateFor(s, dir)
        val total = BudgetSelect.readBudgetState(s, statePath)
          .agg(sum(col("total_cost"))).head().getLong(0)
        BudgetSelect.budgetSelectFromState(scored.drop("source"), id, q,
          cost, budget = math.floor(0.25 * total.toDouble).toLong, statePath)
      case (Some(c), false) => BudgetSelect.budgetSelectPerGroup(scored,
        col(c), id, q, cost, budgets = sourceBudgets.toMap)
      case (Some(c), true) => BudgetSelect.budgetSelectPerGroupFromState(
        scored, col(c), id, q, cost, budgets = sourceBudgets.toMap,
        path = bstateGroupFor(s, dir))
    }).orderBy(id)
  }, budgetSql(by), memoized = fromState)

  /** The budget prefix the naive way the engine refuses to run: a
    * (partitioned) running-sum window over (quality DESC, doc_id) —
    * fine at oracle scale, single-task at corpus scale. Rows with a
    * null id, group, score or cost drop first: the engine's null-drop
    * contract (latent in this fixture, but the oracle must encode the
    * CONTRACT, not the fixture). */
  private def budgetSql(by: Option[String]): String = {
    val budget = by.fold(
      "SELECT cast(floor(0.25 * sum(n_tokens)) AS bigint) AS budget FROM t2")(
      valuesSql(sourceBudgets, _, "budget"))
    s"""WITH t AS (
       |  SELECT doc_id, ${g(by)}$qPpmSql AS q_ppm,
       |    $nTokensSql AS n_tokens
       |  FROM documents),
       |t2 AS (SELECT * FROM t
       |       WHERE doc_id IS NOT NULL AND ${nn(by)}q_ppm IS NOT NULL
       |         AND n_tokens IS NOT NULL),
       |b AS ($budget),
       |r AS (SELECT t2.*, b.budget,
       |        sum(t2.n_tokens) OVER (${part(by)}ORDER BY q_ppm DESC, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM t2 ${joinParams(by, "b")})
       |SELECT doc_id, ${g(by)}q_ppm, n_tokens FROM r
       |WHERE cum <= budget ORDER BY doc_id""".stripMargin
  }

  /** Per-source m for the top-m twin: deep cut (src1), zero (src4),
    * keep-all (src2) and mid cuts; unnamed sources drop. */
  private val sourceTopM = Seq("src0" -> 40L, "src1" -> 3L,
    "src2" -> 1000000L, "src3" -> 17L, "src4" -> 0L)

  /** Exact top-m by (quality DESC, doc_id): the best 1234 documents (a
    * cut INSIDE a quality level at every SF), or `by` source with
    * [[sourceTopM]], via unit-cost budget selection — no single-task
    * global limit, no ranking window. The oracle is the from-scratch
    * (partitioned) row_number prefix. */
  private def topMGate(name: String, by: Option[String]): Gate =
    Gate(name, Bench, (s, dir) => {
      val scored = Tables(s, dir, "documents")
        .select(Seq(col("doc_id")) ++ by.map(col) :+ qPpm(col("text")): _*)
      by.fold(BudgetSelect.takeTop(scored, col("doc_id"), col("q_ppm"),
          m = 1234L))(c => BudgetSelect.takeTopPerGroup(scored, col(c),
          col("doc_id"), col("q_ppm"), ms = sourceTopM.toMap))
        .orderBy(col("doc_id"))
    },
      s"""WITH t AS (
         |  SELECT doc_id, ${g(by)}$qPpmSql AS q_ppm
         |  FROM documents),
         |t2 AS (SELECT * FROM t
         |       WHERE doc_id IS NOT NULL AND ${nn(by)}q_ppm IS NOT NULL),
         |m AS (${by.fold("SELECT 1234 AS m")(valuesSql(sourceTopM, _, "m"))}),
         |r AS (SELECT t2.*, m.m,
         |        row_number() OVER (${part(by)}ORDER BY q_ppm DESC, doc_id) AS rn
         |      FROM t2 ${joinParams(by, "m")})
         |SELECT doc_id, ${g(by)}q_ppm FROM r
         |WHERE rn <= m ORDER BY doc_id""".stripMargin)

  /** Curriculum bins: `k` rank-proportional stages over (quality DESC,
    * doc_id) — or, `byCost`, `k` stages of equal cumulative chars, the
    * schedule you actually train with — over the corpus or within each
    * `by` group, WITHOUT a global sort or ranking window: level
    * histogram + driver boundary placement + within-level rank
    * refinement, the final assignment a map-only literal comparison
    * (Binning scaladoc has the 100 TB argument). The oracle recomputes
    * the same integer floor map from a from-scratch (partitioned)
    * ranking or running-cost window, so a misplaced boundary, an
    * off-by-one local rank, or a tie-order slip cannot hide; rows with
    * a null id, group, score or cost have no rank (the null-drop
    * contract). */
  private def binsGate(name: String, by: Option[String], k: Int,
      byCost: Boolean): Gate = Gate(name, Bench, (s, dir) => {
    val scored = Tables(s, dir, "documents")
      .select(Seq(col("doc_id")) ++ by.map(col) ++ Seq(qPpm(col("text"))) ++
        (if (byCost) Seq(col("n_chars")) else Nil): _*)
    val (id, q, c) = (col("doc_id"), col("q_ppm"), col("n_chars"))
    ((by, byCost) match {
      case (None, false) => Binning.quantileBins(scored, id, q, k = k)
      case (Some(b), false) =>
        Binning.quantileBinsPerGroup(scored, col(b), id, q, k = k)
      case (None, true) => Binning.quantileBinsByCost(scored, id, q, c, k = k)
        .select(id, col("bin"))
      case (Some(b), true) =>
        Binning.quantileBinsByCostPerGroup(scored, col(b), id, q, c, k = k)
          .select(id, col(b), col("bin"))
    }).orderBy(id)
  }, {
    // pos = rank (or running cost), tot = group size (or total cost)
    val (pos, tot) = if (byCost) ("sum(c)", "sum(c)") else ("row_number()", "count(*)")
    s"""WITH t0 AS (
       |  SELECT doc_id, ${g(by)}$qPpmSql AS q_ppm,
       |    n_chars AS c
       |  FROM documents),
       |t AS (SELECT * FROM t0
       |      WHERE doc_id IS NOT NULL AND ${nn(by)}q_ppm IS NOT NULL${if (byCost) " AND c IS NOT NULL" else ""}),
       |r AS (SELECT doc_id, ${g(by)}q_ppm,
       |        $pos OVER (${part(by)}ORDER BY q_ppm DESC, doc_id) AS pos,
       |        $tot OVER (${part(by)}) AS tot
       |      FROM t)
       |SELECT doc_id, ${g(by)}${if (byCost) "" else "q_ppm, "}
       |  cast((${if (byCost) "greatest(pos, 1)" else "pos"} - 1) * $k // tot + 1 AS int) AS bin
       |FROM r ORDER BY doc_id""".stripMargin
  })

  /** (group?, p, value, n) quantile rows → (`by`?, p_ppm, `value`, n),
    * ordered by group and p. */
  private def ppmRows(q: DataFrame, by: Option[String],
      value: String): DataFrame =
    q.select(by.map(c => col("group").as(c)).toSeq ++ Seq(
        round(col("p") * 1e6).cast("long").as("p_ppm"),
        col("value").as(value), col("n")): _*)
      .orderBy(by.map(col).toSeq :+ col("p_ppm"): _*)

  /** DuckDB's own `agg` (quantile_disc / quantile_cont — a genuinely
    * independent implementation of the same quantile definition) over
    * `valueSql` of lineitem, whole-table or per `by`, as (`by`?, p_ppm,
    * `value`, n). */
  private def priceQuantileSql(agg: String, valueSql: String,
      value: String, ps: Seq[Double], by: Option[String]): String =
    s"""WITH v AS (
       |  SELECT ${g(by)}cast(round($valueSql) AS bigint) AS c
       |  FROM lineitem
       |  WHERE ${nn(by)}l_extendedprice IS NOT NULL),
       |q AS (SELECT ${g(by)}$agg(c, [${ps.mkString(", ")}]) AS vs,
       |        count(*) AS n
       |      FROM v${by.fold("")(c => s" GROUP BY $c")})
       |SELECT ${g(by)}unnest(cast([${ps.map(p => math.round(p * 1e6)).mkString(", ")}]
       |    AS bigint[])) AS p_ppm,
       |  unnest(vs) AS $value, n
       |FROM q ORDER BY ${g(by)}p_ppm""".stripMargin

  /** EXACT distributed quantiles of lineitem price cents (the
    * approx_metrics twin made exact) — discrete, or `cont` interpolated
    * (percentile_cont semantics), whole-table or per `by` off ONE
    * (group, value) histogram pass: value-histogram + driver cumulative
    * lookup — no sort, no window, no single-task percentile path; price
    * travels as integer cents (the house dialect-safety convention). */
  private def priceQuantilesGate(name: String, by: Option[String],
      ps: Seq[Double], cont: Boolean): Gate = Gate(name, Bench, (s, dir) => {
    import PipelineMetrics._
    val (li, cents) =
      (Tables(s, dir, "lineitem"), round(col("l_extendedprice") * 100, 0))
    ppmRows((by, cont) match {
      case (None, false) => exactQuantiles(li, cents, ps = ps)
      case (None, true) => exactQuantilesCont(li, cents, ps = ps)
      case (Some(c), false) => exactQuantilesPerGroup(li, col(c), cents, ps = ps)
      case (Some(c), true) => exactQuantilesContPerGroup(li, col(c), cents, ps = ps)
    }, by, "price_cents")
  }, priceQuantileSql(if (cont) "quantile_cont" else "quantile_disc",
    "l_extendedprice * 100", "price_cents", ps, by))

  /** Rolling-corpus quantiles from PERSISTED state: the corpus splits
    * into an existing store and an ingest batch, the (group?, value)
    * histogram persists at write time, the batch folds in (one
    * batch-only aggregation), and the quantiles answer from state ALONE
    * — zero corpus passes at read time. DOLLAR quantization, not cents:
    * persisted state must ride a GRID-bounded histogram (cents on
    * lineitem is ~row-cardinality, 583k distinct at sf0.1 — a fine
    * one-shot collect but the wrong thing to persist). State build
    * memoized per JVM+dir (qstateFor / qstateGroupFor). The oracle
    * recomputes quantile_disc over the WHOLE corpus from scratch, so a
    * fold bug (lost level, double count) cannot hide: it moves a
    * quantile. */
  private def priceQuantilesFromStateGate(name: String, by: Option[String],
      ps: Seq[Double]): Gate = Gate(name, Bench, (s, dir) => {
    import ProfileState._
    ppmRows(by.fold(exactQuantilesFromState(s, qstateFor(s, dir), ps = ps))(
      _ => exactQuantilesPerGroupFromState(s, qstateGroupFor(s, dir), ps = ps)),
      by, "price_usd")
  }, priceQuantileSql("quantile_disc", "l_extendedprice", "price_usd", ps, by),
    memoized = true)

  /** Weighted quantiles, DuckDB side: the smallest quality level whose
    * cumulative n_chars weight reaches clamp(ceil(W * p_ppm / 1e6), 1, W)
    * — whole corpus or per `by`. Oracle-authoring rule (API.md "Oracle
    * discipline"): the rank threshold is PURE INTEGER arithmetic — p as
    * a ppm BIGINT, ceil as (+999999)//1e6 over HUGEINT — and the per-p
    * lookup is a range JOIN + min, not a correlated scalar subquery;
    * both choices keep the gate stable across DuckDB versions
    * (Refine.quantileValuesPpm mirrors the formula in BigInt). */
  private def weightedQuantileSql(psPpm: Seq[Long], by: Option[String]): String = {
    val rk = by.fold("")(c => s"rk.$c, ")
    s"""WITH t AS (
       |  SELECT ${g(by)}$qPpmSql AS q,
       |    n_chars AS w
       |  FROM documents),
       |t2 AS (SELECT ${g(by)}q, w FROM t
       |       WHERE ${nn(by)}q IS NOT NULL AND w IS NOT NULL),
       |lv AS (SELECT ${g(by)}q, sum(w) AS w FROM t2 GROUP BY ${g(by)}q
       |       HAVING sum(w) > 0),
       |cum AS (SELECT ${g(by)}q,
       |          sum(w) OVER (${part(by)}ORDER BY q) AS cw
       |        FROM lv),
       |tot AS (SELECT ${g(by)}cast(sum(w) AS bigint) AS tw FROM lv${by.fold("")(c => s" GROUP BY $c")}),
       |ps AS (SELECT cast(unnest([${psPpm.mkString(", ")}]) AS bigint) AS p_ppm),
       |rk AS (SELECT ${g(by)}p_ppm, tw,
       |         least(tw, greatest(1, cast(
       |           (cast(tw AS hugeint) * p_ppm + 999999) // 1000000
       |           AS bigint))) AS r
       |       FROM tot CROSS JOIN ps)
       |SELECT ${rk}rk.p_ppm, min(cum.q) AS q_ppm,
       |  cast(min(rk.tw) AS bigint) AS w_total
       |FROM rk JOIN cum ON ${by.fold("")(c => s"cum.$c = rk.$c AND ")}cum.cw >= rk.r
       |GROUP BY ${rk}rk.p_ppm
       |ORDER BY ${rk}rk.p_ppm""".stripMargin
  }

  /** (group?, p_ppm, value, n) weighted rows → (`by`?, p_ppm, q_ppm,
    * w_total), ordered. */
  private def weightedRows(q: DataFrame, by: Option[String]): DataFrame =
    q.select(by.map(c => col("group").as(c)).toSeq ++ Seq(col("p_ppm"),
        col("value").as("q_ppm"), col("n").as("w_total")): _*)
      .orderBy(by.map(col).toSeq :+ col("p_ppm"): _*)

  /** The seven-point ppm grid of the whole-corpus weighted gates. */
  private val allPsPpm =
    Seq(0L, 250000L, 500000L, 750000L, 900000L, 990000L, 1000000L)

  /** WEIGHTED exact quantiles: "the quality level below which p of the
    * corpus's CHARS sit" — each doc weighted by its n_chars, the
    * curation-report form where doc-count quantiles mislead (a few huge
    * docs dominate the token budget) — whole corpus or per `by` off ONE
    * (group, value) weighted pass. The quantile itself rides the house
    * ppm convention (p_ppm BIGINT) so BOTH engines compute the rank
    * threshold in pure integer arithmetic — no DOUBLE × weight product
    * to drift across JVM or DuckDB versions. */
  private def weightedQuantilesGate(name: String, by: Option[String],
      psPpm: Seq[Long]): Gate = Gate(name, Bench, (s, dir) => {
    import PipelineMetrics._
    val scored = Tables(s, dir, "documents")
      .select(by.map(col).toSeq ++ Seq(qPpm(col("text")), col("n_chars")): _*)
    weightedRows(by.fold(exactQuantilesWeightedPpm(scored, col("q_ppm"),
        col("n_chars"), psPpm = psPpm))(c =>
      exactQuantilesWeightedPerGroupPpm(scored, col(c), col("q_ppm"),
        col("n_chars"), psPpm = psPpm)), by)
  }, weightedQuantileSql(psPpm, by))

  /** Temperature-τ=0.5 source mixtures toward `target(n)` rows of an
    * n-row corpus (`targetSql` restates it over `sum(n)`): down-sampled
    * by a keyed md5 keep, or with `repeat` up-sampled — whole copies +
    * a fractional keep on the 2¹⁶ grid — over corpus counts, or with
    * `fromState` over per-source counts folded into persisted profile
    * state in two increments (zero corpus-count passes at mix time; the
    * target is read off the state too). State counts must equal corpus
    * counts, so every form has the same from-scratch oracle: per-source
    * n, weight w = round(sqrt(n)·2²⁰) (sqrt is IEEE-exact in BOTH
    * engines), threshold th16 = round-half-up of 65536·T·w/(Σw·n) in
    * pure integer arithmetic — products ride HUGEINT: DuckDB BIGINT
    * multiplication hard-errors on overflow, and 131072·T·w passes 2^63
    * within one more order of magnitude of corpus — then the engine's
    * keyed md5 bucket predicate (copies: th16 // 65536 whole, plus the
    * th16 % 65536 fractional keep; th16 itself fits BIGINT, the rate
    * being maxCopies-bounded on the engine side). */
  private def mixGate(name: String, repeat: Boolean, fromState: Boolean,
      target: Long => Long, targetSql: String): Gate =
    Gate(name, Bench, (s, dir) => {
      import graft.text.Sampling._
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      val (src, id) = (col("source"), col("doc_id"))
      val statePath = if (fromState) Some(mixStateFor(s, dir)) else None
      val n = target(statePath.fold(d.where(src.isNotNull).count())(p =>
        sourceSizesFromState(s, p).map(_._2).sum))
      ((repeat, statePath) match {
        case (false, None) => mixByTemperature(d, src, id, tau = 0.5,
          targetRows = n)
        case (false, Some(p)) => mixByTemperatureFromState(d, src, id,
          tau = 0.5, targetRows = n, statePath = p)
        case (true, None) => mixByTemperatureRepeat(d, src, id, tau = 0.5,
          targetRows = n)
        case (true, Some(p)) => mixByTemperatureRepeatFromState(d, src, id,
          tau = 0.5, targetRows = n, statePath = p)
      }).orderBy(id +: (if (repeat) Seq(col("copy_idx")) else Nil): _*)
    }, {
      val th = s"""(2 * 65536 * cast(t.tr AS hugeint) * w.wi
        |              + cast(tot.sw AS hugeint) * w.n)
        |             // (2 * cast(tot.sw AS hugeint) * w.n)""".stripMargin
      s"""WITH s AS (
         |  SELECT source, count(*) AS n FROM documents
         |  WHERE source IS NOT NULL GROUP BY source),
         |t AS (SELECT cast($targetSql AS bigint) AS tr FROM s),
         |w AS (SELECT source, n,
         |        cast(round(sqrt(cast(n AS double)) * 1048576) AS bigint)
         |          AS wi
         |      FROM s),
         |tot AS (SELECT cast(sum(wi) AS bigint) AS sw FROM w),
         |th AS (SELECT w.source,
         |         ${if (repeat) s"cast($th AS bigint)" else s"least(65536, $th)"} AS th16
         |       FROM w, tot, t)${if (repeat) "," else ""}
         |""".stripMargin + (if (repeat)
        """c AS (SELECT d.doc_id, d.source,
          |        cast(th.th16 // 65536 AS int) +
          |        CASE WHEN substr(md5(cast(d.doc_id AS varchar) || ':tmixr'),
          |                         1, 4)
          |                  < lpad(lower(hex(th.th16 % 65536)), 4, '0')
          |             THEN 1 ELSE 0 END AS nc
          |      FROM documents d JOIN th ON d.source = th.source)
          |SELECT doc_id, source, unnest(range(0, nc)) AS copy_idx
          |FROM c ORDER BY doc_id, copy_idx""".stripMargin
      else
        """SELECT d.doc_id, d.source
          |FROM documents d JOIN th ON d.source = th.source
          |WHERE substr(md5(cast(d.doc_id AS varchar) || ':tmix'), 1, 4) <
          |  CASE WHEN th.th16 >= 65536 THEN 'g'
          |       ELSE lpad(lower(hex(th.th16)), 4, '0') END
          |ORDER BY d.doc_id""".stripMargin)
    }, memoized = fromState)

  val gates: Seq[Gate] = Seq(

    // in-flight observe metrics: the counters ride the corpus pass as
    // accumulators (no second scan) and surface here as a one-row frame;
    // the oracle recomputes the same aggregates directly — proving the
    // observe channel reports exactly what a dedicated query would
    Gate("pipeline_metrics", Bench, (s, dir) => {
      import s.implicits._
      val observedDf = graft.meta.PipelineMetrics.observed(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            TextOps.tokenCount(col("text")).as("n_toks")),
        "corpus", Seq(
          "n_docs" -> count(lit(1)),
          "total_tokens" -> sum(col("n_toks")).cast("long"),
          "max_doc_id" -> max(col("doc_id"))))
      val m = graft.meta.PipelineMetrics.runAndCollect(observedDf)("corpus")
      Seq((m.getAs[Long]("n_docs"), m.getAs[Long]("total_tokens"),
          m.getAs[Long]("max_doc_id")))
        .toDF("n_docs", "total_tokens", "max_doc_id")
    },
      // raw-whitespace tokenization (NOT the normalized stream): mirrors
      // TextOps.tokens(text) = split on \s+, empties dropped
      """SELECT cast(count(*) AS bigint) AS n_docs,
        |  cast(sum(len(list_filter(string_split_regex(text, '\s+'),
        |    w -> len(w) > 0))) AS bigint) AS total_tokens,
        |  max(doc_id) AS max_doc_id
        |FROM documents""".stripMargin),

    // balanced per-source subset: exactly 40 docs per source by smallest
    // content hash — the eval/ablation selector where fraction sampling
    // would track source size
    Gate("stratified_take", Bench, (s, dir) => {
      graft.text.Sampling.takePerGroup(
          Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          col("source"), col("doc_id"), n = 40)
        .orderBy(col("source"), col("doc_id"))
    },
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(cast(doc_id AS varchar)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rk <= 40
        |ORDER BY source, doc_id""".stripMargin),

    // one-pass column profiler over the biggest table: the null/distinct/
    // range audit a pipeline runs before trusting a new data drop.
    // approx_count_distinct stays OUT (approximate → not oracle-exact).
    // Plan note: two exact countDistincts make Catalyst EXPAND the scan
    // ×3 before the partial aggregation — one scan, 3× the agg input;
    // at 100 TB swap the distincts for approx_count_distinct (no Expand)
    // when ±2% is acceptable
    Gate("profile_table", Bench, (s, dir) => {
      Tables(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("l_orderkey")).as("n_orderkey"),
          countDistinct(col("l_orderkey")).as("d_orderkey"),
          countDistinct(col("l_returnflag")).as("d_returnflag"),
          min(col("l_quantity").cast("decimal(12,2)")).cast("string")
            .as("min_qty"),
          max(col("l_quantity").cast("decimal(12,2)")).cast("string")
            .as("max_qty"),
          sum(col("l_linenumber")).as("sum_linenumber"))
    },
      // l_quantity is integral in this data, so the double->decimal cast
      // cannot hit the binary-expansion rounding drift (memory: cents rule)
      """SELECT cast(count(*) AS bigint) AS n_rows,
        |  cast(count(l_orderkey) AS bigint) AS n_orderkey,
        |  cast(count(DISTINCT l_orderkey) AS bigint) AS d_orderkey,
        |  cast(count(DISTINCT l_returnflag) AS bigint) AS d_returnflag,
        |  cast(min(cast(l_quantity AS decimal(12,2))) AS varchar) AS min_qty,
        |  cast(max(cast(l_quantity AS decimal(12,2))) AS varchar) AS max_qty,
        |  cast(sum(l_linenumber) AS bigint) AS sum_linenumber
        |FROM lineitem""".stripMargin),

    // deterministic training-order shuffle: content-keyed md5 assigns
    // every doc a shard and a stable position within it — the export
    // ordering a training run replays identically from any retry.
    // nShards = 8 fits the 500-row test corpus; at scale shard count
    // grows with the corpus (see Sampling.shuffleAssignment: size
    // shards, don't count them)
    Gate("corpus_shuffle", Bench, (s, dir) => {
      graft.text.Sampling
        .shuffleAssignment(Tables(s, dir, "documents"), col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    },
      """WITH k AS (
        |  SELECT doc_id, md5(cast(doc_id AS varchar) || ':shuffle') AS key
        |  FROM documents)
        |SELECT doc_id,
        |  cast(('0x' || substr(key, 1, 15)) AS bigint) % 8 AS shard,
        |  row_number() OVER (
        |    PARTITION BY cast(('0x' || substr(key, 1, 15)) AS bigint) % 8
        |    ORDER BY key, doc_id) AS pos
        |FROM k ORDER BY doc_id""".stripMargin),

    // deterministic hash sampling + stable split assignment — selection
    // is content-keyed (md5), so re-runs, retries and repartitioning
    // cannot change which documents land in which split
    // LEAKAGE-SAFE split: the split key is the near-dup CLUSTER id, so
    // borderline duplicate pairs can never straddle train/eval. The
    // oracle recomputes the clusters by recursive min-label closure and
    // re-applies the same md5 split arithmetic on canonical_id.
    Gate("split_leakage_safe", Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, maxDf = 100, threshold = 0.8)
      Dedup.canonicalFromPairs(docs.select(col("doc_id")), col("doc_id"),
          pairs)
        .select(col("doc_id"), col("canonical_id"),
          graft.text.Sampling.leakageSafeSplit(col("canonical_id"),
            Seq("train" -> 0.9, "eval" -> 0.1)).as("split"))
        .orderBy(col("doc_id"))
    },
      // the cluster closure again, then the corpus_sample split CASE
      // re-keyed on canonical_id — 'e666' is round(0.9 · 65536) in hex,
      // the engine's hexThreshold grid
      s"""WITH RECURSIVE ${DedupGates.ngramClosureCtes}
         |SELECT doc_id, canonical_id,
         |  CASE WHEN substr(md5(cast(canonical_id AS varchar) || ':split'),
         |                   1, 4) < 'e666'
         |       THEN 'train' ELSE 'eval' END AS split
         |FROM canon ORDER BY doc_id""".stripMargin),

    Gate("corpus_sample", Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.text.Sampling.hashSample(docs, col("doc_id"), 0.5)
        .withColumn("split", graft.text.Sampling.hashSplit(
          concat(col("doc_id"), lit(":split")),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source,
        |  CASE WHEN substr(md5(cast(doc_id AS varchar) || ':split'), 1, 4) < 'e666' THEN 'train'
        |       WHEN substr(md5(cast(doc_id AS varchar) || ':split'), 1, 4) < 'f333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |WHERE substr(md5(cast(doc_id AS varchar)), 1, 4) < '8000'
        |ORDER BY doc_id""".stripMargin),

    // weighted corpus mixing with repetition: sources upweighted by
    // deterministic repeat (weights > 1) or hash-sampled down (< 1).
    // Weights are exact 2^-16 fractions so engine and oracle agree.
    Gate("corpus_mix", Bench, (s, dir) => {
      import graft.text.Packing
      val docs = Tables(s, dir, "documents")
      val weight = when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 2.5)
        .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 1.0)
        .otherwise(0.25)
      Packing.repeatByWeight(docs, concat(col("doc_id"), lit(":mix")), weight)
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    },
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2.5
        |         WHEN source IN ('src5','src6','src7','src8','src9') THEN 1.0
        |         ELSE 0.25 END AS wt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    -- DuckDB cast(double AS int) ROUNDS, matching the engine's
        |    -- round(frac * 65536); the 65535 cap mirrors the engine too
        |    cast(floor(wt) AS int) +
        |    CASE WHEN substr(md5(cast(doc_id AS varchar) || ':mix'), 1, 4)
        |              < lpad(lower(hex(least(cast((wt - floor(wt)) * 65536 AS int), 65535))), 4, '0')
        |         THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, source, unnest(range(0, n)) AS copy_idx
        |FROM c
        |ORDER BY doc_id, copy_idx""".stripMargin),

    // TEMPERATURE mixture (τ-sampling, qᵢ ∝ nᵢ^τ): τ = 0.5 — the one
    // exponent whose per-source weights (IEEE-exact sqrt) both engines
    // reproduce bit-for-bit — toward half the corpus; its ROLLING-CORPUS
    // form toward a quarter, from persisted per-source counts; and the
    // UPSAMPLING forms (target 2× the corpus: every source's rate
    // exceeds 1 and rows REPEAT — the per-dataset-epochs shape of real
    // training mixes), from corpus and from state counts
    mixGate("corpus_mix_temperature", repeat = false, fromState = false,
      target = _ / 2, targetSql = "sum(n) // 2"),
    mixGate("corpus_mix_temperature_incremental", repeat = false,
      fromState = true, target = _ / 4, targetSql = "sum(n) // 4"),
    mixGate("corpus_mix_temperature_epochs", repeat = true, fromState = false,
      target = _ * 2, targetSql = "sum(n) * 2"),
    mixGate("corpus_mix_temperature_epochs_incremental", repeat = true,
      fromState = true, target = _ * 2, targetSql = "sum(n) * 2"),


    // token-budget curation: keep the highest-alpha-ratio documents
    // until 25% of the corpus's tokens are spent — the exact greedy
    // prefix over (quality DESC, doc_id), computed by histogram cutoff
    // + boundary-level refinement instead of the global sort +
    // single-task running-sum window the semantics naively suggest
    // (BudgetSelect scaladoc has the 100 TB argument). The ppm quality
    // score keeps the levels discrete; the oracle recomputes the same
    // prefix with DuckDB's window form from scratch, so the cutoff
    // arithmetic has no self-confirmation anywhere.
    budgetGate("corpus_budget_select", None, fromState = false),

    // per-domain token budgets (the mixture-spec step): sourceBudgets
    budgetGate("corpus_budget_by_source", Some("source"), fromState = false),

    // exact global top-m: the "select the m best docs" step at a size
    // where orderBy.limit's single-task global limit and a ranking
    // window both stop scaling — and its per-source twin (the
    // mixture-spec "best m docs per domain")
    topMGate("corpus_top_m", None),
    topMGate("corpus_top_m_by_source", Some("source")),


    // curriculum binning: k=7 lands boundaries both between and inside
    // quality levels at every SF; the per-domain twins bin every source
    // into its own 4 stages over its own order, computed without the
    // per-group ranking window whose hottest group would own the wall
    // clock. The by-cost forms cut equal-TOKEN-MASS stages, where
    // equal-doc bins mislead (huge docs dominate a stage's budget).
    binsGate("curriculum_bins", None, k = 7, byCost = false),
    binsGate("curriculum_bins_by_source", Some("source"), k = 4, byCost = false),
    binsGate("curriculum_bins_by_cost", None, k = 7, byCost = true),
    binsGate("curriculum_bins_by_cost_by_source", Some("source"), k = 4,
      byCost = true),


    // rolling-corpus budget cutoff from PERSISTED state: the corpus
    // splits into an "existing" store and an ingest "batch"; the
    // quality-level histogram persists at write time, the batch FOLDS
    // into it (one batch-only aggregation — the existing corpus is
    // never re-scanned), and the selection then runs with its cutoff
    // resolved from state alone. The oracle recomputes the same greedy
    // prefix from scratch over the whole corpus, so a merge bug in the
    // state fold (lost level, double-counted total, wrong min) cannot
    // hide: it would move the cutoff.
    budgetGate("corpus_budget_incremental", None, fromState = true),

    // the mixture-spec twin: per-group state, per-domain cutoffs from
    // state alone, the same budgets and oracle as corpus_budget_by_source
    budgetGate("corpus_budget_incremental_by_source", Some("source"),
      fromState = true),


    // exact corpus statistics incl. interpolated percentiles
    Gate("corpus_stats", Bench, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"), TextOps.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          // interpolated percentiles are doubles — round to a fixed
          // precision so engine/oracle ULP-level drift can't flip the gate
          round(expr("percentile(n_tokens, 0.5)"), 4).as("median_tokens"),
          round(expr("percentile(n_tokens, 0.9)"), 4).as("p90_tokens"))
        .orderBy(col("lang"))
    },
      """WITH t AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), w -> len(w) > 0)) AS n_tokens
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, cast(sum(n_tokens) AS bigint) AS total_tokens,
        |  round(quantile_cont(n_tokens, 0.5), 4) AS median_tokens,
        |  round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    // sketch aggregates: HLL distinct + approximate quantiles (values are
    // approximate by construction → engine-verified in AggSpec, rows-only
    // for the driver)
    // production-parameter sketches held to exact anchors in one pass:
    // the raw HLL/quantile-sketch values are engine-specific (the
    // _bounds twin carries the historical error-band pins), so the gate
    // emits the per-group row count (a genuinely exact cross-engine
    // value) plus in-bound flags computed against the exact aggregates
    // Spark derives alongside the sketches.
    Gate("approx_metrics", Bench, (s, dir) => {
      // the exact p45–p55 band comes from the library's own
      // histogram-cutoff quantiles (one map-side-combined pass +
      // bounded driver lookup), NEVER Spark's exact `percentile`
      // aggregate — that one funnels each group's full value stream
      // into a single buffer (measured 61 s at sf0.1 vs sub-second
      // here, and a non-starter at corpus scale). Prices travel as
      // integer cents on both sides, the house dialect convention.
      val li = Tables(s, dir, "lineitem")
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      val bands = graft.meta.PipelineMetrics.exactQuantilesPerGroup(
          li, col("l_returnflag"), cents, ps = Seq(0.45, 0.55))
        .groupBy(col("group"))
        .agg(min(when(col("p") === 0.45, col("value"))).as("__lo"),
          min(when(col("p") === 0.55, col("value"))).as("__hi"))
      // the exact distinct anchor runs as its OWN two-level aggregate
      // (distinct → count, both map-side combinable): countDistinct
      // inside the sketch aggregation would Expand the row stream and
      // drag the percentile sketch buffers over 2× the rows (measured
      // 43 s at sf0.1 vs ~1 s split)
      val exactD = li.select(col("l_returnflag"), col("l_orderkey"))
        .distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("__ed"))
        .withColumnRenamed("l_returnflag", "__edf")
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("__ad"),
          percentile_approx(cents, lit(0.5), lit(1000)).as("__am"))
        .join(broadcast(exactD), col("l_returnflag") === col("__edf"))
        .join(broadcast(bands), col("l_returnflag") === col("group"))
        .select(col("l_returnflag"), col("n_rows"),
          (abs(col("__ad") - col("__ed")) <= col("__ed") * 0.05)
            .cast("int").as("ok_distinct"),
          (col("__am") >= col("__lo") && col("__am") <= col("__hi"))
            .cast("int").as("ok_median"))
        .orderBy(col("l_returnflag"))
    },
      // per-group exact row counts + sketch-in-bound flags
      """SELECT l_returnflag, cast(count(*) AS bigint) AS n_rows,
        |  1 AS ok_distinct, 1 AS ok_median
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // exact quantiles of price cents, discrete and interpolated, each
    // with its per-domain twin off ONE (group, value) histogram pass.
    // Quarter-fraction ps on the interpolated pair keep every
    // interpolation term exactly representable in double, so the
    // DuckDB compare is bit-exact.
    priceQuantilesGate("exact_quantiles", None,
      Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0), cont = false),
    priceQuantilesGate("exact_quantiles_by_flag", Some("l_returnflag"),
      Seq(0.25, 0.5, 0.9, 0.99), cont = false),
    priceQuantilesGate("exact_quantiles_cont", None,
      Seq(0.0, 0.25, 0.5, 0.75, 1.0), cont = true),
    priceQuantilesGate("exact_quantiles_cont_by_flag", Some("l_returnflag"),
      Seq(0.25, 0.5, 0.75), cont = true),


    weightedQuantilesGate("weighted_quantiles", None,
      allPsPpm),
    weightedQuantilesGate("weighted_quantiles_by_source", Some("source"),
      Seq(250000L, 500000L, 900000L)),


    // WEIGHTED rolling profile: the token-mass quantiles of a growing
    // corpus from persisted weighted state — write + fold + read, zero
    // corpus passes at read time; the oracle is the from-scratch
    // cumulative-weight walk over the WHOLE corpus
    Gate("weighted_quantiles_incremental", Bench, (s, dir) =>
      weightedRows(ProfileState.exactQuantilesPpmFromState(s,
        wstateFor(s, dir), psPpm = allPsPpm), None),
      weightedQuantileSql(allPsPpm, None),
      memoized = true),

    priceQuantilesFromStateGate("exact_quantiles_incremental", None,
      Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)),
    priceQuantilesFromStateGate("exact_quantiles_incremental_by_flag",
      Some("l_returnflag"), Seq(0.25, 0.5, 0.9, 0.99)),


    // distribution drift between two corpus versions answered from two
    // persisted profile states (driver-only read — no corpus pass at
    // diff time): v1 = the pre-ingest store, v2 = store + wave. The
    // oracle recomputes both sides' grouped quantiles from scratch and
    // full-outer-joins them.
    Gate("profile_drift", Bench, (s, dir) => {
      val base = driftStatesFor(s, dir)
      graft.meta.ProfileState.profileDrift(s, base + "/v1", base + "/v2",
          ps = Seq(0.25, 0.5, 0.9))
        .select(col("group").as("l_returnflag"),
          round(col("p") * 1e6).cast("long").as("p_ppm"),
          col("n_a"), col("value_a"), col("n_b"), col("value_b"),
          col("shift"))
        .orderBy(col("l_returnflag"), col("p_ppm"))
    },
      // both corpus versions' grouped quantiles recomputed from scratch,
      // full-outer-joined on (group, p) — the drift must match per cell
      """WITH va AS (
        |  SELECT l_returnflag AS g,
        |    cast(round(l_extendedprice) AS bigint) AS c
        |  FROM lineitem
        |  WHERE l_orderkey % 3 <> 0
        |    AND l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |vb AS (
        |  SELECT l_returnflag AS g,
        |    cast(round(l_extendedprice) AS bigint) AS c
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |qa AS (SELECT g, quantile_disc(c, [0.25, 0.5, 0.9]) AS vs,
        |         count(*) AS n FROM va GROUP BY g),
        |qb AS (SELECT g, quantile_disc(c, [0.25, 0.5, 0.9]) AS vs,
        |         count(*) AS n FROM vb GROUP BY g),
        |ua AS (SELECT g,
        |         unnest(cast([250000, 500000, 900000] AS bigint[])) AS p,
        |         unnest(vs) AS v, n
        |       FROM qa),
        |ub AS (SELECT g,
        |         unnest(cast([250000, 500000, 900000] AS bigint[])) AS p,
        |         unnest(vs) AS v, n
        |       FROM qb)
        |SELECT coalesce(ua.g, ub.g) AS l_returnflag,
        |  coalesce(ua.p, ub.p) AS p_ppm,
        |  ua.n AS n_a, ua.v AS value_a, ub.n AS n_b, ub.v AS value_b,
        |  ub.v - ua.v AS shift
        |FROM ua FULL OUTER JOIN ub ON ua.g = ub.g AND ua.p = ub.p
        |ORDER BY l_returnflag, p_ppm""".stripMargin,
      memoized = true),

    // sketch aggregates held to their advertised error bounds against
    // the EXACT aggregates computed in the same pass: HLL(rsd 1%) within
    // 5%, approx median inside the exact p45–p55 value band. The oracle
    // asserts every group passes — a sketch drifting out of its bound
    // fails the gate.
    Gate("approx_metrics_bounds", Oracle, (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx_d"),
          countDistinct(col("l_orderkey")).as("exact_d"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_med"),
          expr("percentile(l_extendedprice, 0.45)").as("lo"),
          expr("percentile(l_extendedprice, 0.55)").as("hi"))
        .select(col("l_returnflag"),
          (abs(col("approx_d") - col("exact_d")) <= col("exact_d") * 0.05)
            .cast("int").as("ok_distinct"),
          (col("approx_med") >= col("lo") && col("approx_med") <= col("hi"))
            .cast("int").as("ok_median"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, cast(1 AS int) AS ok_distinct,
        |  cast(1 AS int) AS ok_median
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )
}
