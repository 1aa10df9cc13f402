package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.KvOps

import Tier._

/** SURVEY.md §2.3/§2.7/§2.8 — projections, casts, scalar functions, set
  * operations, and the differential-comparison join, each with a DuckDB
  * oracle. Engine-vs-oracle dialect notes are inline where semantics
  * differ (cast rounding, 1-based list indexing, strftime patterns).
  */
object ScalarGates {

  /** Per event_type row count and sum of the integer `$.k` of props,
    * the oracle of both JSON extraction paths (string and VARIANT).
    * DuckDB sum(int) widens to HUGEINT (int128), which the driver's
    * fetch path renders as float — cast to bigint to match Spark's sum.
    * The integer-pattern guard reproduces Spark's try_cast(string AS
    * int): DuckDB's bare try_cast ROUNDS '3.7' to 4 (and parses '1e3'
    * to 1000) where Spark nulls both, so an unguarded oracle diverges
    * the day a non-integer k lands in the fixture. The edge trim
    * mirrors Spark's cast EXACTLY: UTF8String.trimAll strips every
    * char <= 0x20 (probe-verified: \f, \v, NUL all trim to 42; NEL
    * 0x85 does NOT), so a char-set trim of just space/tab/CR/LF would
    * diverge on a form-feed-padded k. */
  private val jsonKSql =
    """WITH x AS (
      |  SELECT event_type,
      |    CASE WHEN json_valid(props)
      |         THEN json_extract_string(props, '$.k') END AS ks
      |  FROM events),
      |t AS (SELECT event_type,
      |        regexp_replace(ks, '^[\x00-\x20]+|[\x00-\x20]+$', '', 'g') AS ks
      |      FROM x)
      |SELECT event_type, count(*) AS n,
      |  cast(sum(CASE WHEN regexp_matches(ks, '^[-+]?[0-9]+$')
      |      THEN try_cast(ks AS integer) END) AS bigint) AS sum_k
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  val gates: Seq[Gate] = Seq(

    // P1/P2: literal enrichment — the trigger-metadata constants pattern
    Gate("enrich_lit", Oracle, (s, dir) => {
      Tables(s, dir, "customer")
        .withColumn("source", lit("mds"))
        .withColumn("load_ww", lit(202532))
        .select(col("c_custkey"), col("source"), col("load_ww"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, 'mds' AS source, 202532 AS load_ww
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // P5: cast (string/double → int). Spark cast truncates toward zero;
    // oracle uses floor() to match on the (positive) domain.
    Gate("cast_int", Oracle, (s, dir) => {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty_int"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  cast(floor(l_quantity) AS integer) AS qty_int
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P6: struct build + field projection
    Gate("struct_access", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .select(struct(col("o_orderkey").as("k"), col("o_orderstatus").as("st")).as("s"))
        .select(col("s.k").as("okey"), col("s.st").as("status"))
        .orderBy(col("okey"))
    },
      """SELECT o_orderkey AS okey, o_orderstatus AS status
        |FROM orders ORDER BY okey""".stripMargin),

    // P7: array index (split + element 0)
    Gate("array_index", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          split(col("o_orderpriority"), "-").getItem(0).as("prio_num"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, string_split(o_orderpriority, '-')[1] AS prio_num
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F1: row-key assembly via concat_ws
    Gate("rowkey_assembly", Oracle, (s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          concat_ws("|", col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
            .as("rowKey"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey,
        |  concat_ws('|', c_custkey, c_nationkey, c_mktsegment) AS rowKey
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // F2+F9: MUCR-style qualifier = flag ++ hex(len(id)) ++ id
    Gate("qualifier_concat", Oracle, (s, dir) => {
      Tables(s, dir, "part")
        .select(col("p_partkey"),
          concat(col("p_brand"), lower(hex(length(col("p_type")))), col("p_type"))
            .as("qualifier"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey,
        |  p_brand || lower(hex(length(p_type))) || p_type AS qualifier
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F9: hex of a length
    Gate("hex_len", Oracle, (s, dir) => {
      Tables(s, dir, "part")
        .select(col("p_partkey"), hex(length(col("p_name"))).as("hex_len"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, hex(length(p_name)) AS hex_len
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F11: regex first-match extraction. No-match yields '' in BOTH
    // engines, and ''::int is an error under ANSI/DuckDB — null it out.
    Gate("regex_extract", Baseline, (s, dir) => {
      val m = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
      Tables(s, dir, "events")
        .select(col("event_id"),
          when(m =!= "", m.cast("int")).as("k"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id,
        |  cast(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS integer) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // F12: trailing-empty-preserving split
    Gate("split_keep_trailing", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          KvOps.splitKeepTrailing(concat(col("o_orderpriority"), lit("--")), "-")
            .as("toks"))
        .select(col("o_orderkey"),
          size(col("toks")).as("n_toks"),
          array_join(col("toks"), "/").as("joined"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |  len(string_split(o_orderpriority || '--', '-')) AS n_toks,
        |  array_to_string(string_split(o_orderpriority || '--', '-'), '/') AS joined
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F13: delimiter translate
    Gate("translate_delim", Oracle, (s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          translate(col("c_name"), "#0", "_x").as("tname"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, translate(c_name, '#0', '_x') AS tname
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // F15: date formatting + month rollup
    Gate("date_format_q", Baseline, (s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
        .orderBy(col("month"))
    },
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
        |  cast(sum(cast(o_totalprice AS decimal(12,2))) AS double) AS total
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),

    // F6: k=v detail parsing through a map (pure expressions, no UDF)
    Gate("kv_parse", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          KvOps.kvParse(array(
            concat(lit("col1="), col("o_orderstatus")),
            concat(lit("col2="), col("o_orderpriority")))).as("m"))
        .select(col("o_orderkey"),
          element_at(col("m"), "col1").as("status"),
          element_at(col("m"), "col2").as("priority"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS priority
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F7: SQL-fragment builder accepted by selectExpr
    Gate("expr_string", Oracle, (s, dir) => {
      Tables(s, dir, "nation")
        .selectExpr("n_nationkey",
          KvOps.exprWs("|", "n_name", "n_regionkey") + " as joined")
        .orderBy(col("n_nationkey"))
    },
      """SELECT n_nationkey, concat_ws('|', n_name, n_regionkey) AS joined
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // Extension (modern F6 analogue): JSON extraction over events.props.
    // try_cast keeps one malformed/non-numeric row from killing the
    // query (get_json_object nulls on bad JSON; the cast must too).
    Gate("json_extract", Oracle, (s, dir) => {
      Tables(s, dir, "events")
        .select(col("event_type"),
          expr("try_cast(get_json_object(props, '$.k') AS int)").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    },
      jsonKSql),

    // the same extraction through Spark 4's native VARIANT type: parse
    // once into the binary variant encoding, typed path extraction after
    // — at scale the parse cost is paid once per row however many paths
    // are read, where get_json_object re-parses the string per path.
    // Extraction goes variant → STRING → try_cast int, NOT
    // variant_get(..., 'int') (which coerces booleans and truncates
    // doubles). Cross-engine cast parity is subtle — Spark's
    // try_cast('3.7' AS int) is NULL while DuckDB's ROUNDS to 4 — so
    // the ORACLE guards with an integer-pattern regex to reproduce
    // Spark's accept-integers-only semantics for every k type.
    Gate("variant_extract", Bench, (s, dir) => {
      Tables(s, dir, "events")
        .select(col("event_type"),
          expr("try_cast(try_variant_get(try_parse_json(props), " +
            "'$.k', 'string') AS int)").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    },
      jsonKSql),

    // F4: explode of a computed array
    Gate("explode_group", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          explode(split(col("o_orderpriority"), "-")).as("tok"))
        .orderBy(col("o_orderkey"), col("tok"))
    },
      """SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS tok
        |FROM orders ORDER BY o_orderkey, tok""".stripMargin),

    // §2.7: union of same-schema batches (the 2000-file batch concept)
    Gate("union_all", Oracle, (s, dir) => {
      val o = Tables(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .unionByName(
          o.filter(col("o_orderstatus") === "O")
            .select(col("o_orderkey"), col("o_orderstatus")))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin),

    // §2.7: except (distinct) — set-difference flavor of the diff
    Gate("except_diff", Oracle, (s, dir) => {
      val o = Tables(s, dir, "orders")
      o.filter(col("o_totalprice") > 100000).select(col("o_orderkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
        |EXCEPT
        |SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin),

    // J3: full differential comparison — file-side vs table-side values
    // with mismatch flags (the reference's file*/table* naming contract)
    Gate("diff_compare", Baseline, (s, dir) => {
      val file = Tables(s, dir, "orders").select(
        col("o_orderkey").as("fileRowKey"),
        col("o_totalprice").cast("decimal(12,2)").as("fileValue"))
      val table = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("tableRowKey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("decimal(18,2)")
          .as("tableValue"))
      file.join(table, col("fileRowKey") === col("tableRowKey"), "full_outer")
        .select(
          coalesce(col("fileRowKey"), col("tableRowKey")).as("rowKey"),
          col("fileValue").cast("double").as("fileValue"),
          col("tableValue").cast("double").as("tableValue"),
          coalesce(col("fileValue") === col("tableValue"), lit(false)).as("matched"))
        .orderBy(col("rowKey"))
    },
      """SELECT coalesce(f.o_orderkey, t.l_orderkey) AS rowKey,
        |  cast(f.v AS double) AS fileValue,
        |  cast(t.v AS double) AS tableValue,
        |  coalesce(f.v = t.v, false) AS matched
        |FROM (SELECT o_orderkey, cast(o_totalprice AS decimal(12,2)) AS v FROM orders) f
        |FULL OUTER JOIN (
        |  SELECT l_orderkey,
        |    cast(sum(cast(l_extendedprice AS decimal(12,2))) AS decimal(18,2)) AS v
        |  FROM lineitem GROUP BY l_orderkey) t
        |ON f.o_orderkey = t.l_orderkey
        |ORDER BY rowKey""".stripMargin),

    // §2.11: whole-query SQL surface over registered temp views
    Gate("sql_api", Oracle, (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderstatus, count(*) AS n,
          |  cast(sum(cast(o_totalprice AS decimal(12,2))) AS double) AS total
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  cast(sum(cast(o_totalprice AS decimal(12,2))) AS double) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // A5: per-load operational counters (result_metric shape)
    Gate("load_metrics", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .agg(
          count(lit(1)).as("row_count"),
          countDistinct(col("o_custkey")).as("unit_count"),
          min(col("o_orderdate")).as("start_date"),
          max(col("o_orderdate")).as("end_date"))
    },
      """SELECT count(*) AS row_count, count(DISTINCT o_custkey) AS unit_count,
        |  min(o_orderdate) AS start_date, max(o_orderdate) AS end_date
        |FROM orders""".stripMargin),

    // ── Environment canary (report-only probe, NOT a counted gate) ─────
    // One tiny data-independent query exercising the constructs that
    // have historically drifted BETWEEN ENGINE VERSIONS rather than
    // between plans: double rounding on a tie, double-product rounding
    // just below an integer, decimal-literal × integer ceil, regex and
    // length over astral-plane text, and the HUGEINT ceil-division the
    // weighted-quantile family rides. The last two columns are
    // DELIBERATE uncast probes: DuckDB types them HUGEINT and wide
    // DECIMAL respectively, the two rendering classes that cost data
    // gates in rounds 12 (×3) and 13 (×1); every data-gate oracle now
    // casts them away (oracle discipline), so the divergence is EXPECTED
    // here and must not sit in the pass/fail roll-up. The Probe tier
    // keeps it out of `queries`: Verify records its values in _env.json
    // (and stdout), with the DuckDB side in _probe_sql.json, so
    // CORRECTNESS stays all-green when the engine is healthy and a
    // FUTURE genuine canary trip is visible as a changed probe value
    // rather than masked by a permanent red.
    Gate("env_canary", Probe, (s, _) => {
      val astral = "a😀b👍cX" // a😀b👍cX
      val uncast = s.range(5).agg(
        sum(col("id") + lit(1000000000000L)).as("hugeint_sum"),
        sum(lit(new java.math.BigDecimal("1.1"))).as("dec_sum"))
      s.range(1).select(
        round(lit(2.5)).cast("long").as("round_tie_pos"),
        round(lit(-2.5)).cast("long").as("round_tie_neg"),
        round(lit(2.675) * 100).cast("long").as("round_dbl_product"),
        ceil(lit(0.9) * 61).cast("long").as("ceil_decimal_mul"),
        size(regexp_extract_all(lit(astral), lit("[A-Za-z]"), lit(0)))
          .cast("long").as("regex_astral"),
        length(lit(astral)).cast("long").as("len_astral"),
        expr("CAST((1234567890123L * 990000 + 999999) DIV 1000000 AS LONG)")
          .as("ceil_ppm_div"),
        (lit(0.1) + lit(0.2)).as("dbl_sum"))
        .crossJoin(broadcast(uncast))
    },
      // the env-drift diagnostic's DuckDB side: constant inputs, so a
      // mismatch names the drifted construct directly. Dumped to
      // _probe_sql.json by Verify — deliberately NOT in oracleSql, so the
      // expected HUGEINT/DECIMAL rendering divergence never shows as a
      // red gate.
      """SELECT
        |  cast(round(2.5) AS bigint) AS round_tie_pos,
        |  cast(round(-2.5) AS bigint) AS round_tie_neg,
        |  cast(round(2.675 * 100) AS bigint) AS round_dbl_product,
        |  cast(ceil(0.9 * 61) AS bigint) AS ceil_decimal_mul,
        |  cast(len(regexp_extract_all('a😀b👍cX', '[A-Za-z]'))
        |    AS bigint) AS regex_astral,
        |  cast(length('a😀b👍cX') AS bigint) AS len_astral,
        |  cast((1234567890123 * 990000 + 999999) // 1000000
        |    AS bigint) AS ceil_ppm_div,
        |  CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS dbl_sum,
        |  (SELECT sum(i + 1000000000000) FROM range(5) t(i))
        |    AS hugeint_sum,
        |  (SELECT sum(cast(1.1 AS decimal(2,1))) FROM range(5) t(i))
        |    AS dec_sum""".stripMargin),
  )
}
