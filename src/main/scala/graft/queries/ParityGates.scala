package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{KvOps, SaltExpr}

import Tier._

/** SURVEY.md §2 operator inventory as testdata queries, each paired with
  * an ANSI-SQL oracle runnable by DuckDB on the same parquet files.
  *
  * Conventions for oracle determinism (SURVEY.md §5, §7.4):
  *  - every query ends in an explicit ORDER BY;
  *  - collect_list is always sorted (`sort_array`) — justified because the
  *    reference itself sorts before concatenating (Utils.scala:53);
  *  - double aggregates go through decimal(12,2) (exact) and are cast to
  *    double only at the end, so Spark and DuckDB agree bit-for-bit;
  *  - packed-cell queries use '|' as the visible stand-in for the \0
  *    delimiter (DuckDB varchars don't round-trip NUL); the engine-native
  *    \0 codec is exercised by the scalatest round-trip suite instead.
  */
object ParityGates {

  private def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Price columns compared cell-by-cell with the oracle travel as integer
    * cents: `round(x*100)` is the same IEEE product and the same
    * half-away-from-zero rounding in Spark and DuckDB, and a BIGINT renders
    * identically in every client — unlike double→decimal(12,2) casts, where
    * the two engines round different representations of the double (Spark
    * the shortest decimal repr, DuckDB the binary expansion) and drift on
    * ~7% of the cells. Aggregates still go through decimal (exact sums). */
  private[queries] def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Shared packed-cell building blocks over `lineitem`:
    * rowKey = l_orderkey, qualifier = l_returnflag,
    * payload tuple = l_linenumber,l_quantity (A1/A2/F1/F2 shapes). */
  private def liKv(li: DataFrame): DataFrame =
    li.select(
      col("l_orderkey").cast("string").as("rowKey"),
      col("l_returnflag").as("columnName"),
      concat_ws(",", col("l_linenumber"), dec(col("l_quantity"))).as("cellValue"))

  /** [[liKv]] spread by the pack keys for the groupBy(rowKey,
    * columnName) gates: the one-row-group lineitem scan serializes the
    * pack aggregation into a few tasks, so the kv frame
    * under-split-spreads on EXACTLY the aggregation keys — the
    * explicit exchange replaces (not adds to) the groupBy's own
    * (HashPartitioning(rowKey, columnName) satisfies the aggregation's
    * clustered distribution), keeping the PlanSpec single-shuffle KV
    * lifecycle: one pack exchange + the display sort, at toy SF and at
    * scale alike (where the spread is a no-op and the groupBy plans
    * its own exchange as before). Pack partials concatenate rather
    * than reduce, so shuffling raw kv rows moves the same bytes the
    * partial-agg buffers did. */
  private def liKvSpread(li: DataFrame): DataFrame =
    graft.dedup.Dedup.spreadScan(liKv(li),
      col("rowKey"), col("columnName"))

  private val liKvSql =
    """SELECT cast(l_orderkey AS varchar) AS rowKey,
      |       l_returnflag AS columnName,
      |       concat_ws(',', l_linenumber, cast(cast(l_quantity AS decimal(12,2)) AS varchar)) AS cellValue
      |FROM lineitem""".stripMargin

  /** Per-cell count + sorted, newline-joined payload: the oracle of
    * both pack_cells and strip_prefix (count-prefixed pack, then strip,
    * must land on the same payload). */
  private val packedCellsSql =
    s"""WITH kv AS ($liKvSql)
       |SELECT rowKey, columnName, count(*) AS n,
       |       string_agg(cellValue, chr(10) ORDER BY cellValue) AS payload
       |FROM kv GROUP BY rowKey, columnName
       |ORDER BY rowKey, columnName""".stripMargin

  // Round-trip: pack → unpack ≡ source projection (Utils.scala:377-402);
  // also the flagship gate behind SparkEntry.entry
  val unpackCells: Gate = Gate("unpack_cells", Baseline, (s, dir) => {
    val kv = liKvSpread(Tables(s, dir, "lineitem"))
      .groupBy(col("rowKey"), col("columnName"))
      .agg(KvOps.packAgg(col("cellValue"), delim = "|").as("value"))
    KvOps.unpackCells(kv, delim = "|")
      .select(col("rowKey"), col("columnName"), col("packedValue"))
      .orderBy(col("rowKey"), col("columnName"), col("packedValue"))
  },
    s"""WITH kv AS ($liKvSql)
       |SELECT rowKey, columnName, cellValue AS packedValue
       |FROM kv
       |ORDER BY rowKey, columnName, packedValue""".stripMargin)

  val gates: Seq[Gate] = Seq(

    // ── Aggregation (A1-A5) ────────────────────────────────────────────
    Gate("q1_agg", Baseline, (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(12,2))) AS double) AS sum_base_price,
        |  cast(sum(cast(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(12,2))) AS decimal(18,4))) AS double) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Pack aggregation (A1+A2+A4): many rows → one ordered cell payload
    Gate("pack_cells", Oracle, (s, dir) => {
      liKvSpread(Tables(s, dir, "lineitem"))
        .groupBy(col("rowKey"), col("columnName"))
        .agg(
          count(lit(1)).as("n"),
          array_join(sort_array(collect_list(col("cellValue"))), "\n").as("payload"))
        .orderBy(col("rowKey"), col("columnName"))
    },
      packedCellsSql),

    // Full packed-cell format: n | payload (count prefix, Utils.scala:56)
    // — the native TypedImperativeAggregate form (PackAggregate)
    Gate("pack_concat", Baseline, (s, dir) => {
      liKvSpread(Tables(s, dir, "lineitem"))
        .groupBy(col("rowKey"), col("columnName"))
        .agg(graft.ops.PackAggregate.packAggNative(col("cellValue"), delim = "|")
          .as("cell"))
        .orderBy(col("rowKey"), col("columnName"))
    },
      s"""WITH kv AS ($liKvSql)
         |SELECT rowKey, columnName,
         |       count(*) || '|' || string_agg(cellValue, chr(10) ORDER BY cellValue) AS cell
         |FROM kv GROUP BY rowKey, columnName
         |ORDER BY rowKey, columnName""".stripMargin),

    unpackCells,

    // Count-prefix strip (F10) + cell count (A4)
    Gate("strip_prefix", Oracle, (s, dir) => {
      liKvSpread(Tables(s, dir, "lineitem"))
        .groupBy(col("rowKey"), col("columnName"))
        .agg(KvOps.packAgg(col("cellValue"), delim = "|").as("cell"))
        .select(
          col("rowKey"), col("columnName"),
          KvOps.cellCount(col("cell"), delim = "|").as("n"),
          KvOps.stripCountPrefix(col("cell"), delim = "|").as("payload"))
        .orderBy(col("rowKey"), col("columnName"))
    },
      packedCellsSql),

    // Salt distribution (F5). The Java-hash-with-overflow salt is
    // oracle-checked here because these rowKeys are ASCII (code point =
    // UTF-8 byte): DuckDB folds (31·acc + byte) mod 2³² per character
    // and re-signs — exactly the reference's 32-bit overflow arithmetic.
    // Non-ASCII keys stay engine-verified (CodecSpec golden vectors).
    Gate("salt_bucket", Baseline, (s, dir) => {
      liKv(Tables(s, dir, "lineitem"))
        .select(SaltExpr.saltCol(col("rowKey")).as("salt"))
        .groupBy(col("salt")).agg(count(lit(1)).as("n"))
        .orderBy(col("salt"))
    },
      """WITH kv AS (SELECT cast(l_orderkey AS varchar) AS rowKey FROM lineitem),
        |h AS (
        |  SELECT rowKey,
        |    list_reduce(
        |      list_prepend(CAST(1 AS BIGINT),
        |        list_transform(range(1, len(rowKey) + 1),
        |                       i -> CAST(ascii(substr(rowKey, i, 1)) AS BIGINT))),
        |      (acc, b) -> (acc * 31 + b) % 4294967296) AS m
        |  FROM kv),
        |s AS (
        |  SELECT cast(abs((CASE WHEN m >= 2147483648 THEN m - 4294967296
        |                        ELSE m END) % 24) AS int) AS salt
        |  FROM h)
        |SELECT salt, count(*) AS n FROM s GROUP BY salt ORDER BY salt""".stripMargin),

    // ── Joins (J1-J3) ──────────────────────────────────────────────────
    // Trigger-metadata broadcast join (J1): small dim broadcast to facts
    Gate("broadcast_join", Baseline, (s, dir) => {
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice AS decimal(12,2))) AS double) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Batched point-get (S5/J2): bounded probe-key set joined to the store
    Gate("lookup_join", Baseline, (s, dir) => {
      val o = Tables(s, dir, "orders")
      val probes = o.orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(1000).select(col("o_orderkey").as("l_orderkey"))
      Tables(s, dir, "lineitem")
        .join(broadcast(probes), Seq("l_orderkey"), "inner")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("l_orderkey"))
    },
      """WITH probes AS (
        |  SELECT o_orderkey FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1000)
        |SELECT l.l_orderkey AS l_orderkey, count(*) AS n_items,
        |  cast(sum(cast(l.l_quantity AS decimal(12,2))) AS double) AS sum_qty
        |FROM lineitem l JOIN probes p ON l.l_orderkey = p.o_orderkey
        |GROUP BY l.l_orderkey ORDER BY l_orderkey""".stripMargin),

    // Differential comparison (J3): anti-join finds keys absent on one side
    Gate("diff_antijoin", Oracle, (s, dir) => {
      val hi = Tables(s, dir, "lineitem")
        .filter(col("l_quantity") > 49).select(col("l_orderkey")).distinct()
      Tables(s, dir, "orders")
        .join(hi, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_quantity > 49 AND l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // ── Scans / filters / projections (S6, P1-P5, O2, O3) ──────────────
    Gate("prefix_scan", Oracle, (s, dir) => {
      Tables(s, dir, "customer")
        .filter(col("c_name").startsWith("Customer#00000001"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_name LIKE 'Customer#00000001%'
        |ORDER BY c_custkey""".stripMargin),

    Gate("filter_eq", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("o_orderkey"))
    },
      // Prices compared cell-by-cell travel as integer cents (see `cents`):
      // round(x*100) is the same IEEE double product and the same
      // half-away-from-zero rounding in both engines, and BIGINT rendering is
      // client-independent — double→decimal casts drifted on boundary cells.
      """SELECT o_orderkey, cast(round(o_totalprice * 100) AS bigint) AS price_cents
        |FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin),

    Gate("project_alias", Oracle, (s, dir) => {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_linenumber").as("line"),
          cents(col("l_extendedprice")).as("price_cents"))
        .orderBy(col("okey"), col("line"))
    },
      """SELECT l_orderkey AS okey, l_linenumber AS line,
        |  cast(round(l_extendedprice * 100) AS bigint) AS price_cents
        |FROM lineitem ORDER BY okey, line""".stripMargin),

    Gate("topk", Baseline, (s, dir) => {
      Tables(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    },
      """SELECT o_orderkey, cast(round(o_totalprice * 100) AS bigint) AS price_cents
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    Gate("limit1", Oracle, (s, dir) => {
      Tables(s, dir, "orders")
        .orderBy(col("o_orderkey")).limit(1)
        .select(col("o_orderkey"), col("o_orderstatus"))
    },
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 1""".stripMargin),
  )
}
