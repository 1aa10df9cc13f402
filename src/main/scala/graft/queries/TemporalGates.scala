package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

import Tier._

/** Windowed and temporal gates: top-k per group, as-of and range
  * joins, sessionization and event windows. */
object TemporalGates {

  /** As-of join recomputed by DuckDB's native ASOF — shared by the keyed
    * and the chunked-carry plan, which must be indistinguishable in
    * output. */
  private val asofJoinSql: String =
    """WITH r AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS ok
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
      |  cast(r.ok AS bigint) AS payload
      |FROM events e ASOF LEFT JOIN r
      |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** Gap-sessionization recomputed from scratch — shared by the keyed
    * and the chunked plan, which must be indistinguishable in output. */
  private val sessionizeSql: String =
    """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      |s AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |              OR ts_us - lag(ts_us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |x AS (
      |  SELECT user_id,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
      |                   ROWS UNBOUNDED PRECEDING) - 1 AS session_id
      |  FROM s)
      |SELECT user_id, cast(max(session_id) + 1 AS bigint) AS n_sessions, count(*) AS n_events
      |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin

  val gates: Seq[Gate] = Seq(

    // interval join via the binned bucket equi-join (TemporalOps
    // scaladoc): each event paired with the same user's events in the
    // PRECEDING hour. Self-joins events on purpose — the fixture's
    // orders live in a disjoint 1995-2001 era, so any events×orders
    // interval is empty at every SF and the r4/r5 form of this gate
    // passed vacuously on 0 == 0 rows; an events-to-events window
    // overlaps by construction. Oracle: DuckDB's native inequality
    // join over the same frames.
    Gate("range_join", Bench, (s, dir) => {
      val ev = Tables(s, dir, "events")
      val tsUs = graft.ops.TemporalOps.epochMicros(ev)
      val e = ev.select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
      val p = ev.select(col("event_id").as("prior_id"), col("user_id"),
          tsUs.as("pts_us"))
      graft.ops.TemporalOps.rangeJoin(e, p,
          leftKey = col("user_id"), rightKey = col("user_id"),
          leftTs = col("ts_us"), rightTs = col("pts_us"),
          lower = -3600L * 1000000L, upper = -1L,
          rightCols = Seq(col("prior_id")))
        .orderBy(col("event_id"), col("prior_id"))
    },
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  p.event_id AS prior_id
        |FROM events e JOIN events p
        |  ON e.user_id = p.user_id
        | AND epoch_us(p.ts)
        |     BETWEEN epoch_us(e.ts) - 3600000000 AND epoch_us(e.ts) - 1
        |ORDER BY e.event_id, prior_id""".stripMargin),

    // ── Windowed / approximate analytics ───────────────────────────────
    // top-N per group via ranking windows (the reference has no window
    // operators — declared extension), in the two-phase salted shape of
    // Sampling.takePerGroup: five segments would otherwise each sort a
    // fifth of the corpus in ONE window task; phase 1 ranks per
    // (segment, key-hash slice), phase 2 re-ranks at most 3·salts rows
    // per segment — identical rows, bounded tasks at any scale
    Gate("window_topk_group", Bench, (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rank = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
      val w1 = Window.partitionBy(col("c_mktsegment"), col("__salt"))
        .orderBy(rank: _*)
      val w2 = Window.partitionBy(col("c_mktsegment")).orderBy(rank: _*)
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .withColumn("__salt", pmod(xxhash64(col("o_orderkey")), lit(16)))
        .withColumn("__rk1", row_number().over(w1))
        .where(col("__rk1") <= 3)
        .withColumn("rn", row_number().over(w2))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
          ParityGates.cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },
      """SELECT c_mktsegment, rn, o_orderkey,
        |  cast(round(o_totalprice * 100) AS bigint) AS price_cents
        |FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin),

    // as-of join (no built-in in Spark): latest order at-or-before each
    // event, union+window implementation — one key shuffle, no range
    // explosion. Oracle: DuckDB's native ASOF LEFT JOIN.
    Gate("asof_join", Bench, (s, dir) => {
      val ev = Tables(s, dir, "events")
      val e = ev.select(col("event_id"), col("user_id"),
          graft.ops.TemporalOps.epochMicros(ev).as("ts_us"))
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("ok"))
      graft.ops.TemporalOps.asofJoin(e, o,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          // o_orderdate is TIMESTAMP_NTZ; cast in the UTC session = same
          // wall time, so unix_micros aligns with DuckDB's epoch_us
          leftTs = col("ts_us"),
          rightTs = unix_micros(col("o_orderdate").cast("timestamp")),
          payload = col("ok"))
        .orderBy(col("event_id"))
    },
      asofJoinSql),

    // the hot-key-safe as-of variant MUST land on the identical answer
    // (same DuckDB ASOF oracle): 2-hour chunks, so most events' as-of
    // order sits chunks away and the carry path is genuinely exercised
    Gate("asof_join_chunked", Bench, (s, dir) => {
      val ev = Tables(s, dir, "events")
      val e = ev.select(col("event_id"), col("user_id"),
          graft.ops.TemporalOps.epochMicros(ev).as("ts_us"))
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("ok"))
      graft.ops.TemporalOps.asofJoinChunked(e, o,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTs = col("ts_us"),
          rightTs = unix_micros(col("o_orderdate").cast("timestamp")),
          payload = col("ok"), chunkWidth = 7200000000L)
        .orderBy(col("event_id"))
    },
      // identical answer demanded of the chunked carry plan
      asofJoinSql),

    // gap-based sessionization (30-minute gap) — lag + running break sum
    Gate("sessionize", Bench, (s, dir) => {
      val ev = Tables(s, dir, "events")
      val e = ev.select(col("user_id"),
          graft.ops.TemporalOps.epochMicros(ev).as("ts_us"))
      graft.ops.TemporalOps.sessionize(e, col("user_id"), col("ts_us"),
          gap = 1800000000L)
        .groupBy(col("user_id"))
        .agg((max(col("session_id")) + 1).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
      sessionizeSql),

    // the hot-key-safe variant MUST land on the identical answer (same
    // oracle SQL): 2-hour chunks against the 30-minute gap, so real
    // sessions regularly cross chunk boundaries and the boundary-merge
    // pass is genuinely exercised at fixture scale
    Gate("sessionize_chunked", Bench, (s, dir) => {
      val ev = Tables(s, dir, "events")
      val e = ev.select(col("user_id"),
          graft.ops.TemporalOps.epochMicros(ev).as("ts_us"))
      graft.ops.TemporalOps.sessionizeChunked(e, col("user_id"),
          col("ts_us"), gap = 1800000000L, chunkWidth = 7200000000L)
        .groupBy(col("user_id"))
        .agg((max(col("session_id")) + 1).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
      // identical answer demanded of the chunked plan — the whole point
      // of the variant is that chunking is invisible in the output
      sessionizeSql),

    // Event-time windowed aggregation (batch twin of the streaming plan —
    // graft.streaming.StreamingIngest.windowedEventCounts)
    Gate("events_window", Bench, (s, dir) => {
      graft.streaming.StreamingIngest
        .windowedEventCounts(Tables(s, dir, "events"))
        .orderBy(col("window_start"), col("event_type"))
    },
      """SELECT date_trunc('hour', cast(ts AS timestamp)) AS window_start,
        |  event_type, count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
  )
}
