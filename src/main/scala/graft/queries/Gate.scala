package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Which harnesses a gate belongs to. Every non-probe gate is checked
  * by Verify against its DuckDB oracle; the tier adds the rest.
  *  - [[Tier.Oracle]]: correctness only.
  *  - [[Tier.Bench]]: also timed by `graft.Bench`.
  *  - [[Tier.Baseline]]: benched, and one of the BASELINE.md gates that
  *    Bench re-emits last and Explain lists by default.
  *  - [[Tier.Probe]]: a report-only environment probe; Verify records
  *    its values and never counts it as a pass or a fail. */
sealed trait Tier
object Tier {
  case object Oracle extends Tier
  case object Bench extends Tier
  case object Baseline extends Tier
  case object Probe extends Tier
}

/** One correctness gate, declared once: the Spark plan over a data dir,
  * the DuckDB SQL that must return the same rows over the same parquet
  * tables, and its [[Tier]]. `memoized` marks a gate whose first
  * invocation per JVM and data dir also pays a one-time index or state
  * build (see [[IndexCache]]); Bench pre-pays that build before timing
  * and reports it apart as `build_sec`.
  *
  * Oracle policy: SQL-expressible ops carry a row-for-row DuckDB
  * restatement; ops built on 64-bit engine hashes (xxhash64 minhash,
  * simhash, LSH) carry an invariant oracle instead (a planted-pair
  * count, a recall set, or a per-query exactness summary), and their
  * agreement with the exact algorithms is pinned by the scalatest
  * suites. */
final case class Gate(name: String, tier: Tier,
    build: (SparkSession, String) => DataFrame, oracleSql: String,
    memoized: Boolean = false) {
  def benched: Boolean = tier == Tier.Bench || tier == Tier.Baseline
}
