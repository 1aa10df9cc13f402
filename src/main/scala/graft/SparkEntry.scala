package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Gates, ParityGates}

/** Driver contract — see SURVEY.md §7.
  *
  * Every map here is a view of the one gate list ([[graft.queries.Gates]]),
  * where each gate is declared once, with its Spark plan, its DuckDB
  * oracle SQL and its tier, in its family module under `graft.queries`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the full KV lifecycle —
    * long rows → pack into salted cells → unpack → long rows again
    * (SURVEY.md §7.2). Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ParityGates.unpackCells.build(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.checked.map(g => g.name -> g.build).toMap

  def oracleSql: Map[String, String] =
    Gates.checked.map(g => g.name -> g.oracleSql).toMap

  /** Report-only environment probes: constant-input queries whose
    * DuckDB rendering is KNOWN to diverge on some driver envs
    * (HUGEINT/DECIMAL). Verify evaluates them into _env.json and dumps
    * the DuckDB side as _probe_sql.json — they are deliberately NOT in
    * `queries`/`oracleSql`, so they never count in the pass/fail
    * roll-up. */
  def probes: Map[String, (SparkSession, String) => DataFrame] =
    Gates.probes.map(g => g.name -> g.build).toMap

  def probeSql: Map[String, String] =
    Gates.probes.map(g => g.name -> g.oracleSql).toMap
}
