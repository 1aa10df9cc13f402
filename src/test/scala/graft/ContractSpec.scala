package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: every oracle has a query, names are
  * unique across the merged registries, and the flagship entry returns
  * rows — the failure modes that would silently weaken the gate (an
  * orphaned oracle key is just dropped; a duplicate name shadows an
  * operator's coverage). */
class ContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("registry names never collide across query groups") {
    import graft.queries._
    val groups = Seq(
      "parity" -> ParityGates.gates, "scalar" -> ScalarGates.gates,
      "ingest" -> IngestGates.gates, "dedup" -> DedupGates.gates,
      "text" -> TextGates.gates, "vector" -> VectorGates.gates,
      "selection" -> SelectionGates.gates, "temporal" -> TemporalGates.gates,
      "web" -> WebGates.gates, "warc" -> WarcGates.gates,
      "media" -> MediaGates.gates).map { case (k, gs) => k -> gs.map(_.name).toSet }
    for {
      (na, a) <- groups; (nb, b) <- groups if na < nb
    } assert((a & b).isEmpty, s"$na and $nb both define: ${a & b}")
    assert(groups.map(_._2.size).sum == Gates.all.size)
  }

  test("flagship entry returns rows on the smoke corpus") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
