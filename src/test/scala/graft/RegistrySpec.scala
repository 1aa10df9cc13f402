package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Gates

/** Gate-registry hygiene. Each gate is declared once, so names cannot
  * collide across maps and an oracle cannot orphan; what is left to pin
  * is the tier membership (a dropped tier tag would silently shrink the
  * bench or the baseline) and the two checks the registry enforces at
  * runtime: a name declared twice, and an unknown name in a selection. */
class RegistrySpec extends AnyFunSuite {

  test("tier membership is pinned: 224 checked, 167 benched, 19 baseline, 16 memoized") {
    assert(Gates.checked.size == 224)
    assert(Gates.checked.forall(_.oracleSql.trim.nonEmpty))
    assert(Gates.benched.size == 167)
    assert(Gates.baseline.map(_.name).toSet == Set(
      "q1_agg", "pack_concat", "unpack_cells", "salt_bucket",
      "broadcast_join", "lookup_join", "diff_compare", "topk",
      "date_format_q", "regex_extract", "dedup_exact", "dedup_minhash",
      "dedup_ngram", "dedup_simhash", "ann_topk", "ann_lsh",
      "text_quality", "text_fingerprint", "multimodal_features"))
    assert(Gates.all.count(_.memoized) == 16)
    assert(Gates.probes.map(_.name) == Seq("env_canary"))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 224)
  }

  test("a gate name declared twice fails when the list is built") {
    val g = Gates.all.head
    val e = intercept[IllegalArgumentException](Gates.unique(Seq(g, g)))
    assert(e.getMessage.contains(g.name))
  }

  test("selection fails loudly on unknown or empty names") {
    val picked = Gates.select(Gates.benched, Seq("topk", "q1_agg"), "T")
    assert(picked.map(_.name) == Seq("topk", "q1_agg"))
    val e = intercept[IllegalArgumentException](
      Gates.select(Gates.benched, Seq("q1_agg", "q1_aggg", "nope"), "T"))
    assert(e.getMessage.contains("q1_aggg") && e.getMessage.contains("nope"))
    // known, but not benched: not a valid Bench selection
    assert(!Gates.benched.exists(_.name == "limit1"))
    intercept[IllegalArgumentException](
      Gates.select(Gates.benched, Seq("limit1"), "T"))
    intercept[IllegalArgumentException](
      Gates.selectFromEnv(Gates.checked, "V", Map("V" -> " , ")))
    assert(Gates.selectFromEnv(Gates.checked, "V", Map.empty) == Gates.checked)
    assert(Gates.selectFromEnv(Gates.checked, "V", Map("V" -> "limit1, topk"))
      .map(_.name) == Seq("limit1", "topk"))
  }

  test("SPARK_GRAFT_CONF parses k=v tokens and names a bad one") {
    assert(Bench.parseConf(" a.b=1 ; ;c=x=y;") == Seq("a.b" -> "1", "c" -> "x=y"))
    val e = intercept[IllegalArgumentException](Bench.parseConf("a=1;oops;b=2"))
    assert(e.getMessage.contains("'oops'"))
    intercept[IllegalArgumentException](Bench.parseConf("=1"))
  }
}
