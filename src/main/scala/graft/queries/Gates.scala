package graft.queries

/** The gate registry: every family module's gates in one list. Each
  * gate is declared exactly once, in its family module; every other
  * list (the SparkEntry maps, Bench's sets, Explain's default) is a view of
  * this one. */
object Gates {

  val all: Seq[Gate] = unique(Seq(ParityGates.gates, ScalarGates.gates,
    IngestGates.gates, DedupGates.gates, TextGates.gates, VectorGates.gates,
    SelectionGates.gates, TemporalGates.gates, WebGates.gates,
    WarcGates.gates, MediaGates.gates).flatten)

  /** `gates`, failing on any name declared twice (one would silently
    * shadow the other in SparkEntry's name-keyed maps). */
  def unique(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"gate name(s) declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  /** The gates Verify checks against DuckDB (every tier but Probe). */
  val checked: Seq[Gate] = all.filter(_.tier != Tier.Probe)
  val probes: Seq[Gate] = all.filter(_.tier == Tier.Probe)
  val benched: Seq[Gate] = all.filter(_.benched)
  val baseline: Seq[Gate] = all.filter(_.tier == Tier.Baseline)
  require(all.filter(_.memoized).forall(_.benched),
    "a memoized gate must be benched: Bench is what pre-pays its build")

  /** The gates of `from` named in `names`, in the order named. Fails,
    * listing them, on names `from` does not hold (for Bench, a gate
    * that exists but is not benched is one), and on an empty
    * selection: a typo must never silently select nothing. `source`
    * names where the names came from, for the message. */
  def select(from: Seq[Gate], names: Seq[String], source: String): Seq[Gate] = {
    val byName = from.map(g => g.name -> g).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"$source: not among the ${from.size} " +
      s"selectable gates: ${unknown.distinct.mkString(", ")}")
    require(names.nonEmpty, s"$source names no gate")
    names.distinct.map(byName)
  }

  /** [[select]] over a comma-separated `envVar` (e.g.
    * `SPARK_GRAFT_VERIFY_ONLY=a,b`); all of `from` when it is unset. */
  def selectFromEnv(from: Seq[Gate], envVar: String,
      env: Map[String, String] = sys.env): Seq[Gate] =
    env.get(envVar).fold(from)(spec =>
      select(from, spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq, envVar))
}
