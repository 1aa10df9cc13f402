package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Gates

/** Plan-review tool: prints the formatted physical plan of the named
  * gates (default: the Baseline tier) against a scale dir. Used to
  * audit filter/projection pushdown, join strategies, and
  * WholeStageCodegen coverage after every operator lands — `.explain`
  * is part of the definition of done here. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val (flags, named) = args.drop(1).toSeq.partition(_.startsWith("-"))
    require(flags.forall(Set("-exec", "-noaqe", "-ckpt")),
      s"unknown flag in $flags")
    // resolved before the session starts, so an unknown name fails
    // first; no names → the Baseline tier (the BASELINE.md gates)
    val gates = if (named.isEmpty) Gates.baseline
      else Gates.select(Gates.all, named, "Explain arguments")
    // "-noaqe": plan with AQE disabled — separates a static-planner
    // ReuseExchange miss (plans don't canonicalize equal) from an AQE
    // stage-cache miss (they do, but stage reuse didn't fire)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        (!args.contains("-noaqe")).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "-exec" as a query name: also RUN each query and print the final
    // adaptive plan — AQE stage reuse (e.g. deduplicated identical
    // shuffles) only shows post-execution
    val exec = flags.contains("-exec")
    // "-ckpt": also print the PRE-checkpoint plan of every mid-query
    // localCheckpoint (graft.core.PlanTrace) — a checkpoint truncates
    // the visible plan, so the main dump alone under-counts exchanges
    if (flags.contains("-ckpt"))
      sys.props("graft.explain.checkpoints") = "1"
    for (g <- gates) {
      val n = g.name
      println(s"\n========== $n ==========")
      val df = g.build(spark, sfDir)
      df.explain("formatted")
      if (exec) {
        // collect() drives THIS QueryExecution so the AdaptiveSparkPlan
        // mutates to its final form (count()/.write plan a fresh QE)
        val rows = df.collect().length
        println(s"---------- $n: final adaptive plan ($rows rows) ----------")
        println(df.queryExecution.executedPlan.toString.take(120000))
      }
    }
    spark.stop()
  }
}
