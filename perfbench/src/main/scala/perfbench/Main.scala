package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir>`. Builds the seeded inputs under `--work`, sets up,
  * runs timed ops until `--seconds` have passed, and prints one JSON
  * object as the last stdout line: the end-to-end metrics with `--trace
  * 0`, the per-layer metrics with `--trace 1`. A JSON line before it
  * carries the workload's own figures (see perfbench/README.md).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  /** Every per-layer metric, with its unit; each run reports all of them,
    * and a layer its workload never calls reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.parse_s" -> "s", "ingest.rows_parsed" -> "count",
    "ingest.rows_quarantined" -> "count", "ingest.useful_ratio" -> "ratio",
    "ingest.enrich_s" -> "s", "ingest.broadcast_bytes" -> "bytes",
    "ops.pack_s" -> "s", "ops.cells_packed" -> "count", "ops.rows_per_cell" -> "ratio",
    "ops.unpack_s" -> "s", "ops.rows_unpacked" -> "count",
    "kvstore.write_s" -> "s", "kvstore.sort_spill_bytes" -> "bytes",
    "kvstore.files_written" -> "count", "kvstore.bytes_written" -> "bytes",
    "sources.scan_s" -> "s", "sources.files_in_store" -> "count",
    "sources.files_read_per_op" -> "count", "sources.rows_read_per_row_returned" -> "ratio",
    "verify.compare_s" -> "s", "verify.mismatches" -> "count",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.codegen_compile_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "dedup.minhash_s" -> "s",
    "similarity.text_embed_dedup_s" -> "s", "meta.exact_quantiles_s" -> "s",
    "queries.corpus_build_incremental_s" -> "s",
    "core.checkpoint_bytes" -> "bytes", "core.checkpoint_blocks" -> "count",
    "bench.trace_overhead_ratio" -> "ratio", "bench.calib_sec" -> "s")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, new File(need("work")).getAbsoluteFile)
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .getOrCreate()
  }

  /** The fixed single-threaded CPU probe of graft.Bench: its wall time
    * moves with machine load and nothing else. */
  def calibProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 25)) {
      x = java.lang.Long.rotateLeft(x * 0x2545F4914F6CDD1DL, 17) ^ (x >>> 23)
      i += 1
    }
    if (x == 42L) System.err.println("calib")
    (System.nanoTime() - t0) / 1e9
  }

  /** Sum of the heap pools' peak use, in MB: how much of the fixed heap
    * the run's data and garbage actually filled. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    a.work.mkdirs()
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    // a failed set-up prints no result and exits non-zero
    try run(a, spark, jvmStart, sessionS) catch {
      case e: Throwable =>
        e.printStackTrace()
        try spark.stop() finally sys.exit(1)
    }
  }

  /** Tracer mode of op `i`: a traced run cycles Spans, Count and Off ops,
    * so the overhead and the engine counters come from the same process. */
  def modeOf(i: Int, trace: Boolean): Tracer.Mode =
    if (!trace) Tracer.Off
    else Seq(Tracer.Spans, Tracer.Count, Tracer.Off)(i % 3)

  private def run(a: Args, spark: SparkSession, jvmStart: Long, sessionS: Double): Unit = {
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, tracer, a.work, a.seed)
    val w = Workload(a.workload, ctx)
    val calib = scala.collection.mutable.ArrayBuffer(calibProbe())

    // set-up runs from JVM start to the first timed op: the session, the
    // probe, one input generation and the workload's warm-up
    val generateMs = Workload.timed(w.generate(new File(a.work, "input")))._2
    val prepareMs = Workload.timed(w.prepare())._2
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val minOps = if (a.trace) 3 else w.minOps
    var i = 0
    while (System.nanoTime() < deadline || ops.size < minOps) {
      val mode = modeOf(i, a.trace)
      tracer.enable(mode)
      val codegen0 = tracer.codegenMs
      val op = w.op(i)
      if (mode == Tracer.Count) {
        tracer.drain()
        tracer.c.add("spark.codegen_compile_ms", tracer.codegenMs - codegen0)
        tracer.c.add("spark.op_ms", op.ms)
      } else if (mode == Tracer.Spans) tracer.drain()
      ops += op
      i += 1
    }
    tracer.enable(Tracer.Off)
    calib += calibProbe()

    val failed = ops.count(!_.ok)
    val byMode = ops.toSeq.groupBy(_.mode).withDefaultValue(Seq.empty)
    val untraced = byMode(Tracer.Off)
    val summary = w.summary(untraced) ++ Map(
      "setup_session_s" -> sessionS, "setup_generate_s" -> generateMs / 1e3,
      "setup_prepare_s" -> prepareMs / 1e3, "ops" -> ops.size.toDouble,
      "failed_ops_ratio" -> failed.toDouble / ops.size, "calib_sec" -> calib.min,
      "peak_heap_used_mb" -> peakHeapMb())
    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val v = Map("setup_s" -> setupS, "op_p50_ms" -> Stats.median(ops.map(_.ms).toSeq),
          "peak_rss_mb" -> peakRssMb())
        EndToEnd.map { case (k, u) => (k, u, v(k)) }
      } else {
        val spans = byMode(Tracer.Spans)
        val v = layers(tracer.c, spans.size, byMode(Tracer.Count).size, ctx.cores) ++ Map(
          "bench.trace_overhead_ratio" ->
            (Stats.median(spans.map(_.ms)) / Stats.median(untraced.map(_.ms)) - 1),
          "bench.calib_sec" -> calib.min)
        PerLayer.map { case (k, u) => (k, u, v.getOrElse(k, 0.0)) }
      }

    try spark.stop() catch {
      case e: Exception => System.err.println(s"[perfbench] spark.stop failed: $e")
    }
    println(Json.obj(Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "summary" -> Json.obj(summary.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    Console.out.flush()
  }

  /** Per-op per-layer figures: the engine-wide `spark.*` and `core.*`
    * counters per `Count` op, every other counter per `Spans` op. */
  def layers(c: Counters, spanOps: Int, countOps: Int, cores: Int): Map[String, Double] = {
    val m = c.snapshot
    def g(k: String) = m.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def engine(k: String) = k.startsWith("spark.") || k.startsWith("core.")
    val perOp = m.map { case (k, v) => k -> ratio(v, if (engine(k)) countOps else spanOps) }
    val clean = g("ingest.rows_clean")
    val parsed = clean + g("ingest.rows_quarantined")
    perOp ++ Map(
      "ingest.rows_parsed" -> ratio(parsed, spanOps),
      "ingest.useful_ratio" -> ratio(clean, parsed),
      "ops.rows_per_cell" -> ratio(clean, g("ops.cells_packed")),
      "sources.files_read_per_op" -> ratio(g("sources.scan_partitions"), spanOps),
      "sources.rows_read_per_row_returned" ->
        ratio(g("sources.scan_rows"), g("sources.rows_returned")),
      "spark.jobs_per_op" -> ratio(g("spark.jobs"), countOps),
      "spark.stages_per_op" -> ratio(g("spark.stages"), countOps),
      "spark.tasks_per_op" -> ratio(g("spark.tasks"), countOps),
      "spark.core_busy_ratio" -> ratio(g("spark.executor_run_ms"), g("spark.op_ms") * cores),
      "spark.gc_s" -> ratio(g("spark.gc_ms") / 1e3, countOps))
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def str(s: String): String = graft.core.Json.str(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
