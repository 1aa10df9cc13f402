package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ingest.KvStore

/** One timed operation: its wall time, whether every check passed, the
  * tracer mode it ran under, and the step times inside it (seconds). */
final case class Op(ms: Double, ok: Boolean, mode: Tracer.Mode,
                    steps: Map[String, Double] = Map.empty)

final case class Ctx(spark: SparkSession, tracer: Tracer, work: File, seed: Long) {
  val cores: Int = spark.sparkContext.defaultParallelism
}

/** A benchmark workload. [[generate]] writes the seeded inputs; [[prepare]]
  * does the one-time work before the first timed op (warm-up); [[op]]
  * runs timed op number `i`. */
trait Workload {
  /** Ops an untraced run times at least, however short `--seconds` is.
    * Ops still speed up for minutes after the warm-up (JIT), so a median
    * over a varying op count moves with the count; with `--seconds` shorter
    * than this many ops, every run times the same op positions. */
  def minOps: Int
  def generate(dir: File): Unit
  def prepare(): Unit
  def op(i: Int): Op
  /** The workload's own figures for the summary line (see README.md). */
  def summary(ops: Seq[Op]): Map[String, Double]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "mupr_load_verify" => new MuprLoadVerify(ctx)
    case "curation_mix" => new CurationMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs `body` as one op; an exception counts as a failed op. */
  def guarded(name: String, mode: Tracer.Mode)(body: => (Boolean, Map[String, Double])): Op = {
    val t0 = System.nanoTime()
    val cpu0 = Workload.cpuMs()
    val jit0 = Workload.jitMs()
    val (ok, steps) =
      try body catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name op failed: $e")
          (false, Map.empty[String, Double])
      }
    val op = Op((System.nanoTime() - t0) / 1e6, ok, mode, steps)
    // process CPU and JIT compile time show how far the JVM has warmed
    System.err.println(f"[perfbench] $name ${mode.name}%s ${op.ms}%.1f ms ok=$ok " +
      f"cpu=${Workload.cpuMs() - cpu0}%.0f ms jit=${Workload.jitMs() - jit0}%.0f ms")
    op
  }
}

/** Load then verify a seeded MUPR drop, one fresh store per op. */
final class MuprLoadVerify(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._

  private var data: MuprData = _
  private var lastStore: Option[File] = None

  def generate(dir: File): Unit =
    data = MuprGen.generate(dir, ctx.seed, MuprShape())

  def minOps: Int = 6

  // the second op is already 3-4x faster than the cold one, and JIT work
  // per op keeps falling over the next few; the first warm-up store is
  // also checked cell by cell against the generator
  def prepare(): Unit = {
    require(op(-1).ok, "warmup load/verify failed its checks")
    checkCells(lastStore.get)
    Seq(-2, -3, -4).foreach(i => require(op(i).ok, "warmup load/verify failed its checks"))
  }

  /** Every (rowKey, test) cell of the store unpacks to the generator's
    * measure count, and no other cell exists. */
  private def checkCells(store: File): Unit = {
    val got = KvStore.unpack(Lifecycle.kvSource(ctx.spark, store))
      .groupBy("rowKey", "columnName").count()
      .as[(String, String, Long)].collect()
      .map { case (k, t, n) => (k, t) -> n.toInt }.toMap
    val want = data.units.flatMap(u => u.cells.map { case (t, n) => (u.rowKey, t) -> n }).toMap
    require(got == want, s"store cells differ from the generator: ${got.size} cells, " +
      s"${want.size} expected, ${(got.toSet diff want.toSet).take(3)} unexpected")
  }

  def op(i: Int): Op = Workload.guarded("load_verify", ctx.tracer.mode) {
    val store = new File(ctx.work, s"store_$i")
    val (bad, loadMs) = Workload.timed(Lifecycle.load(ctx.spark, data, store, ctx.tracer))
    val (v, verifyMs) = Workload.timed(Lifecycle.verify(ctx.spark, data, store, ctx.tracer))
    lastStore.foreach(FileUtils.deleteQuietly)
    lastStore = Some(store)
    val ok = bad == data.malformed && v.mismatches == 0 &&
      v.storeRows == data.cleanRows && v.fileRows == data.cleanRows
    if (!ok) System.err.println(s"[perfbench] load/verify check failed: quarantined " +
      s"$bad of ${data.malformed}, $v, expected ${data.cleanRows} rows")
    (ok, Map("load_s" -> loadMs / 1e3, "verify_s" -> verifyMs / 1e3))
  }

  def summary(ops: Seq[Op]): Map[String, Double] = {
    val storeBytes = lastStore.map(Lifecycle.storeFiles(_)._2.toDouble).getOrElse(0.0)
    def rowsPerS(step: String) = {
      val s = Stats.median(ops.flatMap(_.steps.get(step)))
      if (s > 0) data.lines / s else 0.0
    }
    Map(
      "load_rows_per_s" -> rowsPerS("load_s"),
      "verify_rows_per_s" -> rowsPerS("verify_s"),
      "store_bytes_per_input_byte" -> storeBytes / data.inputBytes,
      "input_rows" -> data.lines.toDouble,
      "input_bytes" -> data.inputBytes.toDouble)
  }
}

/** One pass of four curation gates, in a fixed order, through
  * `SparkEntry.queries` and the noop sink, over a fixed corpus: the
  * benchmark's `--seed` does not apply here. Each gate's row count and
  * order-independent hash must equal [[CurationMix.Expected]] on every
  * pass of every run. */
final class CurationMix(ctx: Ctx) extends Workload {
  import CurationMix._

  private var corpus: File = _
  private var passes = 0

  def generate(dir: File): Unit = {
    corpus = dir
    CorpusGen.generate(ctx.spark, dir, CorpusSeed, CorpusGen.Shape())
  }

  def minOps: Int = 2

  // the first warm-up pass runs the gates side by side: the cold pass is
  // mostly class loading and JIT work, which then spreads over every core;
  // a second, sequential one warms the path the timed passes take
  def prepare(): Unit = Seq(true, false).foreach(c =>
    require(pass("warmup", concurrent = c).ok, "warmup pass failed its checks"))

  def op(i: Int): Op = pass("pass", concurrent = false)

  private def pass(name: String, concurrent: Boolean): Op =
    Workload.guarded(name, ctx.tracer.mode) {
      val results =
        if (!concurrent) Gates.map(gate)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(Gates.size)
          try Gates.map(g => pool.submit(() => gate(g))).map(_.get())
          finally pool.shutdown()
        }
      passes += 1
      val sums = results.map { case (g, (sum, _)) => g -> sum }.toMap
      val ok = sums == Expected
      if (!ok) System.err.println(s"[perfbench] gate results differ: got $sums, expected $Expected")
      (ok, results.map { case (g, (_, s)) => g -> s }.toMap)
    }

  /** Runs one gate into the noop sink; its (row count, hash) and seconds. */
  private def gate(g: (String, String)): (String, ((Long, BigDecimal), Double)) = {
    val (name, layer) = g
    val obs = new Observation(s"perfbench_${name}_$passes")
    // building a gate's frame already runs its eager steps (state folds,
    // checkpoints), so the gate's time covers the build and the sink
    val (_, ms) = Workload.timed(ctx.tracer.span(layer) {
      val df = SparkEntry.queries(name)(ctx.spark, corpus.toString)
      df.observe(obs, count(lit(1)).as("n"),
          sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
            .cast("decimal(20,0)")).as("h"))
        .write.format("noop").mode("overwrite").save()
    })
    val m = obs.get
    val h = Option(m("h")).map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal]))
      .getOrElse(BigDecimal(0))
    name -> ((m("n").asInstanceOf[Long], h), ms / 1e3)
  }

  def summary(ops: Seq[Op]): Map[String, Double] =
    Map("curation_pass_s" -> Stats.median(ops.map(_.ms)) / 1e3) ++
      Gates.map { case (g, _) => s"${g}_s" -> Stats.median(ops.flatMap(_.steps.get(g))) }
}

object CurationMix {
  /** Gate and the per-layer metric its wall time lands in. */
  val Gates: Seq[(String, String)] = Seq(
    "dedup_minhash" -> "dedup.minhash_s",
    "text_embed_dedup" -> "similarity.text_embed_dedup_s",
    "exact_quantiles" -> "meta.exact_quantiles_s",
    "corpus_build_incremental" -> "queries.corpus_build_incremental_s")

  /** The corpus seed, the same on every run. */
  val CorpusSeed = 42L

  /** Row count and sum of `xxhash64` over every output row, per gate, on
    * the corpus of [[CorpusSeed]]. */
  val Expected: Map[String, (Long, BigDecimal)] = Map(
    "dedup_minhash" -> (56L, BigDecimal("-21951325570074345411")),
    "text_embed_dedup" -> (1L, BigDecimal("-5922890896498041036")),
    "exact_quantiles" -> (7L, BigDecimal("5787215730542443518")),
    "corpus_build_incremental" -> (8L, BigDecimal("-27686391414247393915")))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample (every op of
    * that kind failed, which the result's `failed` count reports). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
