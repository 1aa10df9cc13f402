package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters keyed by per-layer metric name. Listener threads and the
  * bench thread both add, so every access is synchronized. */
final class Counters {
  private val m = mutable.Map[String, Double]()
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def add(k: String, v: Long): Unit = add(k, v.toDouble)
  def snapshot: Map[String, Double] = synchronized(m.toMap)
}

/** The traced run's instruments, all in the benchmark's own code:
  *  - a [[SparkListener]] for jobs, stages, tasks, executor run time,
  *    shuffle, spill, GC and RDD block updates;
  *  - a [[QueryExecutionListener]] for Catalyst phase times and the SQL
  *    metrics of the operators each layer maps to;
  *  - [[span]]s the workloads open around their calls into each layer.
  *
  * Each op runs under one [[Tracer.Mode]]. Under `Spans` the workloads
  * materialize each layer inside its span, which adds jobs of the
  * benchmark's own; so the engine-wide `spark.*` and `core.*` counters
  * come from `Count` ops, which run the untraced plan with the listeners
  * on, and the span times and operator metrics from `Spans` ops. Under
  * `Off` nothing is registered.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val c = new Counters
  private var current: Tracer.Mode = Tracer.Off

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      c.add("spark.stages", 1)
      c.add("spark.tasks", i.numTasks)
      val t = i.taskMetrics
      if (t != null) {
        c.add("spark.executor_run_ms", t.executorRunTime)
        c.add("spark.shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
        c.add("spark.shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead)
        c.add("spark.spill_bytes", t.memoryBytesSpilled + t.diskBytesSpilled)
        c.add("spark.gc_ms", t.jvmGCTime)
      }
    }
    // RDD blocks the engine stores (localCheckpoint, cache); the tracer's
    // own materializations happen under Spans, when this is not registered
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        c.add("core.checkpoint_blocks", 1)
        c.add("core.checkpoint_bytes", b.memSize + b.diskSize)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (current == Tracer.Count) {
        val phases = qe.tracker.phases
        Seq(QueryPlanningTracker.ANALYSIS -> "spark.analysis_ms",
          QueryPlanningTracker.OPTIMIZATION -> "spark.optimization_ms",
          QueryPlanningTracker.PLANNING -> "spark.planning_ms").foreach { case (p, k) =>
          phases.get(p).foreach(s => c.add(k, s.durationMs))
        }
      } else {
        // operator metrics count towards the layer whose span is open
        val in = layer
        nodes(qe.executedPlan).foreach {
          case b: BroadcastExchangeExec if in.startsWith("ingest.") =>
            c.add("ingest.broadcast_bytes", metric(b, "dataSize"))
          case s: SortExec if in == "kvstore.write_s" =>
            c.add("kvstore.sort_spill_bytes", metric(s, "spillSize"))
          case b: BatchScanExec if in == "sources.scan_s" =>
            c.add("sources.scan_partitions", b.partitions.size)
            c.add("sources.scan_rows", metric(b, "numOutputRows"))
          case _ =>
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Physical nodes of a plan, cached plans included, each counted once:
    * a cached plan's metrics are visible from every query that reads it. */
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    walk(plan).filter(p => seen.synchronized(seen.add(p)))
  private def walk(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p: SparkPlan => p }.flatMap {
      case m: InMemoryTableScanExec => m +: walk(m.relation.cachedPlan)
      case p => Seq(p)
    }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  def mode: Tracer.Mode = current

  /** True while layers are materialized and timed in spans. */
  def on: Boolean = current == Tracer.Spans

  /** Switches mode: the query listener is registered under `Count` and
    * `Spans`, the Spark listener under `Count` only. */
  def enable(mode: Tracer.Mode): Unit = if (mode != current) {
    drain()
    if (current == Tracer.Count) spark.sparkContext.removeSparkListener(sparkListener)
    if (current != Tracer.Off) spark.listenerManager.unregister(queryListener)
    if (mode != Tracer.Off) {
      seen.synchronized(seen.clear())
      spark.listenerManager.register(queryListener)
    }
    if (mode == Tracer.Count) spark.sparkContext.addSparkListener(sparkListener)
    current = mode
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** The innermost open span, read by the query listener. */
  @volatile private var layer = ""

  /** Runs `body`; while tracing, adds its wall seconds to `name` and
    * counts the operator metrics of the queries it runs towards `name`. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val outer = layer
      layer = name
      val t0 = System.nanoTime()
      try body finally {
        val s = (System.nanoTime() - t0) / 1e9
        drain()
        layer = outer
        c.add(name, s)
      }
    }

  /** Whole-stage codegen compile time so far, process-wide, in ms. */
  def codegenMs: Double = WholeStageCodegenExec.codeGenTime / 1e6
}

object Tracer {
  sealed abstract class Mode(val name: String)
  case object Off extends Mode("off")
  case object Count extends Mode("count")
  case object Spans extends Mode("spans")
}
