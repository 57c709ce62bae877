package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run attributes to a span (one layer call) or to
  * the whole pass. Every field is a plain sum or max.
  */
final class Counters {
  val c: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
}

/** The traced run's instrument, kept entirely outside the program:
  *  - a SparkListener tallies jobs, stages, tasks, executor run/CPU/GC
  *    time, scheduler delay, shuffle/spill/input/output bytes and job
  *    intervals, keyed by the job group each span sets;
  *  - a QueryExecutionListener counts operator kinds in every executed
  *    (final, post-AQE) physical plan;
  *  - spans time each layer call from outside, and a span's self time is
  *    its duration minus that of the spans nested in it.
  * Listener events arrive asynchronously, so readers drain the bus first.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val plans = new Counters
  val selfS = new Counters // layer -> self seconds
  private val spanId = new AtomicLong

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = group(e.properties)
      e.stageIds.foreach(stageGroup(_) = g)
      jobStart(e.jobId) = e.time
      counters(g).add("jobs", 1)
      counters(g).add("stages", e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val k = counters(stageGroup.getOrElse(e.stageId, "(none)"))
      k.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        k.add("executor_run_s", m.executorRunTime / 1e3)
        k.add("executor_cpu_s", m.executorCpuTime / 1e9)
        k.add("gc_s", m.jvmGCTime / 1e3)
        k.add("scheduler_delay_s", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime) / 1e3)
        k.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        k.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        k.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        k.max("peak_exec_mem_bytes", m.peakExecutionMemory)
        k.add("bytes_read", m.inputMetrics.bytesRead)
        k.add("rows_read", m.inputMetrics.recordsRead)
        k.add("bytes_written", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      countPlan(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Operator kinds of one final physical plan, subqueries included. */
  def countPlan(plan: SparkPlan): Unit = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    lock.synchronized {
      nodes.foreach {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => plans.add("exchanges", 1)
        case _: WindowExec => plans.add("windows", 1)
        case _: SortExec => plans.add("sorts", 1)
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
          plans.add("nested_loop_joins", 1)
        case _ =>
      }
      nodes.foreach(n => plans.add("codegen_fallbacks",
        n.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum))
    }
  }

  private val stack = mutable.Stack.empty[(String, Array[Double])]

  /** Run `body` as a span of `layer`: its jobs carry the job group
    * `layer/op#n`, and its self time is credited to `layer`. */
  def span[T](layer: String, op: String)(body: => T): T = {
    val child = Array(0.0)
    stack.push((layer, child))
    sc.setJobGroup(s"$layer/$op#${spanId.incrementAndGet()}", op)
    val t0 = System.nanoTime()
    try body
    finally {
      val d = (System.nanoTime() - t0) / 1e9
      stack.pop()
      selfS.add(layer, d - child(0))
      stack.headOption.foreach { case (l, c) =>
        c(0) += d
        sc.setJobGroup(s"$l/resume#${spanId.incrementAndGet()}", l)
      }
      if (stack.isEmpty) sc.clearJobGroup()
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Start a pass: forget everything counted so far. */
  def reset(): Unit = { drain(); lock.synchronized {
    byGroup.clear(); jobIntervals.clear(); plans.c.clear(); selfS.c.clear()
  } }

  /** Totals over every job since [[reset]], and per layer (the job
    * group's prefix). */
  def totals(): (Counters, Map[String, Counters]) = { drain(); lock.synchronized {
    val all = new Counters
    val perLayer = mutable.Map.empty[String, Counters]
    byGroup.foreach { case (g, k) =>
      val l = perLayer.getOrElseUpdate(g.takeWhile(_ != '/'), new Counters)
      k.c.foreach { case (n, v) =>
        if (n == "peak_exec_mem_bytes") { all.max(n, v); l.max(n, v) }
        else { all.add(n, v); l.add(n, v) }
      }
    }
    (all, perLayer.toMap)
  } }

  /** Wall seconds of [t0, t1] (epoch ms) that no job covered. */
  def driverGap(t0: Long, t1: Long): Double = lock.synchronized {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0 - covered) / 1e3
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
