package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writing for the result lines and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** In-memory span log: (name, batch id, start ns, end ns). Appends are
  * cheap and synchronized; the log is written once, at the end of a run.
  */
final class Spans {
  private val buf = new ArrayBuffer[(String, Long, Long, Long)](1 << 14)

  def add(name: String, batch: Long, startNs: Long, endNs: Long): Unit =
    synchronized { buf += ((name, batch, startNs, endNs)) }

  def all: Seq[(String, Long, Long, Long)] = synchronized(buf.toVector)

  def time[T](name: String, batch: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, batch, t0, System.nanoTime())
  }
}

object Spans {
  /** Writes spans as a JSON array, times in µs from `origin`. */
  def write(spans: Seq[(String, Long, Long, Long)], path: Path,
      origin: Long): Unit = {
    Files.createDirectories(path.getParent)
    val rows = spans.map { case (n, b, s, e) =>
      Json.obj(Seq("name" -> Json.str(n), "batch" -> b.toString,
        "start_us" -> ((s - origin) / 1000).toString,
        "dur_us" -> ((e - s) / 1000).toString))
    }
    Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }

  /** Total wall time covered by a set of possibly overlapping intervals. */
  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Engine counters gathered by the benchmark's own SparkListener and
  * QueryExecutionListener. Task metrics are attributed to the label the
  * submitting thread set as the local property [[EngineListener.Label]]
  * (one label per mix query); `total` sums every task.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  final class Counters {
    val jobs, stages, tasks, runMs, cpuMs, gcMs, shuffleRead, shuffleWrite,
      spill, resultBytes, exchanges, executions = new LongAdder
    def get: Map[String, Double] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuMs,
      "gc_ms" -> gcMs, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
      "result_bytes" -> resultBytes, "exchanges" -> exchanges,
      "executions" -> executions).map { case (k, v) => k -> v.sum().toDouble }
  }

  val total = new Counters
  private val byLabel = new ConcurrentHashMap[String, Counters]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  @volatile var enabled = false

  def label(name: String): Counters =
    byLabel.computeIfAbsent(name, _ => new Counters)

  private def labelOf(props: java.util.Properties): Option[Counters] =
    Option(props).flatMap(p => Option(p.getProperty(EngineListener.Label)))
      .map(label)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    total.jobs.increment()
    labelOf(e.properties).foreach(_.jobs.increment())
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) {
      total.stages.increment()
      Option(e.properties).flatMap(p =>
        Option(p.getProperty(EngineListener.Label))).foreach { l =>
        stageLabel.put(e.stageInfo.stageId, l)
        label(l).stages.increment()
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      val targets = Seq(total) ++ Option(stageLabel.get(e.stageId)).map(label)
      targets.foreach { c =>
        c.tasks.increment()
        c.runMs.add(m.executorRunTime)
        c.cpuMs.add(m.executorCpuTime / 1000000L)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.resultBytes.add(m.resultSize)
      }
    }

  // execution callbacks arrive on the listener bus thread, where the
  // submitter's local properties are not visible: the mix runner drains
  // the bus after each query and claims what arrived with [[claim]]
  private val pendingExchanges =
    new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (enabled) {
    val n = EngineListener.exchanges(qe.executedPlan)
    total.exchanges.add(n.toLong); total.executions.increment()
    pendingExchanges.add(n)
  }

  /** Attributes every execution delivered so far to `name`. */
  def claim(name: String): Unit = {
    val c = label(name)
    var n = pendingExchanges.poll()
    while (n != null) {
      c.exchanges.add(n.toLong); c.executions.increment()
      n = pendingExchanges.poll()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def counters: Map[String, Map[String, Double]] =
    byLabel.asScala.map { case (k, v) => k -> v.get }.toMap

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)
}

object EngineListener {
  val Label = "perfbench.label"

  /** Shuffle exchanges in an executed plan, looking through adaptive
    * wrappers and query stages.
    */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case p => p.children.map(exchanges).sum +
      p.subqueries.map(exchanges).sum
  }
}
