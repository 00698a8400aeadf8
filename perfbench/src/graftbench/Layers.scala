package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import graft.operators.InjectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Heap {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Old-generation use after a full collection, in MB. Collections
    * repeat, with pauses for Spark's cleaner to drop the blocks of
    * collected RDDs and broadcasts, until the figure holds within 1 %.
    */
  def retainedMb(): Double = {
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    require(old.nonEmpty, "no old-generation memory pool")
    def used() = {
      System.gc()
      old.map(_.getUsage.getUsed).sum / 1048576.0
    }
    var (prev, cur) = (Double.MaxValue, used())
    var rounds = 0
    while (rounds < 8 && math.abs(prev - cur) > 0.01 * cur) {
      Thread.sleep(250)
      prev = cur; cur = used(); rounds += 1
    }
    cur
  }

  def maxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

object Checksum {
  /** Row count and an order-independent checksum: the wrapping sum of
    * `xxhash64(expr)` over the rows, summed in two 32-bit halves so the
    * SQL sums cannot overflow.
    */
  def of(df: DataFrame, expr: Column): (Long, Long) = {
    val r = df.select(xxhash64(expr).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1) + (r.getLong(2) << 32))
  }
}

/** Self time of the injector's decode (D1-D6), enrich (T1-T3) and
  * route + assemble (R1-R5) stages, from cumulative prefixes of the same
  * input: scan, + decode, + enrich, + route. Each prefix runs into the
  * no-op sink five times; the median counts.
  */
object Prefixes {
  def measure(input: DataFrame, decode: DataFrame => DataFrame,
      cfg: InjectorOps.InjectorConfig = InjectorOps.InjectorConfig(
        topic = "events")): Map[String, Double] = {
    val in = input.localCheckpoint(true)
    val nil = InjectorOps.nilMessageFilter()(in)
    val decoded = decode(nil)
    val enriched = InjectorOps.blacklist(cfg.blacklist)(
      InjectorOps.injectTimestamp(decoded))
    val routed = InjectorOps.assemble(
      InjectorOps.docId(cfg)(InjectorOps.indexName(cfg)(enriched)))
    def ms(df: DataFrame): Double = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })
    val Seq(scan, d, e, r) = Seq(in, decoded, enriched, routed).map(ms)
    val (rowsIn, afterNil, rowsDecoded) =
      (in.count(), nil.count(), decoded.count())
    in.unpersist()
    Map(
      "injector_ops.decode_ms" -> (d - scan),
      "injector_ops.enrich_ms" -> (e - d),
      "injector_ops.route_ms" -> (r - e),
      "injector_ops.rows_in" -> rowsIn.toDouble,
      "injector_ops.rows_decoded" -> rowsDecoded.toDouble,
      "injector_ops.rows_dropped_nil" -> (rowsIn - afterNil).toDouble,
      "injector_ops.rows_dropped_poison" -> (afterNil - rowsDecoded).toDouble)
  }
}

/** The traced half of an ingest run: spans on, the engine listener
  * registered, counters snapshotted. [[end]] turns it all into per-layer
  * metrics, reconciling stage self times against each trigger's wall.
  */
final class Tracing(spark: SparkSession, receiver: BulkReceiver,
    registry: Option[SchemaRegistry], dep: Deployment,
    ref: AtomicReference[Option[Spans]]) {
  private val spans = new Spans
  private val listener = new EngineListener
  private val t0 = System.nanoTime()
  // nanoTime of the epoch, for placing progress reports on the span clock
  private val epochNs = t0 - System.currentTimeMillis() * 1000000L
  private def items = receiver.created.sum() + receiver.conflicts.sum() +
    receiver.badRequests.sum()
  private val (req0, bytes0, handler0, created0, items0) =
    (receiver.stats.requests.sum(), receiver.stats.requestBytes.sum(),
      receiver.stats.handlerNanos.sum(), receiver.created.sum(), items)
  private val (regReq0, regNs0) = registry.map(r =>
    (r.stats.requests.sum(), r.stats.handlerNanos.sum())).getOrElse((0L, 0L))
  private val sink = dep.sink
  private val (ins0, conf0, bad0, ret0) = (sink.inserted.sum(),
    sink.conflicts.sum(), sink.badRequests.sum(), sink.retries.sum())

  ref.set(Some(spans))
  receiver.spans = Some(spans)
  listener.enabled = true
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(listener)

  def end(firstBatch: Long): Map[String, Double] = {
    val wallNs = System.nanoTime() - t0
    listener.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    receiver.spans = None

    val progress = dep.query.recentProgress
      .filter(p => p.batchId >= firstBatch && p.numInputRows > 0).toSeq
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
        k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val all = spans.all
    val writes = all.filter(_._1 == "sink.write").map(s => s._2 -> s).toMap
    val bulks = all.filter(_._1 == "receiver.bulk").map(s => (s._3, s._4))
    val perBatch = progress.map { p =>
      val trig = d(p, "triggerExecution")
      val plan = d(p, "latestOffset") + d(p, "getBatch") + d(p, "queryPlanning")
      val add = d(p, "addBatch")
      val commit = d(p, "walCommit") + d(p, "commitOffsets")
      val (write, recv) = writes.get(p.batchId) match {
        case Some((_, _, s, e)) =>
          ((e - s) / 1e6, Spans.unionNanos(bulks.filter(b => b._1 >= s && b._2 <= e)) / 1e6)
        case None => (0.0, 0.0)
      }
      val start = epochNs + java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      spans.add("trigger", p.batchId, start, start + (trig * 1e6).toLong)
      Map("trigger" -> trig, "plan" -> plan, "add_batch" -> (add - write),
        "sink_write" -> (write - recv), "receiver" -> recv, "commit" -> commit,
        "unattributed" -> (trig - plan - add - commit),
        "sink_write_total" -> write, "add_batch_total" -> add)
    }
    def mean(k: String) =
      if (perBatch.isEmpty) 0.0 else perBatch.map(_(k)).sum / perBatch.size
    def med(k: String) =
      if (perBatch.isEmpty) 0.0 else Stats.median(perBatch.map(_(k)))
    def medP(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (progress.isEmpty) 0.0 else Stats.median(progress.map(f))
    val trigSum = perBatch.map(_("trigger")).sum
    val req = receiver.stats.requests.sum() - req0
    val sent = items - items0
    val engine = listener.total.get
    Map(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.rows_per_batch" ->
        (if (progress.isEmpty) 0.0 else progress.map(_.numInputRows).sum.toDouble / progress.size),
      "streaming.trigger_ms" -> medP(d(_, "triggerExecution")),
      "streaming.add_batch_ms" -> medP(d(_, "addBatch")),
      "streaming.query_planning_ms" -> medP(d(_, "queryPlanning")),
      "streaming.latest_offset_ms" -> medP(d(_, "latestOffset")),
      "streaming.wal_commit_ms" -> medP(d(_, "walCommit")),
      "streaming.commit_offsets_ms" -> medP(d(_, "commitOffsets")),
      "streaming.overhead_ms" -> medP(p => d(p, "triggerExecution") - d(p, "addBatch")),
      "sink.write_ms" -> med("sink_write_total"),
      "sink.requests" -> req.toDouble,
      "sink.docs_per_request" -> (if (req == 0) 0.0 else sent.toDouble / req),
      "sink.request_bytes" ->
        (if (req == 0) 0.0 else (receiver.stats.requestBytes.sum() - bytes0).toDouble / req),
      "sink.inserted" -> (sink.inserted.sum() - ins0).toDouble,
      "sink.conflicts" -> (sink.conflicts.sum() - conf0).toDouble,
      "sink.bad_requests" -> (sink.badRequests.sum() - bad0).toDouble,
      "sink.retries" -> (sink.retries.sum() - ret0).toDouble,
      "sink.useful_ratio" ->
        (if (sent == 0) 0.0 else (receiver.created.sum() - created0).toDouble / sent),
      "es_stub.server_ms" -> (receiver.stats.handlerNanos.sum() - handler0) / 1e6,
      "es_stub.busy_share" -> (receiver.stats.handlerNanos.sum() - handler0).toDouble /
        (wallNs.toDouble * receiver.threads),
      "schema_registry.gets" -> registry.map(_.stats.requests.sum() - regReq0)
        .getOrElse(0L).toDouble,
      "schema_registry.ms" -> registry.map(_.stats.handlerNanos.sum() - regNs0)
        .getOrElse(0L) / 1e6,
      "trace.self.plan_ms" -> mean("plan"),
      "trace.self.add_batch_ms" -> mean("add_batch"),
      "trace.self.sink_write_ms" -> mean("sink_write"),
      "trace.self.receiver_ms" -> mean("receiver"),
      "trace.self.commit_ms" -> mean("commit"),
      "trace.unattributed_ms" -> mean("unattributed"),
      "trace.unattributed_share" ->
        (if (trigSum == 0) 0.0 else perBatch.map(_("unattributed")).sum / trigSum),
      "trace.spans" -> spans.all.size.toDouble
    ) ++ Tracing.engineMetrics(engine)
  }
}

object Tracing {
  def engineMetrics(c: Map[String, Double]): Map[String, Double] =
    Seq("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
      "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "result_bytes").map(k => s"spark.$k" -> c(k)).toMap
}
