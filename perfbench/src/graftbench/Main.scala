package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Load parameters of one ingest workload at one scale. `settleS` is how
  * long the workload's own loop runs, untimed and outside `setup_s`,
  * before the timed section: the per-batch path (planning, `addBatch`)
  * keeps getting faster for the first ~60 micro-batches.
  */
final case class IngestParams(chunk: Int, rate: Double, warmup: Int,
    warmupChunks: Int, settleS: Double,
    nilShare: Double, poisonShare: Double, redeliverShare: Double,
    prefixRows: Long)

/** Input sizes: `ingestSf` sizes the `events` table the ingest workloads
  * replay, `batchSf` the tables of the batch queries.
  */
final case class Scale(ingestSf: Double, batchSf: Double, drain: IngestParams,
    live: IngestParams)

object Scale {
  val all: Map[String, Scale] = Map(
    "full" -> Scale(ingestSf = 0.1, batchSf = 0.01,
      drain = IngestParams(chunk = 25000, rate = 0, warmup = 25000, warmupChunks = 8,
        settleS = 3,
        nilShare = 0.001, poisonShare = 0.001, redeliverShare = 0,
        prefixRows = 200000),
      live = IngestParams(chunk = 0, rate = 8000, warmup = 8000, warmupChunks = 10,
        settleS = 6,
        nilShare = 0.005, poisonShare = 0.005, redeliverShare = 0.02,
        prefixRows = 20000)),
    "smoke" -> Scale(ingestSf = 0.001, batchSf = 0.001,
      drain = IngestParams(chunk = 1000, rate = 0, warmup = 1000, warmupChunks = 2,
        settleS = 0.5,
        nilShare = 0.01, poisonShare = 0.01, redeliverShare = 0,
        prefixRows = 2000),
      live = IngestParams(chunk = 0, rate = 500, warmup = 200, warmupChunks = 2,
        settleS = 0.5,
        nilShare = 0.01, poisonShare = 0.01, redeliverShare = 0.05,
        prefixRows = 1000)))
}

final case class RunConfig(workload: String, seed: Long, seconds: Double,
    trace: Boolean, scaleName: String, dataDir: String, workDir: String,
    traceDir: String, expectedFile: String, printResults: Boolean, cpus: Int,
    sessionS: Double) {
  val scale: Scale = Scale.all(scaleName)
  def ingestDir: String = s"$dataDir/ingest-$scaleName"
  def batchDir: String = s"$dataDir/batch-$scaleName"
}

final case class Result(attempted: Long, failed: Long, problems: Seq[String],
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    spans: Seq[(String, Long, Long, Long)])

/** Recorded row counts and checksums of the batch queries, per scale. */
object Expected {
  def batchQueries(file: String, scale: String)
      : Map[String, (Long, Option[Long])] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(file)).path("batch_queries").path(scale)
    root.fields().asScala.map { e =>
      val c = e.getValue.path("checksum")
      e.getKey -> (e.getValue.path("rows").asLong(-1L),
        if (c.isNull || c.isMissingNode) None else Some(c.asText().toLong))
    }.toMap
  }
}

/** The metric names and units each run prints: every end-to-end metric
  * untraced, every per-layer metric traced.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "latency_p95_ms" -> "ms",
    "cpu_us_per_op" -> "us", "retained_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "injector_ops.decode_ms" -> "ms", "injector_ops.enrich_ms" -> "ms",
    "injector_ops.route_ms" -> "ms", "injector_ops.rows_in" -> "count",
    "injector_ops.rows_decoded" -> "count",
    "injector_ops.rows_dropped_nil" -> "count",
    "injector_ops.rows_dropped_poison" -> "count",
    "schema_registry.gets" -> "count", "schema_registry.ms" -> "ms",
    "sink.write_ms" -> "ms", "sink.requests" -> "count",
    "sink.docs_per_request" -> "count", "sink.request_bytes" -> "bytes",
    "sink.inserted" -> "count", "sink.conflicts" -> "count",
    "sink.bad_requests" -> "count", "sink.retries" -> "count",
    "sink.useful_ratio" -> "ratio", "es_stub.server_ms" -> "ms",
    "es_stub.busy_share" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.overhead_ms" -> "ms",
    "streaming.backlog_records" -> "count", "generator.late_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.result_bytes" -> "bytes",
    "trace.self.plan_ms" -> "ms", "trace.self.add_batch_ms" -> "ms",
    "trace.self.sink_write_ms" -> "ms", "trace.self.receiver_ms" -> "ms",
    "trace.self.commit_ms" -> "ms", "trace.unattributed_ms" -> "ms",
    "trace.unattributed_share" -> "ratio", "trace.overhead_share" -> "ratio",
    "trace.spans" -> "count") ++
    BatchQueries.Queries.flatMap(q => Seq(s"query.$q.wall_ms" -> "ms",
      s"query.$q.construct_ms" -> "ms", s"query.$q.exchanges" -> "count",
      s"query.$q.shuffle_bytes" -> "bytes", s"query.$q.spill_bytes" -> "bytes"))
}

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --scale full|smoke --data <dir> --work <dir> --traces <dir>
  *      --expected <file> [--print-results] [--gen-data]
  * }}}
  *
  * The last stdout line is the result object; the line before it stamps
  * the environment (cpus, heap). Exits 1 when an output check fails.
  */
object Main {
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def note(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s $what")

  val Workloads = Seq("ingest_json_drain", "ingest_avro_live")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).toSet
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val workDir = opt("--work")
    Files.createDirectories(Paths.get(workDir))

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    val sessionS = (System.nanoTime() - s0) / 1e9
    note(f"session started in $sessionS%.2f s")
    spark.sparkContext.setLogLevel("WARN")
    graft.Logs.quietBenignErrors()
    val code =
      try {
        val cfg = RunConfig(
          workload = opts.getOrElse("--workload", ""),
          seed = opts.getOrElse("--seed", "1").toLong,
          seconds = opts.getOrElse("--seconds", "10").toDouble,
          trace = opts.getOrElse("--trace", "0") == "1",
          scaleName = opts.getOrElse("--scale", "full"),
          dataDir = opt("--data"), workDir = workDir,
          traceDir = opts.getOrElse("--traces", s"$workDir/traces"),
          expectedFile = opts.getOrElse("--expected", ""),
          printResults = flags("--print-results"), cpus = cpus,
          sessionS = sessionS)
        if (flags("--gen-data")) { genData(spark, cfg); 0 }
        else run(spark, cfg)
      } finally spark.stop()
    sys.exit(code)
  }

  private def genData(spark: SparkSession, cfg: RunConfig): Unit = {
    DataGen.writeAll(spark, cfg.batchDir, cfg.scale.batchSf)
    DataGen.writeEvents(spark, cfg.ingestDir, cfg.scale.ingestSf)
  }

  private def run(spark: SparkSession, cfg: RunConfig): Int = {
    require(Workloads.contains(cfg.workload),
      s"unknown workload '${cfg.workload}' (one of ${Workloads.mkString(", ")})")
    val r = new Ingest(spark, cfg).run()
    note("workload done")
    val measured = if (cfg.trace) r.perLayer else r.endToEnd
    val wanted = if (cfg.trace) Metrics.perLayer else Metrics.endToEnd
    // a layer the workload never touches reads 0; an end-to-end metric
    // must always be measured
    val missing = wanted.map(_._1).filterNot(measured.contains)
    require(cfg.trace || missing.isEmpty, s"unmeasured metrics: $missing")
    if (cfg.trace && r.spans.nonEmpty) {
      val origin = r.spans.map(_._3).min
      Spans.write(r.spans, Paths.get(cfg.traceDir,
        s"${cfg.workload}-seed${cfg.seed}.json"), origin)
    }
    r.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val correct = r.failed == 0 && r.problems.isEmpty
    println(Json.obj(Seq("env" -> Json.obj(Seq(
      "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString,
      "scale" -> Json.str(cfg.scaleName), "cpus" -> cfg.cpus.toString,
      "heap_max_mb" -> Json.num(Heap.maxMb),
      "trace" -> cfg.trace.toString)))))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(wanted.map { case (name, unit) =>
        name -> Json.obj(Seq(
          "value" -> Json.num(measured.getOrElse(name, 0.0)),
          "unit" -> Json.str(unit)))
      }))))
    System.out.flush()
    note("result printed")
    if (correct) 0 else 1
  }
}
