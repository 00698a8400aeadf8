package graftbench

import java.lang.management.ManagementFactory
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import graft.Tables
import graft.functions.{AvroWire, HttpSchemaProvider}
import graft.operators.{InjectorOps, KafkaShape}
import graft.streaming.{EsHttpSink, InjectorApp, StreamingPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One Kafka message, in the shape of Spark's Kafka source. */
final case class Msg(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int)

/** Kafka-shaped base rows: the `events` table through
  * [[graft.operators.KafkaShape]], plus each row's Confluent-Avro frame.
  */
final case class Base(key: Array[Array[Byte]], json: Array[Array[Byte]],
    avro: Array[Array[Byte]], partition: Array[Int], ts: Array[Timestamp]) {
  def size: Int = key.length
}

object Base {
  val ReaderSchema: String =
    """{"type":"record","name":"Event","fields":[
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},
      |{"name":"props","type":"string"}]}""".stripMargin
  /** Two writer schemas: the reader's shape, and a reordered one with an
    * extra field the reader drops.
    */
  val WriterSchemas: Map[Int, String] = Map(
    1 -> ReaderSchema,
    2 -> """{"type":"record","name":"Event","fields":[
           |{"name":"props","type":"string"},
           |{"name":"source","type":"string","default":""},
           |{"name":"value","type":"double"},
           |{"name":"event_type","type":"string"}]}""".stripMargin)

  /** The `events` table through the program's loader and KafkaShape,
    * collected in offset order; Avro frames only when `avro`.
    */
  def load(spark: SparkSession, dir: String, avro: Boolean): Base = {
    val rows = KafkaShape.fromEvents(Tables.events(spark, dir)).collect()
      .sortBy(_.getAs[Long]("offset"))
    val json = rows.map(_.getAs[Array[Byte]]("value"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Base(
      key = rows.map(_.getAs[Array[Byte]]("key")),
      json = json,
      avro = if (!avro) Array.empty else json.zipWithIndex.map { case (v, i) =>
        val node = mapper.readTree(v)
        val id = 1 + i % 2
        val fields = Map("event_type" -> node.get("event_type").asText(),
          "value" -> node.get("value").asDouble(),
          "props" -> node.get("props").asText())
        AvroWire.encodeConfluent(id, WriterSchemas(id),
          if (id == 2) fields + ("source" -> "perfbench") else fields)
      },
      partition = rows.map(_.getAs[Int]("partition")),
      ts = rows.map(_.getAs[Timestamp]("timestamp")))
  }
}

/** The seeded record generator. Record `g` is a pure function of the
  * seed and `g`: replica `g / base.size` of base row `g % base.size`
  * under offset `shift + g`, or a fault — a tombstone (D5), a malformed
  * frame (D6), or a redelivery of an earlier record (K2 conflict).
  */
final class Gen(base: Base, seed: Long, avro: Boolean, nilShare: Double,
    poisonShare: Double, redeliverShare: Double) extends Serializable {
  val shift: Long = (XXH64.hashLong(seed, 7L) & 0xFFFFFL) << 24

  private def u(g: Long, salt: Long): Double =
    (XXH64.hashLong(g, seed * 31 + salt) >>> 11).toDouble / (1L << 53)

  /** 0 normal, 1 tombstone, 2 poison, 3 redelivery. */
  def fault(g: Long): Int = {
    val x = u(g, 1)
    if (x < nilShare) 1
    else if (x < nilShare + poisonShare) 2
    else if (g > 0 && x < nilShare + poisonShare + redeliverShare) 3
    else 0
  }

  /** The earlier normal record a redelivery repeats. */
  def origin(g: Long): Long = {
    var j = g - 1 - (XXH64.hashLong(g, seed + 3) & 0xFFL) % g
    while (j > 0 && fault(j) != 0) j -= 1
    j
  }

  private def original(g: Long, f: Int): Msg = {
    val b = (g % base.size).toInt
    val value: Array[Byte] = f match {
      case 1 => null
      case 2 if avro =>
        if (g % 2 == 0) Array[Byte](1, 0, 0, 0, 1, 2) // bad magic byte
        else base.avro(b).take(6) // truncated body
      case 2 => """{"alo": 60"""".getBytes("UTF-8")
      case _ => if (avro) base.avro(b) else base.json(b)
    }
    Msg(base.key(b), value, "events", base.partition(b), shift + g,
      base.ts(b), 0)
  }

  def record(g: Long): Msg = fault(g) match {
    case 3 if fault(origin(g)) == 0 => original(origin(g), 0)
    case 3 => original(g, 0)
    case f => original(g, f)
  }

  def isRedelivery(g: Long): Boolean = fault(g) == 3 && fault(origin(g)) == 0

  /** Records in `[0, n)` that are (tombstones, poison, redeliveries). */
  def faultCounts(n: Long): (Long, Long, Long) = {
    var nil, poison, re = 0L
    var g = 0L
    while (g < n) {
      fault(g) match {
        case 1 => nil += 1
        case 2 => poison += 1
        case 3 => if (isRedelivery(g)) re += 1
        case _ =>
      }
      g += 1
    }
    (nil, poison, re)
  }

  def dropped(g: Long): Boolean = { val f = fault(g); f == 1 || f == 2 }
}

/** Driver of one streaming deployment: the real assembly
  * (`InjectorApp.start` with the `source`, `startSink` and `sinkPing`
  * seams) writing through `EsHttpSink.write` into the benchmark's
  * receiver, one MemoryStream with the Kafka schema as the source.
  */
final class Deployment(spark: SparkSession, workDir: String, avro: Boolean,
    sinkUrl: String, registryUrl: Option[String], rep: Int,
    spans: () => Option[Spans]) {
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._
  val sink = new EsHttpSink(sinkUrl)
  val stream: MemoryStream[Msg] =
    MemoryStream[Msg](spark.sparkContext.defaultParallelism)
  private val cfg = InjectorApp.fromEnv(Map(
    "KAFKA_TOPICS" -> "events",
    "KAFKA_CONSUMER_RECORD_TYPE" -> (if (avro) "avro" else "json"),
    "PROBES_PORT" -> "0",
    "CHECKPOINT_LOCATION" -> s"$workDir/checkpoint-$rep") ++
    registryUrl.map("SCHEMA_REGISTRY_URL" -> _))
  val (query: StreamingQuery, probes) = InjectorApp.start(spark, cfg,
    jsonSchema = KafkaShape.eventPayloadSchema,
    avroReaderSchema = Base.ReaderSchema,
    source = Some(stream.toDF()),
    startSink = Some(a => a.writeStream
      .option("checkpointLocation", cfg.checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => spans() match {
        case Some(s) => s.time("sink.write", id)(sink.write(b, id))
        case None => sink.write(b, id)
      })
      .start()),
    sinkPing = Some(() => sink.ping()))

  def stop(): Unit = { query.stop(); probes.stop() }
}

/** The two ingest workloads: `ingest_json_drain` (closed loop, large
  * micro-batches of JSON records) and `ingest_avro_live` (open loop,
  * Confluent-Avro frames at a fixed rate on the default trigger).
  */
final class Ingest(spark: SparkSession, cfg: RunConfig) {
  private val live = cfg.workload == "ingest_avro_live"
  private val p = if (live) cfg.scale.live else cfg.scale.drain
  private val spans = new AtomicReference[Option[Spans]](None)
  private val threadCpu = ManagementFactory.getThreadMXBean
  private val nextG = new AtomicLong(0L)
  private var genCpuNs = 0L

  def run(): Result = {
    val loadT0 = System.nanoTime()
    val base = Base.load(spark, cfg.ingestDir, live)
    val loadS = (System.nanoTime() - loadT0) / 1e9
    val gen = new Gen(base, cfg.seed, live, p.nilShare, p.poisonShare,
      p.redeliverShare)
    val capacity =
      if (live) (p.rate * (cfg.seconds + p.settleS + 5) + (3 + p.warmupChunks) * p.warmup + 1024).toInt
      else 0
    val schedNs = new Array[Long](capacity)
    val ackNs = new Array[Long](capacity)
    // room for ~7 M docs draining, ~0.9 M live
    val receiver = new BulkReceiver(cfg.cpus, if (live) 20 else 23,
      onCreated = (id, now) => if (live) {
        val g = id.substring(id.indexOf(':') + 1).toLong - gen.shift
        if (g >= 0 && g < capacity) ackNs(g.toInt) = now
      })
    val registry =
      if (live) Some(new SchemaRegistry(Base.WriterSchemas, 2)) else None
    try {
      // set-up, three times: the deployment starts on a fresh checkpoint
      // and one warm-up chunk goes through it; the third one stays up
      val deps = ArrayBuffer.empty[Deployment]
      val startS = (1 to 3).map { rep =>
        deps.lastOption.foreach(_.stop())
        val s0 = System.nanoTime()
        val d = new Deployment(spark, cfg.workDir, live, receiver.url,
          registry.map(_.url), rep, () => spans.get)
        deps += d
        d.stream.addData(records(gen, p.warmup))
        d.query.processAllAvailable()
        (System.nanoTime() - s0) / 1e9
      }
      val dep = deps.last
      // warm-up: more chunks through the kept deployment, closed loop,
      // until the JIT has settled on the hot path
      val w0 = System.nanoTime()
      (1 to p.warmupChunks).foreach { _ =>
        dep.stream.addData(records(gen, p.warmup))
        dep.query.processAllAvailable()
      }
      val warmS = (System.nanoTime() - w0) / 1e9
      Main.note(f"set up: load $loadS%.2f s, starts ${startS.mkString("/")} s, warm-up $warmS%.2f s")
      val measured =
        if (live) runLive(dep, gen, schedNs, ackNs, receiver, registry)
        else runDrain(dep, gen, receiver, registry)
      // what the program retains with its deployment still up and idle,
      // before the check builds its own copy of every record sent
      val heap =
        if (cfg.trace) Map.empty[String, Double]
        else Map("retained_heap_mb" -> Heap.retainedMb())
      dep.stop()
      Main.note("timed section done")
      val checked = check(gen, deps.toSeq, receiver, registry)
      val prefixes =
        if (!cfg.trace) Map.empty[String, Double]
        else Prefixes.measure(inputFrame(gen, 0L,
          math.min(nextG.get(), p.prefixRows)), decoder(registry))
      // the batch query families ride along on the traced drain run
      val (queries, queryProblems, querySpans) =
        if (cfg.trace && !live) BatchQueries.traced(spark, cfg)
        else (Map.empty[String, Double], Nil, Nil)
      Result(
        attempted = nextG.get() + (if (queries.isEmpty) 0 else 3 * BatchQueries.Queries.size),
        failed = checked._1 + queryProblems.size,
        problems = checked._2 ++ queryProblems,
        endToEnd = measured ++ heap ++ Map("setup_s" -> (cfg.sessionS + loadS +
          Stats.median(startS) + warmS)),
        perLayer = measured ++ prefixes ++ queries,
        spans = spans.get.map(_.all).getOrElse(Nil) ++ querySpans)
    } finally {
      receiver.stop(); registry.foreach(_.stop())
    }
  }

  private def records(gen: Gen, n: Int): Seq[Msg] = {
    val c0 = threadCpu.getCurrentThreadCpuTime
    val g0 = nextG.getAndAdd(n.toLong)
    val out = (g0 until g0 + n).map(gen.record)
    genCpuNs += threadCpu.getCurrentThreadCpuTime - c0
    out
  }

  private def add(dep: Deployment, rows: Seq[Msg]): Unit = spans.get match {
    case Some(s) => s.time("generator.add", -1L)(dep.stream.addData(rows))
    case None => dep.stream.addData(rows)
  }

  /** Process CPU minus the benchmark's receiver, registry and generator. */
  private def programCpuNs(receiver: BulkReceiver,
      registry: Option[SchemaRegistry]): Long =
    Heap.processCpuNs() - receiver.stats.handlerCpuNanos.sum() -
      registry.map(_.stats.handlerCpuNanos.sum()).getOrElse(0L) - genCpuNs

  private def acked(r: BulkReceiver): Long =
    r.created.sum() + r.conflicts.sum() + r.badRequests.sum()

  private def lastBatch(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  // ----------------------------------------------------------- drain

  private def runDrain(dep: Deployment, gen: Gen, receiver: BulkReceiver,
      registry: Option[SchemaRegistry]): Map[String, Double] = {
    // closed loop: add a chunk, wait for its commit, repeat; the time to
    // generate a chunk is the client's, not the program's
    def phase(seconds: Double) = {
      val lat = ArrayBuffer.empty[Double]
      val a0 = acked(receiver)
      val cpu0 = programCpuNs(receiver, registry)
      var busyNs = 0L
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < end || lat.isEmpty) {
        val chunk = records(gen, p.chunk)
        val t0 = System.nanoTime()
        add(dep, chunk)
        dep.query.processAllAvailable()
        val dt = System.nanoTime() - t0
        busyNs += dt
        lat += dt / 1e6
      }
      val docs = (acked(receiver) - a0).toDouble
      (lat.toSeq, docs / (busyNs / 1e9),
        (programCpuNs(receiver, registry) - cpu0) / 1e3 / docs)
    }
    phase(p.settleS)
    if (!cfg.trace) {
      val (lat, rps, cpuUs) = phase(cfg.seconds)
      Map("throughput_per_s" -> rps,
        "latency_p50_ms" -> Stats.quantile(lat, 0.5),
        "latency_p95_ms" -> Stats.quantile(lat, 0.95),
        "cpu_us_per_op" -> cpuUs)
    } else {
      val (_, rpsA, _) = phase(cfg.seconds / 2.0)
      val tr = new Tracing(spark, receiver, registry, dep, spans)
      val firstBatch = lastBatch(dep.query) + 1
      val (_, rpsB, _) = phase(cfg.seconds / 2.0)
      tr.end(firstBatch) ++ Map(
        "trace.overhead_share" -> (rpsA - rpsB) / rpsA,
        "streaming.backlog_records" -> p.chunk.toDouble,
        "generator.late_ms" -> 0.0)
    }
  }

  // ------------------------------------------------------------ live

  private def runLive(dep: Deployment, gen: Gen, schedNs: Array[Long],
      ackNs: Array[Long], receiver: BulkReceiver,
      registry: Option[SchemaRegistry]): Map[String, Double] = {
    val rnd = new java.util.SplittableRandom(cfg.seed * 7919 + 1)
    val meanGapNs = 1e9 / p.rate
    val late = ArrayBuffer.empty[Double]
    val backlog = ArrayBuffer.empty[Double]
    // open loop: records fall due on a jittered (exponential-gap)
    // schedule at a fixed mean rate; each wake-up sends everything due
    def phase(seconds: Double) = {
      late.clear(); backlog.clear()
      val g0 = nextG.get()
      val a0 = acked(receiver)
      val cpu0 = programCpuNs(receiver, registry)
      val start = System.nanoTime()
      val end = start + (seconds * 1e9).toLong
      var next = start.toDouble
      var g = g0
      var drops = 0L
      while (next < end) {
        val now = System.nanoTime()
        if (now < next) LockSupport.parkNanos((next - now).toLong)
        else {
          val c0 = threadCpu.getCurrentThreadCpuTime
          val due = ArrayBuffer.empty[Msg]
          while (next <= now && next < end) {
            require(g < schedNs.length, "live schedule overran its buffer")
            schedNs(g.toInt) = next.toLong
            late += (now - next) / 1e6
            due += gen.record(g)
            if (gen.dropped(g)) drops += 1
            g += 1
            next += -math.log(1 - rnd.nextDouble()) * meanGapNs
          }
          nextG.set(g)
          genCpuNs += threadCpu.getCurrentThreadCpuTime - c0
          add(dep, due.toSeq)
          backlog += ((g - g0 - drops) - (acked(receiver) - a0)).toDouble
        }
      }
      val docs = acked(receiver) - a0
      val cpuUs = (programCpuNs(receiver, registry) - cpu0) / 1e3 / docs
      dep.query.processAllAvailable()
      val delivered = (g0 until g).map(_.toInt)
        .filter(i => gen.fault(i) == 0 && ackNs(i) > 0)
      def fresh(is: Seq[Int]) = is.map(i => (ackNs(i) - schedNs(i)) / 1e6)
      // the tail is the median of the 95th percentiles of 2-second
      // windows, so one stall of the host does not make the run's tail
      val tail = Stats.median(delivered.groupBy(i => (schedNs(i) - start) / 2000000000L)
        .values.map(w => Stats.quantile(fresh(w), 0.95)).toSeq)
      (fresh(delivered), tail, docs / seconds, cpuUs)
    }
    phase(p.settleS)
    if (!cfg.trace) {
      val (fresh, tail, rps, cpuUs) = phase(cfg.seconds)
      Map("throughput_per_s" -> rps,
        "latency_p50_ms" -> Stats.quantile(fresh, 0.5),
        "latency_p95_ms" -> tail,
        "cpu_us_per_op" -> cpuUs)
    } else {
      val (freshA, _, _, _) = phase(cfg.seconds / 2.0)
      val tr = new Tracing(spark, receiver, registry, dep, spans)
      val firstBatch = lastBatch(dep.query) + 1
      val (freshB, _, _, _) = phase(cfg.seconds / 2.0)
      val (p50A, p50B) = (Stats.median(freshA), Stats.median(freshB))
      tr.end(firstBatch) ++ Map(
        "trace.overhead_share" -> (p50B - p50A) / p50A,
        "streaming.backlog_records" -> backlog.sum / math.max(1, backlog.size),
        "generator.late_ms" -> Stats.quantile(late.toSeq, 0.95))
    }
  }

  // ----------------------------------------------------------- check

  /** The acknowledged doc set must equal the batch pipeline's output on
    * the same generated input: count plus an order-independent checksum
    * over (index, id, `to_json(payload)`). Conflicts must equal the
    * redeliveries, and the nil and poison drops the injected faults.
    * Returns (failed operations, what failed).
    */
  private def check(gen: Gen, deps: Seq[Deployment], receiver: BulkReceiver,
      registry: Option[SchemaRegistry]): (Long, Seq[String]) = {
    val sent = nextG.get()
    val input = inputFrame(gen, 0L, sent).localCheckpoint(true)
    val injCfg = InjectorOps.InjectorConfig(topic = "events")
    val schema = KafkaShape.eventPayloadSchema
    val expected =
      if (!live) InjectorOps.pipeline(injCfg, schema)(input)
      else StreamingPipeline.streamingPipeline(injCfg, schema,
        decoder = Some(decoder(registry)))(input)
    val (expDocs, expSum) = Checksum.of(expected.select(col("es_index"),
      col("doc_id"), to_json(col("payload"))).distinct(),
      concat_ws("\n", col("es_index"), col("doc_id"), col("to_json(payload)")))
    val (expNil, expPoison, expRedelivered) = gen.faultCounts(sent)
    val rowsIn = input.count()
    val afterNil = InjectorOps.nilMessageFilter()(input).count()
    val decoded = decoder(registry)(InjectorOps.nilMessageFilter()(input)).count()

    val problems = ArrayBuffer.empty[String]
    var failed = 0L
    def expect(what: String, got: Long, want: Long): Unit = if (got != want) {
      problems += s"$what: got $got, expected $want"
      failed += math.max(1L, math.abs(got - want))
    }
    expect("acknowledged docs", receiver.docCount, expDocs)
    expect("doc checksum", if (receiver.contentChecksum == expSum) 0 else 1, 0)
    expect("conflicts", receiver.conflicts.sum(), expRedelivered)
    expect("conflicts whose doc differs", receiver.conflictMismatches.sum(), 0)
    expect("bad requests", receiver.badRequests.sum(), 0)
    expect("sink inserted", deps.map(_.sink.inserted.sum()).sum,
      receiver.created.sum())
    expect("sink conflicts", deps.map(_.sink.conflicts.sum()).sum,
      receiver.conflicts.sum())
    expect("rows in", rowsIn, sent)
    expect("nil drops", rowsIn - afterNil, expNil)
    expect("poison drops", afterNil - decoded, expPoison)
    input.unpersist()
    (failed, problems.toSeq)
  }

  private def decoder(registry: Option[SchemaRegistry]): DataFrame => DataFrame =
    if (!live) InjectorOps.jsonDecode(KafkaShape.eventPayloadSchema)
    else InjectorOps.decoderForProvider(Base.ReaderSchema,
      new HttpSchemaProvider(registry.get.url))

  /** Generated records `[g0, g1)` as a batch Kafka-shaped frame. */
  private def inputFrame(gen: Gen, g0: Long, g1: Long): DataFrame = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(gen)
    spark.sparkContext.range(g0, g1, 1L, cfg.cpus)
      .map(g => b.value.record(g)).toDS().toDF()
  }
}
