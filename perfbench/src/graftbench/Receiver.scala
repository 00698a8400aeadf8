package graftbench

import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Open-addressing map from a 64-bit doc key to a 64-bit content hash.
  * Fixed capacity, no resizing: the receiver stores one hash per doc,
  * never the doc itself. Key 0 is reserved as the empty marker.
  */
final class LongLongMap(capacityPow2: Int) {
  private val mask = (1 << capacityPow2) - 1
  private val keys = new Array[Long](1 << capacityPow2)
  private val vals = new Array[Long](1 << capacityPow2)
  private var size0 = 0

  def size: Int = synchronized(size0)

  /** Inserts `key -> v` unless present; returns the existing value or
    * `None` when the insert happened.
    */
  def putIfAbsent(key0: Long, v: Long): Option[Long] = synchronized {
    val key = if (key0 == 0L) 1L else key0
    var i = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L) & mask)
    while (keys(i) != 0L && keys(i) != key) i = (i + 1) & mask
    if (keys(i) == key) Some(vals(i))
    else {
      require(size0 < mask - (mask >> 3), "receiver doc map full")
      keys(i) = key; vals(i) = v; size0 += 1
      None
    }
  }
}

/** Counters one HTTP endpoint keeps about its own work. Handler time is
  * wall time inside the handler; CPU time is the handler thread's.
  */
final class ServerStats {
  val requests = new LongAdder
  val requestBytes = new LongAdder
  val handlerNanos = new LongAdder
  val handlerCpuNanos = new LongAdder
}

private[graftbench] object Http {
  private val threadCpu = ManagementFactory.getThreadMXBean

  def serve(threads: Int, stats: ServerStats)(
      handle: HttpExchange => Unit): (HttpServer, ExecutorService) = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    val pool = Executors.newFixedThreadPool(threads)
    server.createContext("/", (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      val c0 = threadCpu.getCurrentThreadCpuTime
      try handle(ex)
      catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error":${Json.str(String.valueOf(e))}}""")
      } finally {
        stats.requests.increment()
        stats.handlerNanos.add(System.nanoTime() - t0)
        stats.handlerCpuNanos.add(threadCpu.getCurrentThreadCpuTime - c0)
      }
    })
    server.setExecutor(pool)
    server.start()
    (server, pool)
  }

  def stop(server: HttpServer, pool: ExecutorService): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  def readBody(ex: HttpExchange): Array[Byte] = {
    val in = ex.getRequestBody
    try in.readAllBytes() finally in.close()
  }

  def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    if (ex.getRequestMethod == "HEAD" || b.isEmpty)
      ex.sendResponseHeaders(status, -1)
    else {
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, b.length.toLong)
      val os = ex.getResponseBody
      try os.write(b) finally os.close()
    }
    ex.close()
  }
}

/** The benchmark's own Elasticsearch `_bulk` receiver: `create`
  * semantics (201, 409 on an existing id, 400 on an unparseable doc),
  * one content hash per doc, and counters for requests, bytes and
  * statuses. It serves on a fixed pool of `threads` threads and reports
  * its own busy time, so a run can tell when the receiver rather than
  * the program is the bottleneck.
  *
  * Doc identity and content hashes use Spark's XXH64 (seed 42) over the
  * UTF-8 bytes of `index \n id \n doc`, the same function as the SQL
  * `xxhash64(concat_ws("\n", ...))` the output check computes in batch.
  *
  * `onCreated(id, nanoTime)` sees every 201, for freshness accounting.
  */
final class BulkReceiver(val threads: Int, capacityPow2: Int,
    onCreated: (String, Long) => Unit = (_, _) => ()) {
  val stats = new ServerStats
  val created = new LongAdder
  val conflicts = new LongAdder
  val badRequests = new LongAdder
  /** 409s whose doc differs from the stored one: a redelivery must be
    * byte-identical to the original, so any of these is a failure.
    */
  val conflictMismatches = new LongAdder
  private val docs = new LongLongMap(capacityPow2)
  // order-independent checksum over stored docs (wrapping sum)
  private val checksum = new AtomicLong(0L)
  /** Wall intervals of `_bulk` handling, (start, end) nanoTime, kept only
    * while tracing.
    */
  @volatile var spans: Option[Spans] = None

  private val mapper = new ObjectMapper()
  private val (server, pool) = Http.serve(threads, stats) { ex =>
    (ex.getRequestMethod, ex.getRequestURI.getPath) match {
      case ("GET", "/") =>
        Http.respond(ex, 200, """{"name":"perfbench-receiver"}""")
      case ("POST", "/_bulk") => bulk(ex)
      case _ => Http.respond(ex, 404, """{"error":"not implemented"}""")
    }
  }

  val port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"
  def docCount: Long = docs.size.toLong
  def contentChecksum: Long = checksum.get()
  def stop(): Unit = Http.stop(server, pool)

  private def bulk(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val body = Http.readBody(ex)
    stats.requestBytes.add(body.length.toLong)
    val text = new String(body, UTF_8)
    val lines = text.split("\n").filter(_.nonEmpty)
    val items = new java.lang.StringBuilder(64 * lines.length)
    var errors = false
    var first = true
    // (action, doc) line pairs; a trailing action without a doc is dropped
    for (i <- 0 until lines.length - 1 by 2) {
      val (actionLine, docLine) = (lines(i), lines(i + 1))
      val create = mapper.readTree(actionLine).get("create")
      val index = create.get("_index").asText()
      val id = create.get("_id").asText()
      val status =
        try {
          mapper.readTree(docLine) // 400 on an unparseable doc
          val key = hash(index + "\n" + id)
          val h = hash(index + "\n" + id + "\n" + docLine)
          docs.putIfAbsent(key, h) match {
            case None =>
              checksum.addAndGet(h)
              onCreated(id, System.nanoTime())
              created.increment(); 201
            case Some(prev) =>
              if (prev != h) conflictMismatches.increment()
              conflicts.increment(); 409
          }
        } catch {
          case _: com.fasterxml.jackson.core.JsonProcessingException =>
            badRequests.increment(); 400
        }
      if (status != 201) errors = true
      if (!first) items.append(',')
      first = false
      items.append("""{"create":{"_index":""").append(Json.str(index))
        .append(""","_id":""").append(Json.str(id))
        .append(""","status":""").append(status).append("}}")
    }
    Http.respond(ex, 200, s"""{"errors":$errors,"items":[$items]}""")
    spans.foreach(_.add("receiver.bulk", -1L, t0, System.nanoTime()))
  }

  private def hash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length, 42L)
  }
}

/** In-process Confluent schema registry:
  * `GET /schemas/ids/{id}` → `{"schema": "<escaped json>"}`.
  */
final class SchemaRegistry(schemas: Map[Int, String], threads: Int) {
  val stats = new ServerStats
  private val (server, pool) = Http.serve(threads, stats) { ex =>
    val path = ex.getRequestURI.getPath
    val id = path.stripPrefix("/schemas/ids/")
    schemas.get(scala.util.Try(id.toInt).getOrElse(-1)) match {
      case Some(s) if path.startsWith("/schemas/ids/") =>
        Http.respond(ex, 200, s"""{"schema":${Json.str(s)}}""")
      case _ => Http.respond(ex, 404, """{"error_code":40403}""")
    }
  }
  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = Http.stop(server, pool)
}
