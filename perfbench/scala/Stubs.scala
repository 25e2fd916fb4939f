package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import scala.collection.mutable

/** In-process stub Prometheus: `query_range` streams the pre-generated
  * response document of the requested window from disk, so generating the
  * response costs nothing inside the measurement. */
final class StubPrometheus(windowsDir: Path) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(2)
  server.setExecutor(pool)
  server.createContext("/api/v1/query_range", (ex: HttpExchange) => {
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split('&').iterator.map(_.split("=", 2)).collect {
        case Array(k, v) => k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap
    val file = params.get("start").map(s => windowsDir.resolve(s"$s.json"))
    try file match {
      case Some(f) if Files.exists(f) =>
        ex.sendResponseHeaders(200, Files.size(f))
        Files.copy(f, ex.getResponseBody)
      case _ => ex.sendResponseHeaders(404, -1)
    } finally ex.close()
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

/** What the stub ClickHouse received for one batch: line count, bytes, the
  * rows whose timestamp an earlier batch already covered, and an
  * order-independent digest of the multiset of TSV lines (see digest.py). */
final class Received {
  var lines = 0L
  var bytes = 0L
  var dupRows = 0L
  var parts = 0
  var sum1 = 0L
  var sum2 = 0L
  var maxTs = Long.MinValue
}

/** In-process stub ClickHouse: accepts `INSERT … FORMAT TabSeparated` bodies
  * and records per batch what arrived. The line digest is two polynomial
  * hashes mod 32-bit primes, summed over lines — the check recomputes it
  * from an independent rendering of the generated points. */
final class StubClickHouse {
  import StubClickHouse._
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newSingleThreadExecutor()
  server.setExecutor(pool)
  val batches = mutable.LinkedHashMap[Long, Received]()
  @volatile private var current: Received = _
  private var highWater = Long.MinValue

  /** Attribute the following inserts to the batch of window `start`. */
  def beginBatch(start: Long): Unit = synchronized {
    batches.values.foreach(b => highWater = math.max(highWater, b.maxTs))
    current = batches.getOrElseUpdate(start, new Received)
  }

  server.createContext("/", (ex: HttpExchange) => {
    try {
      val r = current
      val in = ex.getRequestBody
      val buf = new Array[Byte](1 << 16)
      var h1 = 0L; var h2 = 0L; var ts = 0L; var field = 0; var inFrac = false
      var n = in.read(buf)
      while (n > 0) {
        r.bytes += n
        var i = 0
        while (i < n) {
          val b = buf(i) & 0xff
          if (b == '\n') {
            r.lines += 1; r.sum1 += h1; r.sum2 += h2
            if (ts <= highWater) r.dupRows += 1
            if (ts > r.maxTs) r.maxTs = ts
            h1 = 0L; h2 = 0L; ts = 0L; field = 0; inFrac = false
          } else {
            h1 = (h1 * B1 + b) % P1
            h2 = (h2 * B2 + b) % P2
            if (b == '\t') field += 1
            else if (field == 0 && b == '.') inFrac = true
            else if (field == 0 && !inFrac) ts = ts * 10 + (b - '0')
          }
          i += 1
        }
        n = in.read(buf)
      }
      r.parts += 1
      ex.sendResponseHeaders(200, -1)
    } catch {
      case e: Exception => e.printStackTrace(); ex.sendResponseHeaders(500, -1)
    } finally ex.close()
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object StubClickHouse {
  val P1 = 4294967291L; val B1 = 1000003L
  val P2 = 4294967279L; val B2 = 911382323L
}
