package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** In-process HTTP stub (zero-egress test harness, SURVEY.md §5.3):
  * serves canned JSONPlaceholder-shaped payloads on an ephemeral port.
  *
  * Routes are (method, path) → (status, body); a handler can also inspect
  * the query string for pagination tests. Handlers run on the server's
  * dispatcher thread, or on a pool of `threads` daemon threads when
  * `threads > 0`, so requests can overlap. The stub records every request
  * and the peak number of requests in flight.
  */
final class StubServer(routes: PartialFunction[(String, String, String), (Int, String)],
                       threads: Int = 0) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool: Option[ExecutorService] = Option.when(threads > 0)(
    Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "stub-server")
      t.setDaemon(true)
      t
    }))
  private val inflight = new AtomicInteger
  private val peak = new AtomicInteger

  /** Every request served, in arrival order. */
  val requests = new ConcurrentLinkedQueue[StubServer.Request]()

  pool.foreach(server.setExecutor)
  server.createContext("/", (ex: HttpExchange) => {
    peak.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      val key = (ex.getRequestMethod, ex.getRequestURI.getPath,
        Option(ex.getRequestURI.getQuery).getOrElse(""))
      requests.add(StubServer.Request(key._1, key._2, key._3,
        Option(ex.getRequestHeaders.getFirst("Content-Type")),
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)))
      val (status, body) =
        if (routes.isDefinedAt(key)) routes(key) else (404, """{"error":"not found"}""")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      inflight.decrementAndGet()
    }
  })
  server.start()

  val port: Int = server.getAddress.getPort
  def url(path: String): String = s"http://127.0.0.1:$port$path"

  /** The most requests that were in a handler at once. */
  def peakInflight: Int = peak.get

  def stop(): Unit = {
    server.stop(0)
    pool.foreach { p => p.shutdownNow(); p.awaitTermination(10, TimeUnit.SECONDS) }
  }
}

object StubServer {
  final case class Request(method: String, path: String, query: String,
                           contentType: Option[String], body: String)

  /** Run a block against a stub, always stopping it. */
  def withServer[A](routes: PartialFunction[(String, String, String), (Int, String)],
                    threads: Int = 0)(f: StubServer => A): A = {
    val s = new StubServer(routes, threads)
    try f(s) finally s.stop()
  }
}
