package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** In-process feed server on the JDK `HttpServer` (the shape of the test
  * suite's stub server). It serves pre-rendered bodies only, from at most
  * `threads` handler threads, optionally after a fixed delay per
  * response, and counts what it sees: requests, bytes, status codes,
  * distinct pages and the peak number of requests in flight. These
  * counters are the outside-in measurement of graft's HTTP client.
  */
final class FeedServer(routes: FeedServer.Routes, threads: Int, delayMillis: Int) {
  private val requests = new AtomicLong
  private val bytes = new AtomicLong
  private val statuses = new ConcurrentHashMap[Int, AtomicLong]()
  private val pagesSeen = ConcurrentHashMap.newKeySet[String]()
  private val inflight = new AtomicInteger
  private val peak = new AtomicInteger

  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "feed-server")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val port: Int = server.getAddress.getPort
  def url(path: String): String = s"http://127.0.0.1:$port$path"

  private def handle(ex: HttpExchange): Unit = {
    val now = inflight.incrementAndGet()
    peak.accumulateAndGet(now, math.max)
    try {
      val path = ex.getRequestURI.getPath
      val page = FeedServer.param(ex.getRequestURI.getRawQuery, "page")
      val (status, body) = routes.paged.get(path) match {
        case Some(ps) =>
          val p = page.getOrElse(1)
          pagesSeen.add(s"$path#$p")
          (200, if (p >= 1 && p <= ps.length) ps(p - 1) else FeedServer.EmptyArray)
        case None => routes.whole.get(path) match {
          case Some(b) => pagesSeen.add(path); (200, b)
          case None => (404, FeedServer.NotFound)
        }
      }
      if (delayMillis > 0) Thread.sleep(delayMillis)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, body.length.toLong)
      ex.getResponseBody.write(body)
      requests.incrementAndGet()
      bytes.addAndGet(body.length.toLong)
      statuses.computeIfAbsent(status, _ => new AtomicLong).incrementAndGet()
    } finally {
      ex.close()
      inflight.decrementAndGet()
    }
  }

  /** Counters since the last reset. */
  def counters: FeedServer.Counters = {
    import scala.jdk.CollectionConverters._
    FeedServer.Counters(requests.get, bytes.get, pagesSeen.size.toLong, peak.get,
      statuses.asScala.map { case (k, v) => k.intValue -> v.get }.toMap)
  }

  def reset(): Unit = {
    requests.set(0); bytes.set(0); statuses.clear(); pagesSeen.clear(); peak.set(0)
  }

  /** Counters of one operation: distinct pages, and so retries, count
    * within the operation. */
  def around[T](body: => T): (T, FeedServer.Counters) = {
    reset()
    val r = body
    (r, counters)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object FeedServer {
  /** `paged`: path → page bodies (page n at index n-1; pages past the end
    * answer `[]`). `whole`: path → one body. */
  final case class Routes(paged: Map[String, Array[Array[Byte]]], whole: Map[String, Array[Byte]])

  final case class Counters(requests: Long, bytes: Long, distinctPages: Long,
                            maxInflight: Int, statuses: Map[Int, Long]) {
    def retries: Long = requests - distinctPages

    /** Counters of two operations: counts add up, the peak is the larger. */
    def +(o: Counters): Counters = Counters(requests + o.requests, bytes + o.bytes,
      distinctPages + o.distinctPages, math.max(maxInflight, o.maxInflight),
      (statuses.keySet ++ o.statuses.keySet).map(k =>
        k -> (statuses.getOrElse(k, 0L) + o.statuses.getOrElse(k, 0L))).toMap)
  }

  val NoCounters: Counters = Counters(0, 0, 0, 0, Map.empty)

  private val EmptyArray = "[]".getBytes("UTF-8")
  private val NotFound = """{"error":"not found"}""".getBytes("UTF-8")

  private def param(query: String, name: String): Option[Int] =
    Option(query).toSeq.flatMap(_.split('&')).collectFirst {
      case kv if kv.startsWith(name + "=") => kv.substring(name.length + 1).toInt
    }
}
