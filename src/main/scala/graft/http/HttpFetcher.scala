package graft.http

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.GraftError.HttpError
import graft.config.{Pagination, Source}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{Callable, ExecutionException, Future, LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import scala.jdk.CollectionConverters._

/** HTTP request executor + pagination (reference: `data_extraction` at
  * /root/reference/src/datasources.rs:212-268 and the page loop at
  * :119-161).
  *
  * Semantics kept from the reference:
  *   - GET and POST only; any other method is a typed error
  *     (datasources.rs:217-223).
  *   - non-2xx status is an error (datasources.rs:248).
  *   - a JSON `null` body is a terminator sentinel (datasources.rs:259-262).
  *   - array responses flatten to one row per element; scalar/object
  *     responses become a single row (datasources.rs:145-156/177-189).
  *
  * Deliberate divergences (SURVEY.md §7):
  *   - pagination also terminates on an EMPTY page or at `end_page` — the
  *     reference only stops on `null` and loops forever on persistent `[]`
  *     (datasources.rs:139-141), and its shipped main never reaches the
  *     loop at all (main.rs:41).
  *   - page/page-size parameter names come from the `Pagination` config,
  *     implementing the intent of the dead `data_extraction_from_source`
  *     (datasources.rs:286-316) instead of a hard-coded `?page=`.
  *
  * Pages are requested through a bounded in-order window: on the driver
  * up to four page requests are in flight at once, on daemon threads of
  * the call, and the pages are consumed in page order. The result is the
  * sequential loop's: it stops at the first null or empty page or at
  * `end_page`, never requests past `end_page`, requests at most three
  * pages past the terminating page, and raises a page's error only when
  * the sequential loop would have reached that page. Retries and backoff
  * stay per request ([[fetchJson]]). A `fetch=executor` page range runs
  * the same loop one request at a time: its ranges already run in
  * parallel.
  *
  * This runs on the DRIVER at registration time (same as the reference's
  * eager fetch, dataframe.rs:14-21), and on executors for the connector's
  * `fetch=executor` page ranges.
  */
class HttpFetcher(timeout: Duration = Duration.ofSeconds(30),
                  maxRetries: Int = 2,
                  backoffMillis: Long = 200L) {

  private val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(timeout).build()
  private val mapper = new ObjectMapper()

  /** One request → parsed JSON body. `null`/empty body → NullNode.
    *
    * Transient failures — connect/IO errors and 5xx/429 — retry up to
    * `maxRetries` times with exponential backoff (production behavior
    * the reference lacks: its `data_extraction` surfaces the first error,
    * datasources.rs:237-248, so one flaky page kills a whole ingestion).
    * 4xx other than 429 fails immediately: the request itself is wrong
    * and retrying cannot fix it. */
  def fetchJson(url: String, method: String = "GET", body: String = ""): JsonNode = {
    val b = HttpRequest.newBuilder(URI.create(url)).timeout(timeout)
    val req = method.toUpperCase match {
      case "GET"  => b.GET().build()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
      case other  => throw HttpError(s"unsupported HTTP method: $other (only GET/POST)")
    }
    var attempt = 0
    var resp: HttpResponse[String] = null
    var lastErr: HttpError = null
    while (resp == null && attempt <= maxRetries) {
      if (attempt > 0) Thread.sleep(backoffMillis << (attempt - 1))
      attempt += 1
      try {
        val r = client.send(req, HttpResponse.BodyHandlers.ofString())
        if (r.statusCode() >= 500 || r.statusCode() == 429)
          lastErr = HttpError(s"HTTP ${r.statusCode()} from $url", r.statusCode())
        else resp = r
      } catch {
        case e: Exception =>
          lastErr = HttpError(s"request failed: $url", cause = e)
      }
    }
    if (resp == null) throw lastErr
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw HttpError(s"HTTP ${resp.statusCode()} from $url", resp.statusCode())
    val text = resp.body()
    if (text == null || text.trim.isEmpty) mapper.nullNode()
    else
      try mapper.readTree(text)
      catch { case e: Exception => throw HttpError(s"invalid JSON from $url", cause = e) }
  }

  /** Flatten a response body into JSON-line rows. */
  def toRows(node: JsonNode): Seq[String] =
    if (node == null || node.isNull) Seq.empty
    else if (node.isArray) node.elements().asScala.map(_.toString).toSeq
    else Seq(node.toString)

  /** Fetch a source's full snapshot: single request, or the bounded
    * pagination loop when `source.pagination` is set. */
  def fetchRows(source: Source): Seq[String] = fetchPages(source).flatten

  /** The same snapshot page by page: one page for a single request; with
    * pagination, every page from `start_page` before the first null or
    * empty one, up to `end_page`. */
  def fetchPages(source: Source): Seq[Seq[String]] = source.pagination match {
    case None => Seq(toRows(fetchJson(source.url, source.method)))
    case Some(p) =>
      fetchPageRange(source.url, source.method, p, p.startPage, p.endPage, HttpFetcher.Window).toList
  }

  /** Pages `from..to` in page order, before the first null or empty one,
    * fetched through an in-order window of `window` requests (see the
    * class doc) as the iterator is read: while the caller reads page k,
    * pages k+1..k+window-1 are in flight, and at most window-1 requests go
    * past the terminating page. When the loop ends, requests not yet sent
    * are cancelled and those in flight finish on their own threads. The
    * window's threads are daemons that end once idle for a second, so an
    * iterator left unread releases them too. */
  def fetchPageRange(url: String, method: String, p: Pagination,
                     from: Int, to: Int, window: Int): Iterator[Seq[String]] = {
    val last = to.toLong // Long: `to` may be Int.MaxValue
    new Iterator[Seq[String]] {
      private val pool = new ThreadPoolExecutor(window, window,
        1L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](), HttpFetcher.daemons)
      pool.allowCoreThreadTimeOut(true)
      private val inflight = scala.collection.mutable.Queue.empty[Future[Seq[String]]]
      private var unrequested = from.toLong
      private var ready: Seq[String] = null

      private def submit(): Unit = if (unrequested <= last) {
        val page = unrequested.toInt
        inflight.enqueue(pool.submit(new Callable[Seq[String]] {
          override def call(): Seq[String] = fetchPage(url, method, p, page)
        }))
        unrequested += 1
      }
      (1 to window).foreach(_ => submit())

      private def stop(): Unit = {
        inflight.foreach(_.cancel(false))
        inflight.clear()
        pool.shutdown()
      }

      override def hasNext: Boolean = {
        if (ready == null && inflight.nonEmpty) {
          val rows =
            try inflight.dequeue().get()
            catch {
              case e: Throwable =>
                stop()
                throw (e match { case x: ExecutionException => x.getCause; case _ => e })
            }
          if (rows.nonEmpty) { ready = rows; submit() }
          // a null or empty page, or end_page, ends the loop
          if (rows.isEmpty || inflight.isEmpty) stop()
        }
        ready != null
      }

      override def next(): Seq[String] = {
        if (!hasNext) throw new NoSuchElementException("no page after the last one")
        val rows = ready
        ready = null
        rows
      }
    }
  }

  /** One page's rows (the unit the streaming source consumes per
    * micro-batch — same URL construction and flatten as the batch loop). */
  def fetchPage(url: String, method: String, p: Pagination, page: Int): Seq[String] =
    toRows(fetchJson(pageUrl(url, p, page), method))

  /** `url?{page_param}={n}&{page_size_param}={size}`, appending with `&`
    * when the url already has a query string (the reference always appends
    * `?page=` — datasources.rs:123-127 — which breaks such urls).
    * Param names are URL-encoded (ADVICE r2): a config value containing
    * space/`&`/`=` must not silently restructure the query string. */
  private[http] def pageUrl(url: String, p: Pagination, page: Int): String = {
    def enc(s: String) =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
    val sep = if (url.contains('?')) '&' else '?'
    s"$url$sep${enc(p.pageParam)}=$page&${enc(p.pageSizeParam)}=${p.pageSize}"
  }
}

object HttpFetcher {
  /** Page requests the driver's page loop keeps in flight. */
  private val Window = 4

  private val daemons: ThreadFactory = r => {
    val t = new Thread(r, "graft-http-page")
    t.setDaemon(true)
    t
  }
}
