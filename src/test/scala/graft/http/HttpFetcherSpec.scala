package graft.http

import graft.GraftError.HttpError
import graft.config.{Pagination, Source}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** HTTP executor + pagination semantics — reference behaviors from
  * /root/reference/src/datasources.rs:110-268 with the documented
  * divergences (empty-page/end_page termination, config param names). */
class HttpFetcherSpec extends AnyFunSuite {
  private val fetcher = new HttpFetcher()

  /** The paginated snapshot of `url` under `p`, as `HttpTables` fetches it. */
  private def paged(f: HttpFetcher, url: String, p: Pagination): Seq[String] =
    f.fetchRows(Source("paged", url, pagination = Some(p)))

  test("GET array response flattens to one row per element") {
    StubServer.withServer({
      case ("GET", "/posts", _) => (200, """[{"id":1,"t":"a"},{"id":2,"t":"b"}]""")
    }) { s =>
      val rows = fetcher.fetchRows(Source("posts", s.url("/posts")))
      assert(rows.size == 2)
      assert(rows.head.contains("\"id\":1"))
    }
  }

  test("scalar/object response becomes a single row; POST is allowed") {
    StubServer.withServer({
      case ("POST", "/one", _) => (200, """{"id":7,"name":"x"}""")
    }) { s =>
      val rows = fetcher.fetchRows(Source("one", s.url("/one"), method = "POST"))
      assert(rows == Seq("""{"id":7,"name":"x"}"""))
    }
  }

  test("non-GET/POST method is a typed error (reference whitelist)") {
    val e = intercept[HttpError](fetcher.fetchJson("http://127.0.0.1:1/x", "DELETE"))
    assert(e.getMessage.contains("unsupported HTTP method"))
  }

  test("non-2xx status is a typed error carrying the status") {
    StubServer.withServer({
      case ("GET", "/boom", _) => (503, """{"err":"down"}""")
    }) { s =>
      val e = intercept[HttpError](fetcher.fetchJson(s.url("/boom")))
      assert(e.status == 503)
    }
  }

  test("invalid JSON body is a typed error; empty body is the null sentinel") {
    StubServer.withServer({
      case ("GET", "/bad", _)   => (200, "<html>nope</html>")
      case ("GET", "/empty", _) => (200, "")
    }) { s =>
      assertThrows[HttpError](fetcher.fetchJson(s.url("/bad")))
      assert(fetcher.fetchJson(s.url("/empty")).isNull)
    }
  }

  test("pagination walks start_page..end_page with config param names and concatenates") {
    StubServer.withServer({
      case ("GET", "/items", q) if q.startsWith("p=") =>
        val page = q.split("&")(0).stripPrefix("p=").toInt
        assert(q.endsWith("per_page=2"))
        if (page <= 3) (200, s"""[{"page":$page,"i":1},{"page":$page,"i":2}]""")
        else (200, "null")
    }) { s =>
      val p = Pagination(startPage = 1, endPage = 10, pageSize = 2,
        pageParam = "p", pageSizeParam = "per_page")
      val rows = paged(fetcher, s.url("/items"), p)
      assert(rows.size == 6) // 3 pages × 2 rows; stops at the null page
    }
  }

  test("pagination terminates on an empty page (divergence from reference's null-only)") {
    StubServer.withServer({
      case ("GET", "/e", q) =>
        val page = q.split("&")(0).stripPrefix("page=").toInt
        if (page <= 2) (200, s"""[{"p":$page}]""") else (200, "[]")
    }) { s =>
      val rows = paged(fetcher, s.url("/e"), Pagination())
      assert(rows.size == 2)
    }
  }

  test("pagination respects the end_page bound even when pages keep coming") {
    StubServer.withServer({
      case ("GET", "/inf", _) => (200, """[{"x":1}]""")
    }) { s =>
      val rows = paged(fetcher, s.url("/inf"), Pagination(endPage = 4))
      assert(rows.size == 4)
    }
  }

  test("pageUrl appends with & when the url already has a query string") {
    val p = Pagination()
    assert(fetcher.pageUrl("http://h/x", p, 3) == "http://h/x?page=3&limit=10")
    assert(fetcher.pageUrl("http://h/x?k=v", p, 3) == "http://h/x?k=v&page=3&limit=10")
  }

  test("5xx retries with backoff and succeeds; 4xx fails immediately") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    StubServer.withServer({
      case ("GET", "/flaky", _) =>
        if (calls.incrementAndGet() <= 2) (503, """{"err":"busy"}""")
        else (200, """[{"id":7}]""")
      case ("GET", "/gone", _) => (404, """{"err":"no"}""")
    }) { s =>
      val retrying = new HttpFetcher(backoffMillis = 1L)
      val rows = retrying.fetchRows(Source("flaky", s.url("/flaky")))
      assert(rows.size == 1 && calls.get() == 3,
        s"two 503s then success — got ${calls.get()} calls")
      // a definitive client error must NOT be retried
      val e = intercept[HttpError] {
        retrying.fetchRows(Source("gone", s.url("/gone")))
      }
      assert(e.getMessage.contains("404"))
    }
  }

  test("retries exhausted surfaces the last transient error") {
    StubServer.withServer({
      case ("GET", "/down", _) => (500, """{"err":"down"}""")
    }) { s =>
      val one = new HttpFetcher(maxRetries = 1, backoffMillis = 1L)
      val e = intercept[HttpError] {
        one.fetchRows(Source("down", s.url("/down")))
      }
      assert(e.getMessage.contains("500"))
    }
  }

  // ---- the in-order page window ----

  private def pageOf(q: String): Int =
    q.split('&').collectFirst { case kv if kv.startsWith("page=") => kv.drop(5).toInt }.get

  /** Pages 1..n of one row each, then `term`; `fail` pages answer 500;
    * responses are delayed a page-dependent few ms, so they complete out
    * of page order. */
  private def feed(n: Int, term: String = "[]", fail: Int => Boolean = _ => false)
      : PartialFunction[(String, String, String), (Int, String)] = {
    case (_, "/w", q) =>
      val page = pageOf(q)
      Thread.sleep((page * 7 % 5) * 4L)
      if (fail(page)) (500, """{"err":"down"}""")
      else if (page <= n) (200, s"""[{"page":$page}]""")
      else (200, term)
  }

  /** Pages the stub was asked for, once any request still in flight
    * when the loop returned has arrived. */
  private def requested(s: StubServer): Seq[Int] = {
    Thread.sleep(200)
    s.requests.asScala.toSeq.map(r => pageOf(r.query))
  }

  /** The window's threads are daemons and all end soon after the loop
    * returns, whether it finished, stopped early or failed. */
  private def assertWindowThreadsReleased(): Unit = {
    def window = Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-http-page")
    assert(window.forall(_.isDaemon), "window threads must be daemons")
    val deadline = System.nanoTime() + 5000000000L
    while (window.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(window.isEmpty, s"window threads still alive: $window")
  }

  private def rowsOf(pages: Range): Seq[String] = pages.map(p => s"""{"page":$p}""")

  test("page window: rows come back in page order with at most 4 requests in flight") {
    StubServer.withServer(feed(20), threads = 8) { s =>
      val rows = paged(fetcher, s.url("/w"), Pagination(endPage = 50))
      assert(rows == rowsOf(1 to 20))
      assert(s.peakInflight <= 4, s"peak in flight ${s.peakInflight}")
      assert(s.peakInflight > 1, "pages must be requested concurrently")
      assertWindowThreadsReleased()
    }
  }

  test("page window never requests past end_page") {
    for (end <- Seq(2, 6)) StubServer.withServer(feed(100), threads = 8) { s =>
      val rows = paged(fetcher, s.url("/w"), Pagination(endPage = end))
      assert(rows == rowsOf(1 to end))
      assert(requested(s).sorted == (1 to end), s"end_page $end")
    }
    assertWindowThreadsReleased()
  }

  test("page window makes at most 3 requests past a null or [] page") {
    for (term <- Seq("[]", "null")) StubServer.withServer(feed(5, term), threads = 8) { s =>
      val rows = paged(fetcher, s.url("/w"), Pagination(endPage = 100))
      assert(rows == rowsOf(1 to 5), term)
      val past = requested(s).filter(_ > 6)
      assert(past.size <= 3 && past.distinct == past, s"$term: requested past page 6: $past")
    }
    assertWindowThreadsReleased()
  }

  test("page window: a 500 past the terminator raises nothing, a 500 before it raises after its retries") {
    val retrying = new HttpFetcher(maxRetries = 1, backoffMillis = 1L)
    StubServer.withServer(feed(3, fail = _ == 5), threads = 8) { s =>
      val rows = paged(retrying, s.url("/w"), Pagination(endPage = 10))
      assert(rows == rowsOf(1 to 3))
    }
    StubServer.withServer(feed(6, fail = _ == 2), threads = 8) { s =>
      val e = intercept[HttpError] {
        paged(retrying, s.url("/w"), Pagination(endPage = 10))
      }
      assert(e.status == 500)
      assert(requested(s).count(_ == 2) == 2, "one request and one retry of page 2")
    }
    assertWindowThreadsReleased()
  }

  test("page window: POST pages keep their method, body and content type") {
    StubServer.withServer(feed(3), threads = 8) { s =>
      val rows = fetcher.fetchRows(Source("posted", s.url("/w"), method = "POST",
        pagination = Some(Pagination(endPage = 10))))
      assert(rows == rowsOf(1 to 3))
      val reqs = s.requests.asScala.toSeq
      assert(reqs.nonEmpty && reqs.forall(r => r.method == "POST" &&
        r.contentType.contains("application/json") && r.body.isEmpty), reqs)
    }
    assertWindowThreadsReleased()
  }
}
