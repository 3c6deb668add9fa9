package perfbench

import graft.config.{Pagination, Source, YamlConfig}
import graft.source.HttpTables
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Shared result checks over collected rows. */
object Checks {
  /** (key, count, sum) rows → key → (count, sum). */
  def groups[K](rows: Array[Row], key: Row => K): Map[K, (Long, Long)] =
    rows.map(r => key(r) -> (r.getLong(1), r.getLong(2))).toMap

  def sortedLongs(rows: Array[Row]): Seq[Long] = rows.map(_.getLong(0)).toSeq.sorted
}

/** The paper's path, cold each iteration: write a two-source YAML config,
  * `YamlConfig.load` → `Main.run` → collect every source's SQL result, then
  * release the views and their cache. */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  private var feed: Feed = _
  private var server: FeedServer = _
  private val config = ctx.workDir.resolve("ingest.yaml")
  private var served = FeedServer.NoCounters
  private val cachedMb = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def setUp(spark: SparkSession): Unit = {
    feed = new Feed(ctx.seed, nEvents = 100000, pageSize = 10000, nUsers = 10000)
    server = new FeedServer(feed.routes(withUsers = true), ctx.serverThreads, delayMillis = 0)
    Files.writeString(config,
      s"""sources:
         |  - name: events
         |    url: ${server.url("/events")}
         |    pagination:
         |      start_page: 1
         |      end_page: ${feed.pages}
         |      page_size: ${feed.pageSize}
         |    sql: "SELECT kind, COUNT(*) AS n, SUM(qty) AS q FROM events GROUP BY kind"
         |  - name: users
         |    url: ${server.url("/users")}
         |    sql: "SELECT u.tier, COUNT(*) AS n, SUM(e.qty) AS q FROM events e JOIN users u ON e.user_id = u.id GROUP BY u.tier"
         |""".stripMargin)
  }

  /** `Main.run`'s body with a per-layer timed fetcher: register each
    * source, then plan its SQL. Used in traced runs only, because
    * `Main.run` takes no fetcher. */
  private def tracedRun(spark: SparkSession, cfg: graft.config.Config): Seq[(String, DataFrame)] =
    cfg.sources.flatMap { src =>
      Trace.span("source.register")(HttpTables.register(spark, src, Stats.fetcher))
      src.getSql.map(sql => src.name -> Trace.span("sql.plan")(spark.sql(sql)))
    }

  override def pass(spark: SparkSession): Seq[Op] = {
    val (op, counters) = server.around(timed("ingest") {
      val cfg = Trace.span("config.parse")(YamlConfig.load(config))
      val frames = if (Trace.enabled) tracedRun(spark, cfg) else graft.Main.run(spark, cfg)
      val results = frames.zipWithIndex.map { case ((name, df), i) =>
        name -> Trace.span(if (i == 0) "source.first_query" else "sql.collect")(df.collect())
      }.toMap
      if (Trace.enabled) cachedMb += Stats.storageMb(spark)
      check("events aggregate", Checks.groups(results("events"), _.getString(0)) == feed.byKind) &
        check("events-users join", Checks.groups(results("users"), _.getLong(0)) == feed.byTier)
    })
    served = served + counters
    Seq("events", "users").foreach { v =>
      spark.catalog.uncacheTable(v)
      spark.catalog.dropTempView(v)
    }
    Seq(op)
  }

  override def resetCounters(): Unit = { served = FeedServer.NoCounters; cachedMb.clear() }

  override def tearDown(spark: SparkSession): Unit = server.stop()

  override def named(passes: Seq[Seq[Op]]): Seq[Metric] =
    Seq(Metric("ingest_p50_s", Stats.passMedian(passes)(_ => true), "s"))

  override def layers(passes: Seq[Seq[Op]], probe: SparkProbe): Seq[Metric] = {
    val n = passes.size
    Seq(
      Metric("config.parse_s", Trace.total("config.parse") / n, "s"),
      Metric("source.register_self_s", Trace.selfTotal("source.register") / n, "s"),
      Metric("source.first_query_s", Trace.total("source.first_query") / n, "s"),
      Metric("source.cached_mb", if (cachedMb.isEmpty) 0.0 else Stats.median(cachedMb.toSeq), "MB")) ++
      Stats.httpClient(n) ++ Stats.httpServer(served, n)
  }
}

/** Interactive SQL over a held snapshot: the same feed registered through
  * `HttpTables` (decoded once and cached) and through `format("http")`
  * (driver snapshot, decoded per query), and one client cycling eight
  * query shapes against both. */
final class QueryWorkload(ctx: Ctx) extends Workload(ctx) {
  private var feed: Feed = _
  private var server: FeedServer = _
  private val cachedMb = scala.collection.mutable.ArrayBuffer.empty[Double]

  private final case class Shape(name: String, sql: (String, String) => String, ok: Array[Row] => Boolean)

  private lazy val shapes: Seq[Shape] = {
    val (users, sumIds) = feed.bestPerUser
    Seq(
      Shape("projection", (e, _) => s"SELECT event_id, amount FROM $e", rows =>
        rows.length == feed.nEvents && rows.map(_.getLong(0)).sum == feed.sumEventId &&
          math.abs(rows.map(_.getDouble(1)).sum * 100 - feed.sumCents) < 1.0),
      Shape("filter", (e, _) => s"SELECT event_id FROM $e WHERE user_id = ${feed.probeUser}",
        rows => Checks.sortedLongs(rows) == feed.probeEventIds),
      Shape("top_n", (e, _) => s"SELECT event_id FROM $e ORDER BY score DESC LIMIT 10",
        rows => rows.map(_.getLong(0)).toSeq == feed.top10ScoreIds),
      Shape("count_min_max", (e, _) => s"SELECT COUNT(*), MIN(qty), MAX(qty) FROM $e",
        rows => rows.length == 1 && rows(0).getLong(0) == feed.nEvents &&
          rows(0).getLong(1) == feed.minQty && rows(0).getLong(2) == feed.maxQty),
      Shape("group_by", (e, _) => s"SELECT kind, COUNT(*), SUM(qty) FROM $e GROUP BY kind",
        rows => Checks.groups(rows, _.getString(0)) == feed.byKind),
      Shape("join", (e, u) =>
        s"SELECT u.tier, COUNT(*), SUM(e.qty) FROM $e e JOIN $u u ON e.user_id = u.id GROUP BY u.tier",
        rows => Checks.groups(rows, _.getLong(0)) == feed.byTier),
      Shape("nested", (_, u) =>
        s"SELECT address.city, COUNT(*), SUM(address.zone) FROM $u WHERE size(tags) >= 2 GROUP BY address.city",
        rows => Checks.groups(rows, _.getString(0)) == feed.taggedByCity),
      Shape("window", (e, _) =>
        s"""SELECT COUNT(*), SUM(event_id) FROM (SELECT event_id,
           |ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY score DESC) AS rn FROM $e) WHERE rn = 1""".stripMargin,
        rows => rows(0).getLong(0) == users && rows(0).getLong(1) == sumIds))
  }

  private val backends = Seq("cached" -> ("ev_cached", "us_cached"), "connector" -> ("ev_http", "us_http"))

  override def setUp(spark: SparkSession): Unit = {
    feed = new Feed(ctx.seed, nEvents = 20000, pageSize = 10000, nUsers = 4000)
    server = new FeedServer(feed.routes(withUsers = true), ctx.serverThreads, delayMillis = 0)
    val events = Source("ev_cached", server.url("/events"),
      pagination = Some(Pagination(1, feed.pages, feed.pageSize)))
    val users = Source("us_cached", server.url("/users"))
    Seq(events, users).foreach(s =>
      Trace.span("source.register")(HttpTables.register(spark, s, Stats.fetcher)))
    def http(view: String, opts: Map[String, String]): Unit =
      Trace.span("connector.load")(spark.read.format("http").options(opts).load())
        .createOrReplaceTempView(view)
    http("ev_http", Map("url" -> events.url, "paginate" -> "true", "start_page" -> "1",
      "end_page" -> feed.pages.toString, "page_size" -> feed.pageSize.toString))
    http("us_http", Map("url" -> users.url))
    // warm-up: materialise the cached snapshot, touch the connector once
    Seq("ev_cached", "us_cached", "ev_http", "us_http").foreach(v =>
      Trace.span(if (v.endsWith("cached")) "source.first_query" else "sql.collect")(
        spark.sql(s"SELECT COUNT(*) FROM $v").collect()))
    if (Trace.enabled) cachedMb += Stats.storageMb(spark)
  }

  /** The cycle twice: 32 queries, so the medians rest on enough samples. */
  override def pass(spark: SparkSession): Seq[Op] =
    for (_ <- 1 to 2; shape <- shapes; (backend, (e, u)) <- backends)
      yield timed(s"$backend.${shape.name}")(check(s"$backend ${shape.name}",
        shape.ok(spark.sql(shape.sql(e, u)).collect())))

  override def tearDown(spark: SparkSession): Unit = {
    Seq("ev_cached", "us_cached").foreach(spark.catalog.uncacheTable)
    Seq("ev_cached", "us_cached", "ev_http", "us_http").foreach(spark.catalog.dropTempView)
    server.stop()
  }

  private def p50ms(passes: Seq[Seq[Op]], backend: String): Double =
    Stats.median(passes.flatten.filter(_.kind.startsWith(backend + ".")).map(_.seconds * 1000))

  /** `query_tail_ms`: the highest percentile with at least ten samples above it. */
  private def tail(passes: Seq[Seq[Op]]): Seq[Metric] = {
    val ms = passes.flatten.map(_.seconds * 1000).sorted
    val n = ms.size
    if (n <= 10) Nil
    else Seq(Metric("query_tail_ms", ms(n - 11), "ms"),
      Metric("query_tail_pct", 100.0 * (n - 10) / n, "%"),
      Metric("query_tail_samples", n.toDouble, "count"))
  }

  override def named(passes: Seq[Seq[Op]]): Seq[Metric] =
    Seq(Metric("query_cached_p50_ms", p50ms(passes, "cached"), "ms"),
      Metric("query_connector_p50_ms", p50ms(passes, "connector"), "ms")) ++ tail(passes)

  override def layers(passes: Seq[Seq[Op]], probe: SparkProbe): Seq[Metric] = {
    val n = passes.size
    // rows the connector's scans would return without pushdown: seven
    // shapes read the events table, two the users table
    val snapshotRows = (7.0 * feed.nEvents + 2.0 * feed.nUsers) * 2 * n
    val setUps = Trace.inSection.count(_.name == "connector.load") / 2.0
    def perSetUp(name: String) = Trace.inSection.filter(_.name == name).map(_.seconds).sum / setUps
    Seq(
      Metric("connector.load_s", perSetUp("connector.load"), "s"),
      Metric("source.register_self_s", perSetUp("source.register") - perSetUp("http.fetch"), "s"),
      Metric("source.first_query_s", perSetUp("source.first_query"), "s"),
      Metric("source.cached_mb", if (cachedMb.isEmpty) 0.0 else Stats.median(cachedMb.toSeq), "MB"),
      Metric("connector.rows_kept_ratio", probe.inSection("connector.scan_rows") / snapshotRows, "ratio"))
  }
}

/** A slow remote API read page by page: 60 pages of 500 rows, each
  * response delayed by 10 ms, read through `HttpTables` (the driver's
  * serial loop), `format("http")` with `fetch=executor` (parallel page
  * ranges) and a micro-batch stream with `Trigger.AvailableNow` into a
  * noop sink. */
final class PagedWorkload(ctx: Ctx) extends Workload(ctx) {
  private var feed: Feed = _
  private var server: FeedServer = _
  private var source: Source = _
  private var served = Map.empty[String, FeedServer.Counters]
  private var streamCount = 0
  /** pages read → (sum of qty, max score) over those pages, computed in set-up */
  private var expected = Map.empty[Int, (Long, Long)]

  override def setUp(spark: SparkSession): Unit = {
    feed = new Feed(ctx.seed, nEvents = 30000, pageSize = 500, nUsers = 1000)
    server = new FeedServer(feed.routes(withUsers = false), ctx.serverThreads, delayMillis = 10)
    source = Source("paged", server.url("/events"),
      pagination = Some(Pagination(1, feed.pages, feed.pageSize)))
    expected = Seq(feed.pages / 10, feed.pages).map { p =>
      val rows = p * feed.pageSize
      p -> (feed.qty.take(rows).sum, feed.score.take(rows).max)
    }.toMap
  }

  private def options(pages: Int): Map[String, String] = Map("url" -> source.url,
    "paginate" -> "true", "start_page" -> "1", "end_page" -> pages.toString,
    "page_size" -> feed.pageSize.toString)

  /** Checks an aggregate over the first `pages` pages against the feed. */
  private def aggregateOk(df: DataFrame, pages: Int): Boolean = {
    import org.apache.spark.sql.functions._
    val rows = pages * feed.pageSize
    val (sumQty, maxScore) = expected(pages)
    val r = df.agg(count(lit(1)), sum("qty"), countDistinct("event_id"), max("score")).head()
    check(s"paged aggregate over $pages pages", r.getLong(0) == rows &&
      r.getLong(1) == sumQty && r.getLong(2) == rows && r.getLong(3) == maxScore)
  }

  private def op(kind: String)(body: => Boolean): Op = {
    val (o, c) = server.around(timed(kind)(body))
    served = served.updated(kind, served.getOrElse(kind, FeedServer.NoCounters) + c)
    o
  }

  /** The three reads of the first `pages` pages. */
  private def reads(spark: SparkSession, pages: Int): Seq[Op] = Seq(
    op("snapshot") {
      val src = source.copy(pagination = source.pagination.map(_.copy(endPage = pages)))
      val df = Trace.span("source.register")(HttpTables.register(spark, src, Stats.fetcher))
      try aggregateOk(df, pages)
      finally { df.unpersist(); spark.catalog.dropTempView(src.name) }
    },
    op("executor") {
      val df = Trace.span("connector.load")(
        spark.read.format("http").options(options(pages) + ("fetch" -> "executor")).load())
      aggregateOk(df, pages)
    },
    op("stream") {
      streamCount += 1
      val checkpoint = ctx.workDir.resolve(s"stream-checkpoint-$streamCount")
      val q = spark.readStream.format("http").options(options(pages)).load()
        .writeStream.format("noop").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint.toString).start()
      try {
        q.awaitTermination()
        val rows = q.recentProgress.map(_.numInputRows).sum
        check(s"stream rows $rows", rows == pages * feed.pageSize)
      } finally {
        q.stop()
        Tools.deleteTree(checkpoint)
      }
    })

  override def pass(spark: SparkSession): Seq[Op] = reads(spark, feed.pages)

  /** The same three reads over a tenth of the pages: enough to warm the
    * JIT and codegen at a tenth of a pass's cost. */
  override def prime(spark: SparkSession): Seq[Op] = reads(spark, feed.pages / 10)

  override def resetCounters(): Unit = served = Map.empty

  override def tearDown(spark: SparkSession): Unit = server.stop()

  override def named(passes: Seq[Seq[Op]]): Seq[Metric] =
    Seq("snapshot", "executor", "stream").map(k =>
      Metric(s"paged_${k}_s", Stats.passMedian(passes)(_.kind == k), "s"))

  override def layers(passes: Seq[Seq[Op]], probe: SparkProbe): Seq[Metric] = {
    val n = passes.size
    val all = served.values.foldLeft(FeedServer.NoCounters)(_ + _)
    Seq(Metric("source.register_self_s", Trace.selfTotal("source.register") / n, "s"),
      Metric("connector.load_s", Trace.total("connector.load") / n, "s")) ++
      Stats.httpClient(n) ++ Stats.httpServer(all, n) ++
      served.toSeq.sortBy(_._1).flatMap { case (k, c) =>
        Seq(Metric(s"http.$k.requests", c.requests.toDouble / n, "count"),
          Metric(s"http.$k.max_inflight", c.maxInflight.toDouble, "count"))
      }
  }
}

object Tools {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
