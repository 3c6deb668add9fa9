package graft.connector

import graft.GraftError.ConfigError
import graft.SparkSpec
import graft.http.StubServer
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** e2e specs for the DSv2 `format("http")` connector: registration by
  * short name, schema inference, values, column-pruned decode (the
  * BatchScan's readSchema must shrink to the projection), pagination
  * options, and nested/array decode. */
class HttpTableProviderSpec extends AnyFunSuite with SparkSpec {

  private val users =
    """[{"id":1,"name":"ann","score":9.5,"active":true,
      |  "address":{"city":"oslo","zip":"0150"},"tags":["a","b"]},
      | {"id":2,"name":"bob","score":7.25,"active":false,
      |  "address":{"city":"bergen","zip":"5003"},"tags":[]},
      | {"id":3,"name":"cyd","score":8.0,"active":true,
      |  "address":{"city":"oslo","zip":"0151"},"tags":["c"]}]"""
      .stripMargin.replaceAll("\n\\s*", "")

  private def scanOf(df: org.apache.spark.sql.DataFrame): HttpScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[HttpScan]
    }.getOrElse(fail("no BatchScanExec in plan"))

  /** Rows the scan's readers emit: pushed filters drop rows inside the
    * JSON parser, before Spark's residual Filter sees them. */
  private def decodedRows(scan: HttpScan): Int = {
    val factory = scan.createReaderFactory()
    scan.planInputPartitions().map { part =>
      val reader = factory.createReader(part)
      var n = 0
      while (reader.next()) n += 1
      n
    }.sum
  }

  test("format(\"http\") resolves by short name, infers schema, reads values") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      assert(df.schema.fieldNames.sorted.toSeq ==
        Seq("active", "address", "id", "name", "score", "tags"))
      val rows = df.selectExpr("id", "name", "score", "active", "address.city")
        .orderBy("id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getBoolean(3), r.getString(4))).toSeq ==
        Seq((1L, "ann", 9.5, true, "oslo"), (2L, "bob", 7.25, false, "bergen"),
          (3L, "cyd", 8.0, true, "oslo")))
    }
  }

  test("projection is pushed into the scan: readSchema shrinks to selected columns") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .select("id", "name")
      val scan = scanOf(df)
      assert(scan.readSchema().fieldNames.toSet == Set("id", "name"),
        s"scan decodes ${scan.readSchema().catalogString}")
      assert(df.orderBy("id").collect().map(_.getString(1)).toSeq ==
        Seq("ann", "bob", "cyd"))
    }
  }

  test("global count/min/max are Catalyst's aggregate over the connector scan") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.col("score")).as("ns"),
          org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("score")).as("mn"),
          org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("name")).as("mx"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Aggregate(key=[]"), s"aggregates stay above the scan:\n$plan")
      val r = df.collect().head
      assert(r.getAs[Long]("n") == 3L)
      assert(r.getAs[Long]("ns") == 3L)
      assert(r.getAs[Double]("mn") == 7.25)
      assert(r.getAs[String]("mx") == "cyd")
    }
  }

  test("aggregate pushdown declines grouped, distinct, and filtered aggregations (exactness guard)") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      def load() = spark.read.format("http").option("url", srv.url("/users")).load()
      import org.apache.spark.sql.functions._
      // grouped: stays a real aggregate, values still correct
      val g = load().groupBy("active").agg(count(lit(1)).as("n")).orderBy("active")
      assert(g.queryExecution.executedPlan.toString.contains("HashAggregate"))
      assert(g.collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq ==
        Seq((false, 1L), (true, 2L)))
      // count distinct: declined
      val d = load().agg(countDistinct(col("active")).as("n"))
      assert(d.queryExecution.executedPlan.toString.contains("HashAggregate"))
      assert(d.collect().head.getLong(0) == 2L)
      // a residual filter between aggregate and scan blocks pushdown; result exact
      val f = load().filter(col("score") > 7.5).agg(count(lit(1)).as("n"))
      assert(f.collect().head.getLong(0) == 2L)
    }
  }

  test("array and nested struct columns decode; empty array stays empty") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      val tags = df.selectExpr("id", "size(tags) AS n", "address.zip")
        .orderBy("id").collect()
      assert(tags.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
        Seq((1L, 2, "0150"), (2L, 0, "5003"), (3L, 1, "0151")))
    }
  }

  test("pagination options drive the page loop and terminate on empty page") {
    val page = (n: Int) => s"""[{"page":$n,"v":${n * 10}}]"""
    StubServer.withServer({
      case ("GET", "/items", q) if q.contains("p=1") => (200, page(1))
      case ("GET", "/items", q) if q.contains("p=2") => (200, page(2))
      case ("GET", "/items", q) if q.contains("p=") => (200, "[]")
    }) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/items"))
        .option("paginate", "true")
        .option("page_param", "p").option("page_size", "1")
        .load()
      assert(df.orderBy("page").collect().map(_.getAs[Long]("v")).toSeq ==
        Seq(10L, 20L))
    }
  }

  test("filter pushdown prunes snapshot rows before decode; results stay correct") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .filter("active = true AND score > 8.0")
      val scan = scanOf(df)
      import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
      assert(Seq(EqualTo("active", true), GreaterThan("score", 8.0))
        .forall(scan.pushedFilters.contains), s"pushed: ${scan.pushedFilters}")
      // only ann (score 9.5, active) leaves the JSON parser
      assert(decodedRows(scan) == 1)
      val rows = df.select("name").collect().map(_.getString(0)).toSeq
      assert(rows == Seq("ann"))
    }
  }

  test("string and IN filters prune; unsupported filters fall back safely") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      def load() = spark.read.format("http").option("url", srv.url("/users")).load()
      val starts = load().filter("name LIKE 'b%'")
      assert(decodedRows(scanOf(starts)) == 1)
      assert(starts.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
      val in = load().filter("id IN (1, 3)").select("id")
      assert(decodedRows(scanOf(in)) == 2)
      assert(in.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
      // arithmetic predicate: not pushable — every row decodes, Spark filters
      val arith = load().filter("id + 1 = 3")
      assert(decodedRows(scanOf(arith)) == 3)
      assert(arith.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("filter pruning every row yields an empty result, not a crash") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .filter("score > 1000.0")
      assert(df.count() == 0)
    }
  }

  test("IN over a type-widened column keeps rows (uncertainty never drops)") {
    // mixed number/string values widen the column to string at inference;
    // the driver-side prune must not drop the numeric-typed JSON nodes
    val mixed = """[{"id":5},{"id":"7"},{"id":9}]"""
    StubServer.withServer({ case ("GET", "/m", _) => (200, mixed) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/m")).load()
      assert(df.schema("id").dataType.typeName == "string")
      val got = df.filter("id IN ('5', '7')").select("id")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("5", "7"))
    }
  }

  test("limit is Spark's: applied above the connector scan") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .limit(2)
      assert(df.collect().length == 2)
      assert(df.count() == 2)
    }
  }

  test("ORDER BY ... LIMIT n is Spark's top-N above the connector scan") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      import org.apache.spark.sql.functions.col
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .orderBy(col("score").desc).limit(2)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"top-N stays above the scan:\n$plan")
      assert(df.collect().map(_.getAs[String]("name")).toSeq == Seq("ann", "cyd"))
    }
  }

  test("top-N pushdown declines multi-key and nested-key sorts but results stay correct") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      import org.apache.spark.sql.functions.col
      def load() = spark.read.format("http").option("url", srv.url("/users")).load()
      val multi = load().orderBy(col("active").desc, col("score")).limit(2)
      val multiScan = multi.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.asInstanceOf[HttpScan]
      }.getOrElse(fail("no BatchScanExec in plan"))
      assert(multiScan.planInputPartitions()
        .map(_.asInstanceOf[HttpInputPartition].rows.length).sum == 3,
        "multi-key sort must not prune the snapshot")
      assert(multi.collect().map(_.getAs[String]("name")).toSeq == Seq("cyd", "ann"))
      // nested key: ordering semantics not guaranteed to match → declined
      val nested = load().orderBy(col("address.city")).limit(1)
      assert(nested.collect().map(_.getAs[String]("name")).toSeq == Seq("bob"))
    }
  }

  test("missing url option is a typed config error") {
    val e = intercept[ConfigError] {
      HttpTableProvider.toSource(new CaseInsensitiveStringMap(Map.empty[String, String].asJava))
    }
    assert(e.getMessage.contains("url"))
  }

  test("snapshot partitions split across parallelism but never exceed row count") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      val parts = scanOf(df).planInputPartitions()
      assert(parts.length >= 1 && parts.length <= 3)
      assert(parts.map(_.asInstanceOf[HttpInputPartition].rows.length).sum == 3)
    }
  }

  test("scan reports snapshot statistics; a small http dim broadcasts unhinted") {
    import spark.implicits._
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      // exact row count + a pruning-aware size estimate
      val st = scanOf(df.select($"id")).estimateStatistics()
      assert(st.numRows().getAsLong == 3L)
      assert(st.sizeInBytes().getAsLong > 0)
      val full = scanOf(df).estimateStatistics().sizeInBytes().getAsLong
      assert(st.sizeInBytes().getAsLong < full,
        "projected scan must report a smaller size than the full scan")
      // join planning consumes the stats: tiny http dim × larger fact →
      // BroadcastHashJoin with NO hint (conservative defaults would SMJ)
      val fact = spark.range(0, 10000).select(($"id" % 3 + 1).as("id"),
        ($"id" * 2).as("v"))
      val joined = fact.join(df.select($"id", $"name"), "id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected stats-driven broadcast of the http side:\n$plan")
    }
  }

  test("micro-batch stream consumes pages incrementally and stops when caught up") {
    val pages: PartialFunction[(String, String, String), (Int, String)] = {
      case ("GET", "/items", q) if q.contains("page=1") =>
        (200, """[{"id":1,"v":"a"},{"id":2,"v":"b"}]""")
      case ("GET", "/items", q) if q.contains("page=2") =>
        (200, """[{"id":3,"v":"c"}]""")
      case ("GET", "/items", _) => (200, "[]") // caught up
    }
    StubServer.withServer(pages) { srv =>
      val stream = spark.readStream.format("http")
        .option("url", srv.url("/items"))
        .option("paginate", "true")
        .option("start_page", "1").option("end_page", "10")
        .load()
      assert(stream.isStreaming)
      val q = stream.writeStream.format("memory")
        .queryName("http_pages").outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("http_pages").collect()
          .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).sorted
        assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
          "all pages must arrive exactly once, then the stream idles")
        // offsets are page numbers: the last batch committed page 2
        assert(q.lastProgress.sources.head.endOffset.contains("2"))
      } finally q.stop()
    }
  }

  test("stream restarts from checkpoint: resumes at the next page, no duplicates") {
    import org.apache.spark.sql.streaming.Trigger
    val grown = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pages: PartialFunction[(String, String, String), (Int, String)] = {
      case ("GET", "/feed", q) if q.contains("page=1") =>
        (200, """[{"id":1},{"id":2}]""")
      case ("GET", "/feed", q) if q.contains("page=2") && grown.get() =>
        (200, """[{"id":3}]""") // page appears between runs
      case ("GET", "/feed", _) => (200, "[]")
    }
    StubServer.withServer(pages) { srv =>
      val out = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
      def runOnce(): Unit = {
        val q = spark.readStream.format("http")
          .option("url", srv.url("/feed")).option("paginate", "true")
          .option("start_page", "1").option("end_page", "10")
          .load()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      assert(spark.read.parquet(out).count() == 2, "first run drains page 1")
      grown.set(true)
      runOnce()
      val ids = spark.read.parquet(out).select("id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L),
        "restart must deliver ONLY the new page — no replays, no gaps")
      runOnce()
      assert(spark.read.parquet(out).count() == 3, "caught up: idempotent")
    }
  }

  /** Stub serving `nPages` pages of 2 rows each; records which pages were hit. */
  private def pagedRoutes(nPages: Int,
                          hits: java.util.concurrent.ConcurrentHashMap[Int, Int])
      : PartialFunction[(String, String, String), (Int, String)] = {
    case ("GET", "/docs", q) =>
      val page = q.split('&').collectFirst {
        case kv if kv.startsWith("page=") => kv.drop(5).toInt
      }.getOrElse(0)
      hits.put(page, hits.getOrDefault(page, 0) + 1)
      if (page >= 1 && page <= nPages) {
        val a = (page - 1) * 2 + 1
        (200, s"""[{"id":$a,"pg":$page},{"id":${a + 1},"pg":$page}]""")
      } else (200, "[]")
  }

  test("micro-batch commit evicts committed pages; the next probe does not refetch them") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(2, hits)) { srv =>
      val src = HttpTableProvider.toSource(new CaseInsensitiveStringMap(Map(
        "url" -> srv.url("/docs"), "start_page" -> "1", "end_page" -> "10").asJava))
      val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, pg BIGINT")
      val stream = new HttpMicroBatchStream(src, schema)
      val end = stream.latestOffset()
      assert(end == HttpPageOffset(2))
      assert(stream.planInputPartitions(stream.initialOffset(), end).length == 2)
      assert(stream.cache.keySet == Set(1, 2))
      stream.commit(end)
      assert(stream.cache.isEmpty, "committed pages must leave the driver")
      assert(stream.latestOffset() == end)
      assert(hits.get(1) == 1 && hits.get(2) == 1,
        s"committed pages must not be fetched again: $hits")
    }
  }

  test("a micro-batch of 10 pages is at most defaultParallelism partitions, rows in page order") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(10, hits)) { srv =>
      val src = HttpTableProvider.toSource(new CaseInsensitiveStringMap(Map(
        "url" -> srv.url("/docs"), "start_page" -> "1", "end_page" -> "10").asJava))
      val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, pg BIGINT")
      val stream = new HttpMicroBatchStream(src, schema)
      val parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
      assert(parts.length <= spark.sparkContext.defaultParallelism)
      val rows = parts.toSeq.flatMap(_.asInstanceOf[HttpInputPartition].rows)
      assert(rows == (1 to 20).map(id => s"""{"id":$id,"pg":${(id + 1) / 2}}"""))
    }
  }

  test("readStream fetches each snapshot page once: the stream starts from the load's pages") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(3, hits)) { srv =>
      val q = spark.readStream.format("http")
        .option("url", srv.url("/docs")).option("paginate", "true")
        .option("start_page", "1").option("end_page", "10")
        .load()
        .writeStream.format("memory").queryName("http_pages_once").start()
      try {
        q.processAllAvailable()
        val ids = spark.table("http_pages_once").collect().map(_.getAs[Long]("id")).sorted
        assert(ids.toSeq == (1L to 6L))
        assert((1 to 3).forall(hits.get(_) == 1),
          s"each snapshot page must be fetched exactly once: $hits")
      } finally q.stop()
    }
  }

  // ---- fetch=executor: distributed page-range scan ----

  test("fetch=executor reads every page without a driver snapshot") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(4, hits)) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/docs"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "6")
        .load()
      // schema resolution touched ONLY page 1 (first-record semantics)
      assert(hits.keySet.asScala.toSet == Set(1),
        s"driver must fetch only page 1 before the action, got $hits")
      val ids = df.select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (1L to 8L),
        "executors must fetch pages 1..4 and stop on the empty page 5")
    }
  }

  test("fetch=executor plans multiple page-range partitions (metadata only)") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(4, hits)) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/docs"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "4")
        .load()
      val parts = scanOf(df).planInputPartitions()
        .map(_.asInstanceOf[HttpPageRangePartition])
      assert(parts.length > 1, "4 pages must split into >1 range")
      // contiguous, non-overlapping cover of 1..4
      val covered = parts.flatMap(p => p.fromPage to p.toPage).sorted
      assert(covered.toSeq == Seq(1, 2, 3, 4))
      assert(parts.forall(_.src.url.contains("/docs")),
        "partitions carry config metadata, never rows")
    }
  }

  test("fetch=executor ranges request one page at a time: one request per range past the feed's end") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(3, hits), threads = 8) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/docs"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "10")
        .load()
      val parts = scanOf(df).planInputPartitions()
        .map(_.asInstanceOf[HttpPageRangePartition])
      assert(df.count() == 6L)
      // each range reads its pages up to the feed's last page (3), plus
      // the one empty page that ends it when the range reaches past 3
      val perRange = parts.map(r =>
        (r.fromPage to math.min(r.toPage, 3)).size + (if (r.toPage > 3) 1 else 0))
      // + 1: the driver's page-1 request for schema inference
      assert(hits.values.asScala.map(_.intValue).sum == perRange.sum + 1,
        s"ranges ${parts.map(r => s"${r.fromPage}-${r.toPage}").mkString(",")}: $hits")
      assert(srv.peakInflight <= parts.length, s"peak in flight ${srv.peakInflight}")
    }
  }

  test("fetch=executor applies pushed filters and pruning at executor decode") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(3, hits)) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/docs"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "3")
        .load()
        .filter("pg = 2").select("id")
      val scan = scanOf(df)
      assert(scan.readSchema().fieldNames.toSet == Set("id", "pg"),
        "decode prunes to the referenced columns")
      assert(scan.pushedFilters.contains(org.apache.spark.sql.sources.EqualTo("pg", 2L)))
      assert(decodedRows(scan) == 2, "the parser keeps only page 2's rows")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    }
  }

  test("fetch=executor: a later page's value that does not fit the page-1 type reads as null") {
    // q is inferred bigint from page 1; Spark's JSON reader gives null for
    // 2.5 in a bigint column, it never truncates it to 2
    StubServer.withServer({
      case ("GET", "/q", qs) if qs.contains("page=1&") => (200, """[{"id":1,"q":3}]""")
      case ("GET", "/q", qs) if qs.contains("page=2&") => (200, """[{"id":2,"q":2.5}]""")
      case ("GET", "/q", _) => (200, "[]")
    }) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/q"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "3")
        .load()
      assert(df.schema("q").dataType == org.apache.spark.sql.types.LongType)
      val got = df.orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
      assert(got == Seq((1L, Some(3L)), (2L, None)))
    }
  }

  test("fetch=executor without pagination is a typed config error") {
    StubServer.withServer({ case ("GET", "/docs", _) => (200, "[]") }) { srv =>
      val e = intercept[ConfigError] {
        spark.read.format("http")
          .option("url", srv.url("/docs"))
          .option("fetch", "executor")
          .load()
      }
      assert(e.getMessage.contains("pagination"))
    }
  }
}
