package graft.source

import graft.GraftError.EmptyResultError
import graft.SparkSpec
import graft.config.{Pagination, Source}
import graft.http.StubServer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end register→SQL over the in-process stub server — the E1/E2
  * lifecycle of the reference (/root/reference/src/main.rs:22-49,
  * dataframe.rs:7-24) rebuilt on SparkSession + temp views. */
class HttpTablesSpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper {

  private val posts =
    """[{"userId":1,"id":1,"title":"a","body":"x"},
      | {"userId":1,"id":2,"title":"b","body":"y"},
      | {"userId":2,"id":3,"title":"c","body":"z"}]""".stripMargin.replace("\n", "")

  test("register + spark.sql aggregate over an HTTP JSON table") {
    StubServer.withServer({ case ("GET", "/posts", _) => (200, posts) }) { s =>
      HttpTables.register(spark, Source("posts", s.url("/posts")))
      val out = spark.sql(
        "SELECT userId, count(*) AS n FROM posts GROUP BY userId ORDER BY userId")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.toSeq == Seq((1L, 2L), (2L, 1L)))
    }
  }

  test("nested objects infer as structs, arrays as arrays (all-rows inference)") {
    val body = """[{"id":1,"geo":{"lat":1.5,"lng":2.5},"tags":["a","b"]},
                 | {"id":2,"geo":{"lat":3.0,"lng":4.0},"tags":[],"extra":true}]"""
      .stripMargin.replace("\n", "")
    StubServer.withServer({ case ("GET", "/n", _) => (200, body) }) { s =>
      val df = HttpTables.load(spark, Source("nested", s.url("/n")))
      // field absent from row 1 still appears (superset of first-record inference)
      assert(df.schema.fieldNames.contains("extra"))
      val row = df.selectExpr("geo.lat", "size(tags)", "id").where("id = 1").head()
      assert(row.getDouble(0) == 1.5 && row.getInt(1) == 2)
    }
  }

  test("empty result raises a typed error instead of panicking (divergence 3)") {
    StubServer.withServer({ case ("GET", "/none", _) => (200, "[]") }) { s =>
      assertThrows[EmptyResultError](
        HttpTables.load(spark, Source("none", s.url("/none"))))
    }
  }

  test("paginated source snapshots all pages then answers SQL") {
    StubServer.withServer({
      case ("GET", "/pg", q) =>
        val page = q.split("&")(0).stripPrefix("page=").toInt
        if (page <= 3) (200, s"""[{"page":$page,"v":${page * 10}}]""")
        else (200, "null")
    }) { s =>
      HttpTables.register(spark,
        Source("pg", s.url("/pg"), pagination = Some(Pagination())))
      val total = spark.sql("SELECT sum(v) AS t FROM pg").head().getLong(0)
      assert(total == 60L)
    }
  }

  test("snapshot semantics: one fetch at registration, decoded frame cached") {
    var hits = 0
    StubServer.withServer({
      case ("GET", "/c", _) => hits += 1; (200, """[{"x":1}]""")
    }) { s =>
      val df = HttpTables.register(spark, Source("c", s.url("/c")))
      df.count(); df.count()
      spark.sql("SELECT * FROM c").count()
      assert(hits == 1) // driver fetched exactly once
      // ADVICE r2: hits==1 alone can't fail (rows are parallelized from
      // driver memory) — assert the cache itself so re-decode is covered.
      assert(df.storageLevel.useMemory, "decoded snapshot must be cached")
    }
  }

  test("a format(\"http\") read of a registered URL fetches anew, not from the cached snapshot") {
    @volatile var body = """[{"x":1}]"""
    StubServer.withServer({ case ("GET", "/u", _) => (200, body) }) { s =>
      val df = HttpTables.register(spark, Source("u_snap", s.url("/u")))
      try {
        assert(df.count() == 1L)
        body = """[{"x":2},{"x":3}]"""
        val fresh = spark.read.format("http").option("url", s.url("/u")).load()
        val cached = collect(fresh.queryExecution.executedPlan) { case m: InMemoryTableScanExec => m }
        assert(cached.isEmpty, fresh.queryExecution.executedPlan)
        assert(fresh.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
        assert(spark.table("u_snap").collect().map(_.getLong(0)).toSeq == Seq(1L))
      } finally {
        df.unpersist()
        spark.catalog.dropTempView("u_snap")
      }
    }
  }

  // ---- snapshot sizing: one partition when small ----

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  /** `n` rows of about 130 bytes of JSON each: 45,000 rows pass the
    * default 4 MB `spark.sql.files.openCostInBytes`. */
  private def rows(n: Int): String = (1 to n).map(i =>
    s"""{"id":$i,"k":${i % 7},"v":${i * 3},"pad":"${"p" * 90}"}""").mkString("[", ",", "]")

  test("a small snapshot is one partition: group by, window and self-join plan no shuffle") {
    StubServer.withServer({ case ("GET", "/small", _) => (200, rows(2000)) }) { s =>
      val df = HttpTables.register(spark, Source("small", s.url("/small")))
      try {
        assert(df.queryExecution.executedPlan.outputPartitioning == SinglePartition)
        // every row is in the snapshot; the self-join below broadcasts on
        // the scan's statistics whether or not this count ran first
        assert(df.count() == 2000L)
        val grouped = spark.sql("SELECT k, count(*) AS n, sum(v) AS t FROM small GROUP BY k")
        val window = spark.sql("""SELECT count(*) FROM (SELECT id,
          |ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) AS rn FROM small) WHERE rn = 1""".stripMargin)
        val joined = spark.sql("SELECT count(*) FROM small a JOIN small b ON a.id = b.k")
        for (q <- Seq(grouped, window, joined))
          assert(shuffles(q).isEmpty, q.queryExecution.executedPlan)
        assert(grouped.collect().map(_.getLong(1)).sum == 2000L)
        assert(window.head().getLong(0) == 7L)
        assert(joined.head().getLong(0) == 2000L - 2000 / 7) // rows with k >= 1
      } finally df.unpersist()
    }
  }

  test("two fresh snapshots joined before any action plan a broadcast hash join") {
    val dim = """[{"k":0,"name":"zero"},{"k":3,"name":"three"},{"k":6,"name":"six"}]"""
    StubServer.withServer({
      case ("GET", "/fact", _) => (200, rows(2000))
      case ("GET", "/dim", _) => (200, dim)
    }) { s =>
      val fact = HttpTables.register(spark, Source("j_fact", s.url("/fact")))
      val names = HttpTables.register(spark, Source("j_dim", s.url("/dim")))
      try {
        val joined = spark.sql(
          "SELECT d.name, count(*) AS n FROM j_fact f JOIN j_dim d ON f.k = d.k GROUP BY d.name")
        val plan = joined.queryExecution.executedPlan
        assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, plan)
        assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan)
        val counts = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(counts == Map("zero" -> 285L, "three" -> 286L, "six" -> 285L))
      } finally {
        fact.unpersist(); names.unpersist()
        Seq("j_fact", "j_dim").foreach(spark.catalog.dropTempView)
      }
    }
  }

  test("a snapshot above spark.sql.files.openCostInBytes keeps more than one partition") {
    StubServer.withServer({ case ("GET", "/big", _) => (200, rows(45000)) }) { s =>
      val df = HttpTables.load(spark, Source("big", s.url("/big")))
      try {
        assert(df.queryExecution.executedPlan.outputPartitioning != SinglePartition)
        assert(df.rdd.getNumPartitions > 1)
        assert(df.count() == 45000L)
      } finally df.unpersist()
    }
  }

  test("a one-partition snapshot joined to a 4-partition table shuffles neither side to one partition") {
    import spark.implicits._
    StubServer.withServer({ case ("GET", "/dim", _) => (200, rows(50)) }) { s =>
      val dim = HttpTables.load(spark, Source("dim", s.url("/dim")))
      try {
        val fact = spark.range(0, 10000, 1, 4).select(($"id" % 100).as("id"))
        val joined = fact.hint("merge").join(dim, "id")
        val exchanges = shuffles(joined)
        assert(exchanges.nonEmpty && exchanges.forall(e =>
          e.outputPartitioning != SinglePartition &&
            e.outputPartitioning.numPartitions == spark.sessionState.conf.numShufflePartitions),
          joined.queryExecution.executedPlan)
        assert(joined.count() == 50L * 100) // dim ids 1..50, each 100 times in fact
      } finally dim.unpersist()
    }
  }
}
