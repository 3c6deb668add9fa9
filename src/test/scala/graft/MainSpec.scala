package graft

import graft.config.YamlConfig
import graft.http.StubServer
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** e2e for the config-driven runner (SURVEY N11): YAML → register HTTP
  * sources → run each source's SQL — the full shipped-binary path minus
  * session lifecycle (owned by `main`). */
class MainSpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper {

  test("yaml config end-to-end: two sources, one with SQL, one registered only") {
    val users = """[{"id":1,"city":"oslo","spend":10.5},
                  | {"id":2,"city":"oslo","spend":4.5},
                  | {"id":3,"city":"bergen","spend":7.0}]"""
      .stripMargin.replaceAll("\n\\s*", "")
    val tags = """[{"id":1,"tag":"a"},{"id":3,"tag":"b"}]"""
    StubServer.withServer({
      case ("GET", "/users", _) => (200, users)
      case ("GET", "/tags", _) => (200, tags)
    }) { srv =>
      val cfg = YamlConfig.parse(
        s"""sources:
           |  - name: m_users
           |    url: ${srv.url("/users")}
           |    sql: >
           |      SELECT city, COUNT(*) AS n, SUM(spend) AS total
           |      FROM m_users GROUP BY city ORDER BY city
           |  - name: m_tags
           |    url: ${srv.url("/tags")}
           |""".stripMargin)
      val results = Main.run(spark, cfg)
      assert(results.map(_._1) == Seq("m_users")) // only sources with sql
      val rows = results.head._2.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("bergen", 1L, 7.0), ("oslo", 2L, 15.0)))
      // the sql-less source is still registered and joinable
      val joined = spark.sql(
        "SELECT t.tag, u.city FROM m_tags t JOIN m_users u ON t.id = u.id ORDER BY t.tag")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(joined == Seq(("a", "oslo"), ("b", "bergen")))
    }
  }

  test("yaml join over two fresh sources is planned as a broadcast hash join") {
    val events = (1 to 300).map(i => s"""{"user_id":${i % 3},"qty":$i}""").mkString("[", ",", "]")
    val users = """[{"id":0,"tier":"gold"},{"id":1,"tier":"free"},{"id":2,"tier":"free"}]"""
    StubServer.withServer({
      case ("GET", "/events", _) => (200, events)
      case ("GET", "/users", _) => (200, users)
    }) { srv =>
      val cfg = YamlConfig.parse(
        s"""sources:
           |  - name: j_events
           |    url: ${srv.url("/events")}
           |  - name: j_users
           |    url: ${srv.url("/users")}
           |    sql: >
           |      SELECT u.tier, COUNT(*) AS n, SUM(e.qty) AS q
           |      FROM j_events e JOIN j_users u ON e.user_id = u.id GROUP BY u.tier
           |""".stripMargin)
      val results = Main.run(spark, cfg)
      assert(results.map(_._1) == Seq("j_users"))
      val df = results.head._2
      // planned before any action, as Main.main plans every source's SQL
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, plan)
      assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan)
      val rows = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows == Map("gold" -> (100L, 15150L), "free" -> (200L, 30000L)))
      Seq("j_events", "j_users").foreach { v =>
        spark.catalog.uncacheTable(v)
        spark.catalog.dropTempView(v)
      }
    }
  }
}
