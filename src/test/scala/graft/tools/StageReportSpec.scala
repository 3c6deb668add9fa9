package graft.tools

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** The per-job table names each job, also when no caller set a job
  * description or call site. */
class StageReportSpec extends AnyFunSuite with SparkSpec {

  test("the jobs of a collect() are labelled with their call site, not '?'") {
    val report = StageReport.install(spark)
    try {
      spark.range(0, 1000, 1, 2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
      val deadline = System.nanoTime() + 10000000000L
      while (report.jobLabels.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      val labels = report.jobLabels
      assert(labels.nonEmpty && labels.forall(l => l != "?" && l.contains(" at ")), labels)
      assert(labels.exists(_.startsWith("sql ")), labels)
    } finally spark.sparkContext.removeSparkListener(report)
  }
}
