package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Training-data operators, no HTTP: a fixed subset of
  * `graft.SparkEntry.queries` over the benchmark's generated tables
  * ([[OpsData]]). Each query runs cold (session cache cleared, JIT warm
  * from the prime pass), then warm. The tables are fixed, so each query's
  * row count and `graft.ops.Profile.contentDigest` are pinned, and checked
  * cold and warm in the prime pass, outside the timed region; the seed does not change
  * this workload's inputs. */
final class OpsWorkload(ctx: Ctx) extends Workload(ctx) {
  private val dir = ctx.dataDir.toString
  private val queries: Seq[String] = OpsWorkload.Pinned.keys.toSeq.sorted
  private val storageAfter = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val constructJobs = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var probe: Option[SparkProbe] = None

  override def setUp(spark: SparkSession): Unit = {
    OpsData.check(ctx.dataDir)
    graft.Tables.t(spark, dir, "region").count()
  }

  /** Set-up takes well under a second, so it is sampled more often. */
  override def setUps: Int = 6

  /** Builds the query's DataFrame, then executes it into a noop sink. */
  private def run(spark: SparkSession, name: String): Unit = {
    val jobs0 = probe.map { p => p.drain(); p.get("spark.jobs") }
    val df = Trace.span("ops.construct")(graft.SparkEntry.queries(name)(spark, dir))
    for (p <- probe; j <- jobs0) { p.drain(); constructJobs += p.get("spark.jobs") - j }
    Trace.span("ops.execute")(df.write.format("noop").mode("overwrite").save())
  }

  /** Checks every query cold and warm, then runs one unchecked pass: the
    * first pass after the checks still carries JIT compilation and varies
    * from run to run far more than the next one. */
  override def prime(spark: SparkSession): Seq[Op] = checks(spark) ++ pass(spark)

  /** Runs each query cold, then warm (reading what the cold run cached),
    * and checks both outputs' row count and digest against the pinned
    * values. The row count is observed during the digest's job, so each
    * check executes the query once, as a pass does. */
  private def checks(spark: SparkSession): Seq[Op] = queries.flatMap { name =>
    spark.catalog.clearCache()
    val (rows, digest) = OpsWorkload.Pinned(name)
    Seq("cold", "warm").map { phase =>
      timed(s"$name.$phase.check") {
        val rowCount = Observation()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val d = graft.ops.Profile.contentDigest(df.observe(rowCount, count(lit(1)).as("n")))
        val n = rowCount.get("n").asInstanceOf[Long]
        check(s"$name $phase rows=$n digest=$d (pinned rows=$rows digest=$digest)", n == rows && d == digest)
      }
    }
  }

  override def pass(spark: SparkSession): Seq[Op] = {
    val ops = queries.flatMap { name =>
      spark.catalog.clearCache()
      val cold = Trace.span(s"ops.$name.cold")(timed(s"$name.cold") { run(spark, name); true })
      val warm = timed(s"$name.warm") { run(spark, name); true }
      if (Trace.enabled) storageAfter += Stats.storageMb(spark)
      Seq(cold, warm)
    }
    spark.catalog.clearCache()
    ops
  }

  override def resetCounters(): Unit = { storageAfter.clear(); constructJobs.clear() }

  override def tearDown(spark: SparkSession): Unit = spark.catalog.clearCache()

  override def attach(p: SparkProbe): Unit = probe = Some(p)

  override def named(passes: Seq[Seq[Op]]): Seq[Metric] = Seq(
    Metric("ops_cold_s", Stats.passMedian(passes)(_.kind.endsWith(".cold")), "s"),
    Metric("ops_warm_s", Stats.passMedian(passes)(_.kind.endsWith(".warm")), "s"))

  override def layers(passes: Seq[Seq[Op]], p: SparkProbe): Seq[Metric] = {
    val n = passes.size
    Seq(
      Metric("ops.construct_s", Trace.total("ops.construct") / n, "s"),
      Metric("ops.construct_jobs", constructJobs.sum.toDouble / n, "count"),
      Metric("ops.execute_s", Trace.total("ops.execute") / n, "s"),
      Metric("cache.storage_mb_after", storageAfter.sum / n, "MB")) ++
      queries.sorted.map(q => Metric(s"ops.$q.cold_s", Trace.total(s"ops.$q.cold") / n, "s"))
  }
}

object OpsWorkload {
  /** query → (row count, content digest) on the generated tables. */
  val Pinned: Map[String, (Long, String)] = Map(
    // caching operator
    "q_similarity_knn_graph" -> (200L, "114436003461130312586"),
    // stream anchor
    "q_stream_gap_sessions" -> (500L, "276864997228163747240"),
    // controls that cache nothing
    "q_join_inner" -> (5L, "3607058805521597742"),
    "q1_pricing_summary" -> (6L, "3190273117758263790"),
    // the sub-second floor
    "q_sort_limit" -> (10L, "8249406636032404218"),
    "q_distinct" -> (125L, "74818540856980401408"),
    "q_scalar_datetime" -> (300L, "173741292253270334462"),
    "q_higher_order" -> (300L, "171151095061516504944"))
}
