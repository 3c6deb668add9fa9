package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Stage, task and job figures of one session, from one SparkListener:
  * per stage its wall time, task count, shuffle bytes and the RDD scope
  * chain naming its physical operators; per stage the task run-time sum
  * and max; per job its wall time and description; and task spill bytes
  * (memory + disk). In local mode every executor is in this JVM, so the
  * figures cover the whole run. The listener bus is asynchronous: a
  * query's last events can arrive after it returns. */
final class StageReport private () extends SparkListener {
  import StageReport.Stage
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val taskTime = new ConcurrentHashMap[Int, (Long, Long, Int)]()
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val spill = new AtomicLong(0L)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val wall = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(0L)
    // AQE stage-job callsites are all the same generic lambda, so the
    // RDD scope chain is the only stage → operator attribution
    val ops = i.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name).distinct.mkString(">")
    stages.put(i.stageId, Stage(wall, i.numTasks,
      i.taskMetrics.shuffleReadMetrics.totalBytesRead,
      i.taskMetrics.shuffleWriteMetrics.bytesWritten, ops))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskTime.compute(t.stageId, (_, v) => {
        val (tot, mx, n) = if (v == null) (0L, 0L, 0) else v
        (tot + m.executorRunTime, math.max(mx, m.executorRunTime), n + 1)
      })
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.put(j.jobId, (StageReport.label(j).take(90), j.time))

  override def onJobEnd(j: SparkListenerJobEnd): Unit = jobEnd.put(j.jobId, j.time)

  /** The labels of the jobs started since the last [[clear]], by job id. */
  def jobLabels: Seq[String] = jobs.asScala.toSeq.sortBy(_._1).map(_._2._1)

  /** Task spill bytes since the last [[clear]]. */
  def spillBytes: Long = spill.get()

  def clear(): Unit = {
    stages.clear(); taskTime.clear(); jobs.clear(); jobEnd.clear(); spill.set(0L)
  }

  /** The per-stage table, then the per-job wall table. */
  def print(): Unit = {
    stages.asScala.toSeq.sortBy(_._1).foreach { case (id, s) =>
      val (tot, mx, n) = taskTime.getOrDefault(id, (0L, 0L, 0))
      println(f"stage $id%3d wall=${s.wallMs / 1e3}%7.3f s tasks=${s.tasks}%4d shufR=${s.shuffleRead / 1e6}%8.1f MB shufW=${s.shuffleWrite / 1e6}%8.1f MB  ${s.ops.take(140)}%s" +
        f"  taskSum=${tot / 1e3}%7.3f s taskMax=${mx / 1e3}%6.3f s n=$n%d")
    }
    println(s"jobs=${jobs.size} stages=${stages.size} tasks=${stages.values.asScala.map(_.tasks).sum}")
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, (desc, st)) =>
      val en = jobEnd.getOrDefault(id, st)
      println(f"  job $id%3d ${(en - st) / 1e3}%7.3f s  $desc%s")
    }
  }
}

object StageReport {
  private final case class Stage(wallMs: Long, tasks: Int, shuffleRead: Long,
                                 shuffleWrite: Long, ops: String)

  /** A job's label: its description or `setCallSite` call site when a
    * caller set one; else its result stage's name, which is Spark's short
    * call site of the job ("collect at X.scala:12"), after `sql <id>:`
    * when the job runs for a SQL execution. */
  private def label(j: SparkListenerJobStart): String = {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop("spark.job.description").orElse(prop("callSite.short")).getOrElse {
      // the result stage is created after its parents: the highest id
      val site = j.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?")
      prop("spark.sql.execution.id").fold(site)(id => s"sql $id: $site")
    }
  }

  /** A report listening on `spark`'s context from now on. */
  def install(spark: SparkSession): StageReport = {
    val r = new StageReport()
    spark.sparkContext.addSparkListener(r)
    r
  }

  /** JVM-wide GC time so far (ms): exact for local mode's one JVM. */
  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Whole-stage-codegen compiles so far. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
