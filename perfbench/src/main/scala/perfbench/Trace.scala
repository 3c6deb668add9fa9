package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is (name, start, end, parent, pass,
  * section); `pass` is -1 during set-up and the prime pass, and `section`
  * names the part of a composite workload that was running. Recording is
  * off in untraced runs, where `span` is a plain call. */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int,
                        pass: Int, section: String) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  @volatile var pass = -1
  @volatile var section = ""

  private val ids = new AtomicInteger
  private val recorded = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val span = Span(id, name, t0, System.nanoTime(), parents.headOption.getOrElse(0), pass, section)
        stack.set(parents)
        recorded.synchronized(recorded += span)
      }
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Spans of the current section, set-up included. */
  def inSection: Seq[Span] = spans.filter(_.section == section)

  /** Spans of the current section's measured passes. */
  def measured: Seq[Span] = inSection.filter(_.pass >= 0)

  /** Total seconds of the measured spans named `name`. */
  def total(name: String): Double = measured.filter(_.name == name).map(_.seconds).sum

  /** Seconds of `name` spans minus the time of their direct children. */
  def selfTotal(name: String): Double = {
    val all = measured
    val own = all.filter(_.name == name)
    val ownIds = own.map(_.id).toSet
    own.map(_.seconds).sum - all.filter(s => ownIds(s.parent)).map(_.seconds).sum
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"pass":${s.pass},"section":"${s.section}"}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Spark-side counters for the traced run: a `SparkListener` (jobs,
  * stages, tasks, task time, bytes, spill), a `QueryExecutionListener`
  * (Catalyst phase times, cache scans and connector scan rows in the
  * executed plan) and a `StreamingQueryListener` (micro-batch progress).
  * All counts are since the last `reset`. Each count is also kept per
  * `Trace.section`; a composite workload drains the listener bus when it
  * switches sections, so events land in the section that caused them. */
final class SparkProbe(spark: SparkSession) {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit = {
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
    if (Trace.section.nonEmpty)
      c.getOrElseUpdate(s"${Trace.section}/$k", new AtomicLong).addAndGet(v)
  }
  def get(k: String): Long = c.get(k).map(_.get).getOrElse(0L)

  /** The count of `k` within the current section. */
  def inSection(k: String): Long =
    if (Trace.section.isEmpty) get(k) else get(s"${Trace.section}/$k")

  private object planWalk extends AdaptiveSparkPlanHelper {
    def count(p: SparkPlan, f: PartialFunction[SparkPlan, Long]): Long = collect(p)(f).sum
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      add("spark.task_duration_ms", e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_ms", m.executorRunTime)
        add("spark.input_bytes", m.inputMetrics.bytesRead)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach(p =>
        phases.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs)))
      val plan = qe.executedPlan
      add("ops.cache_scans", planWalk.count(plan, { case _: InMemoryTableScanExec => 1L }))
      add("connector.scan_rows", planWalk.count(plan, {
        case s: BatchScanExec if s.scan.getClass.getName.startsWith("graft.") =>
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }))
      add("connector.range_partitions", planWalk.count(plan, {
        case s: BatchScanExec if s.scan.getClass.getSimpleName == "HttpDistributedScan" =>
          s.partitions.map(_.size).sum.toLong
      }))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) add("stream.batches", 1)
      val d = p.durationMs
      Seq("latestOffset" -> "stream.latest_offset_ms", "addBatch" -> "stream.add_batch_ms",
        "queryPlanning" -> "stream.planning_ms").foreach { case (k, n) =>
        if (d.containsKey(k)) add(n, d.get(k).longValue)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.BenchListenerBus.drain(spark.sparkContext)

  def reset(): Unit = { drain(); c.clear() }
}
