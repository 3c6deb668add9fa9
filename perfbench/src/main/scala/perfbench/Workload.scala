package perfbench

import graft.config.Source
import graft.http.HttpFetcher
import org.apache.spark.sql.SparkSession

/** One timed operation of a pass and whether its output checked out. */
final case class Op(kind: String, seconds: Double, ok: Boolean)

final case class Metric(name: String, value: Double, unit: String)

/** Shared context of one benchmark run. */
final case class Ctx(seed: Long, nproc: Int, workDir: java.nio.file.Path, dataDir: java.nio.file.Path) {
  /** The feed server uses at most `nproc` handler threads. */
  def serverThreads: Int = nproc
}

/** A workload: set-up (after session creation), a pass over a fixed cycle
  * of operations, and the figures it derives from its passes. */
abstract class Workload(val ctx: Ctx) {
  /** Everything a caller pays before the first operation, after the
    * session exists: feed pre-render, server start, registration and a
    * light warm-up. Timed as part of `setup_s`. */
  def setUp(spark: SparkSession): Unit

  /** Set-ups per run. The first, in a cold JVM, is left out of `setup_s`;
    * set-up time falls over the first few repeats as the JIT warms, so the
    * count is fixed per workload. */
  def setUps: Int = 3

  /** One pass over the workload's fixed operation cycle. */
  def pass(spark: SparkSession): Seq[Op]

  /** The first, untimed pass: warms the JIT and checks outputs. */
  def prime(spark: SparkSession): Seq[Op] = pass(spark)

  def tearDown(spark: SparkSession): Unit

  /** Zero the outside-in counters (feed server) before measuring. */
  def resetCounters(): Unit = ()

  /** Hands a traced run's Spark probe to the workload. */
  def attach(probe: SparkProbe): Unit = ()

  /** The workload's named end-to-end figures over the measured passes. */
  def named(passes: Seq[Seq[Op]]): Seq[Metric]

  /** Per-layer figures of a traced run, per measured pass. */
  def layers(passes: Seq[Seq[Op]], probe: SparkProbe): Seq[Metric]

  protected def check(what: String, ok: Boolean): Boolean = {
    if (!ok) System.err.println(s"[perfbench] WRONG OUTPUT: $what")
    ok
  }

  /** Runs one operation; an exception counts as a failed operation. */
  protected def timed(kind: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ok =
      try body
      catch { case e: Exception =>
        System.err.println(s"[perfbench] FAILED $kind: $e")
        false
      }
    Op(kind, (System.nanoTime() - t0) / 1e9, ok)
  }
}

/** Workloads run as named sections of one: one session, the sections'
  * set-ups in order, and a pass that runs each section's pass in turn.
  * Operations are tagged `<section>:<kind>`; named figures keep their
  * sections' names, per-layer figures are prefixed `<section>/`. */
final class Composite(ctx: Ctx, sections: Seq[(String, Workload)]) extends Workload(ctx) {
  private var probe: Option[SparkProbe] = None

  /** Runs `f` on each section with `Trace.section` set, draining the
    * listener bus around it so Spark events land in their section. */
  private def each[T](f: (String, Workload) => Seq[T]): Seq[T] = sections.flatMap { case (name, w) =>
    probe.foreach(_.drain())
    Trace.section = name
    try f(name, w)
    finally { probe.foreach(_.drain()); Trace.section = "" }
  }

  private def of(name: String, passes: Seq[Seq[Op]]): Seq[Seq[Op]] =
    passes.map(_.collect { case o if o.kind.startsWith(name + ":") => o.copy(kind = o.kind.drop(name.length + 1)) })

  private def tagged(name: String, ops: Seq[Op]): Seq[Op] = ops.map(o => o.copy(kind = s"$name:${o.kind}"))

  override def setUp(spark: SparkSession): Unit = each { (_, w) => w.setUp(spark); Nil }
  override def prime(spark: SparkSession): Seq[Op] = each((n, w) => tagged(n, w.prime(spark)))
  override def pass(spark: SparkSession): Seq[Op] = each((n, w) => tagged(n, w.pass(spark)))
  override def tearDown(spark: SparkSession): Unit = sections.foreach(_._2.tearDown(spark))
  override def resetCounters(): Unit = sections.foreach(_._2.resetCounters())
  override def attach(p: SparkProbe): Unit = { probe = Some(p); sections.foreach(_._2.attach(p)) }

  override def named(passes: Seq[Seq[Op]]): Seq[Metric] =
    sections.flatMap { case (n, w) => w.named(of(n, passes)) }

  override def layers(passes: Seq[Seq[Op]], p: SparkProbe): Seq[Metric] = {
    val bySection = each((n, w) => w.layers(of(n, passes), p).map(m => m.copy(name = s"$n/${m.name}")))
    // section figures that also make up a run-wide figure
    val summed = Seq("http.requests", "http.bytes", "http.retries", "source.cached_mb").flatMap { k =>
      val ms = bySection.filter(_.name.endsWith("/" + k))
      if (ms.isEmpty) None else Some(Metric(k, ms.map(_.value).sum, ms.head.unit))
    }
    val peak = bySection.filter(_.name.endsWith("/http.max_inflight")).map(_.value)
    bySection ++ summed ++ peak.maxOption.map(Metric("http.max_inflight", _, "count"))
  }
}

/** `HttpFetcher` that records a span around each layer call: the whole
  * fetch, each request (`fetchJson`: request plus Jackson parse) and each
  * `toRows` re-serialisation. Passed to `HttpTables.register`. */
final class TracingFetcher extends HttpFetcher() {
  override def fetchRows(source: Source): Seq[String] =
    Trace.span("http.fetch")(super.fetchRows(source))
  override def fetchJson(url: String, method: String, body: String) =
    Trace.span("http.request")(super.fetchJson(url, method, body))
  override def toRows(node: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    Trace.span("http.to_rows")(super.toRows(node))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median of the per-pass sums of the ops `keep` selects. */
  def passMedian(passes: Seq[Seq[Op]])(keep: Op => Boolean): Double =
    median(passes.map(_.filter(keep).map(_.seconds).sum))

  /** Storage memory held by cached blocks, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** The fetcher for registration: timed per layer in traced runs. */
  def fetcher: HttpFetcher = if (Trace.enabled) new TracingFetcher else new HttpFetcher()

  /** Client-side HTTP layer figures from the measured spans. */
  def httpClient(passes: Int): Seq[Metric] = {
    val req = Trace.measured.filter(_.name == "http.request").map(_.seconds * 1000)
    Seq(
      Metric("http.fetch_s", Trace.total("http.fetch") / passes, "s"),
      Metric("http.request_s", Trace.total("http.request") / passes, "s"),
      Metric("http.to_rows_s", Trace.total("http.to_rows") / passes, "s"),
      Metric("http.request_p50_ms", if (req.isEmpty) 0.0 else median(req), "ms"))
  }

  /** Feed-server figures, per pass. */
  def httpServer(c: FeedServer.Counters, passes: Int): Seq[Metric] = Seq(
    Metric("http.requests", c.requests.toDouble / passes, "count"),
    Metric("http.bytes", c.bytes.toDouble / passes, "bytes"),
    Metric("http.retries", c.retries.toDouble / passes, "count"),
    Metric("http.max_inflight", c.maxInflight.toDouble, "count"),
    Metric("http.non_2xx", c.statuses.collect { case (k, v) if k / 100 != 2 => v }.sum.toDouble / passes, "count"))
}
