package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point. One run: set up the workload's `setUps` times
  * (reporting the median of the set-ups after the first, which also loads
  * Spark's classes; the last set-up's session is kept), one untimed prime
  * pass, then passes until `--seconds` have elapsed (at least one).
  *
  * Usage:
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <dir> --out <dir>
  *   perfbench.Main --gen-data <dir>
  *   perfbench.Main --pin --data <dir> --work <dir>
  *
  * The last line of standard output is the result object; the full report
  * (named figures, every per-layer figure, calibration probes) is written
  * to `<out>/<workload>-seed<n>-trace<t>.json`, and spans of a traced run
  * to a `.spans.jsonl` file next to it.
  */
object Main {
  /** Per-layer metrics of a traced run that every workload reports (a
    * layer a workload does not use reports 0), with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_overhead_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "codegen.compiles" -> "count",
    "http.requests" -> "count", "http.bytes" -> "bytes", "http.retries" -> "count",
    "http.max_inflight" -> "count", "connector.scan_rows" -> "count",
    "connector.range_partitions" -> "count", "stream.batches" -> "count",
    "ops.construct_jobs" -> "count", "ops.cache_scans" -> "count",
    "source.cached_mb" -> "MB", "cache.storage_mb_after" -> "MB")

  def session(nproc: Int): SparkSession = {
    // configured like graft.Main, plus the conf the parquet tables need
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.nanosConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    // the feed server answers with a header write and a body write; without
    // TCP_NODELAY, Nagle's algorithm and delayed ACKs add ~40 ms per response
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val nproc = Runtime.getRuntime.availableProcessors
    if (args.contains("--gen-data")) {
      val dir = Paths.get(arg(args, "--gen-data").get)
      val spark = session(nproc)
      try OpsData.generate(spark, dir) finally spark.stop()
    } else if (args.contains("--pin")) pin(args, nproc)
    else {
      val ok = run(args, nproc)
      if (!ok) sys.exit(1)
    }
  }

  private def ctx(args: Array[String], nproc: Int, seed: Long): Ctx = {
    val work = Paths.get(arg(args, "--work").getOrElse("."))
    Files.createDirectories(work)
    Ctx(seed, nproc, work, Paths.get(arg(args, "--data").getOrElse("ops-data")))
  }

  /** Prints each pinned query's row count and digest on the generated tables. */
  private def pin(args: Array[String], nproc: Int): Unit = {
    val c = ctx(args, nproc, 0L)
    val spark = session(nproc)
    try OpsWorkload.Pinned.keys.toSeq.sorted.foreach { q =>
      spark.catalog.clearCache()
      val df = graft.SparkEntry.queries(q)(spark, c.dataDir.toString)
      println(s"""    "$q" -> (${df.count()}L, "${graft.ops.Profile.contentDigest(df)}"),""")
    } finally spark.stop()
  }

  private def workload(name: String, c: Ctx): Workload = name match {
    case "http" => new Composite(c, Seq("ingest" -> new IngestWorkload(c),
      "query" -> new QueryWorkload(c), "paged" -> new PagedWorkload(c)))
    case "pipeline_ops" => new OpsWorkload(c)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def run(args: Array[String], nproc: Int): Boolean = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").getOrElse("1").toLong
    val seconds = arg(args, "--seconds").getOrElse("10").toDouble
    val traced = arg(args, "--trace").contains("1")
    val c = ctx(args, nproc, seed)
    val out = Paths.get(arg(args, "--out").getOrElse("."))
    Files.createDirectories(out)
    val w = workload(name, c)
    val probes = ArrayBuffer(Calibration.parallelProbe(nproc))
    Trace.enabled = traced

    var spark: SparkSession = null
    val setupTimes = (1 to w.setUps).map { k =>
      val t0 = System.nanoTime()
      spark = session(nproc)
      w.setUp(spark)
      val s = (System.nanoTime() - t0) / 1e9
      if (k < w.setUps) { w.tearDown(spark); spark.stop() }
      s
    }
    val probe = new SparkProbe(spark)
    if (traced) {
      probe.install()
      w.attach(probe)
    }
    System.err.println(f"[perfbench] timeline set-up done at ${Calibration.uptime()}%.1f s")
    val primeOps = w.prime(spark)
    System.err.println(f"[perfbench] timeline prime done at ${Calibration.uptime()}%.1f s")

    w.resetCounters()
    if (traced) probe.reset()
    val gc0 = Calibration.gcSeconds()
    val compiles0 = Calibration.codegenCompiles()
    val compileNs0 = Calibration.codegenCompileNs()
    val passes = ArrayBuffer.empty[Seq[Op]]
    val passCpu = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty || elapsed < seconds) {
      Trace.pass = passes.size
      probes += Calibration.parallelProbe(nproc)
      val cpu0 = Calibration.processCpuSeconds()
      passes += w.pass(spark)
      passCpu += Calibration.processCpuSeconds() - cpu0
    }
    Trace.pass = -1
    val measuredSeconds = elapsed
    val n = passes.size.toDouble
    val gc = Calibration.gcSeconds() - gc0
    val compiles = Calibration.codegenCompiles() - compiles0
    val compileS = (Calibration.codegenCompileNs() - compileNs0) / 1e9

    val layers: Seq[Metric] =
      if (!traced) Nil
      else {
        probe.drain()
        def per(k: String) = probe.get(k) / n
        Seq(
          Metric("catalyst.analysis_ms", per("catalyst.analysis_ms"), "ms"),
          Metric("catalyst.optimization_ms", per("catalyst.optimization_ms"), "ms"),
          Metric("catalyst.planning_ms", per("catalyst.planning_ms"), "ms"),
          Metric("spark.jobs", per("spark.jobs"), "count"),
          Metric("spark.stages", per("spark.stages"), "count"),
          Metric("spark.tasks", per("spark.tasks"), "count"),
          Metric("spark.task_run_s", per("spark.task_run_ms") / 1000, "s"),
          Metric("spark.task_overhead_s", (per("spark.task_duration_ms") - per("spark.task_run_ms")) / 1000, "s"),
          Metric("spark.input_bytes", per("spark.input_bytes"), "bytes"),
          Metric("spark.shuffle_read_bytes", per("spark.shuffle_read_bytes"), "bytes"),
          Metric("spark.shuffle_write_bytes", per("spark.shuffle_write_bytes"), "bytes"),
          Metric("spark.spill_bytes", per("spark.spill_bytes"), "bytes"),
          Metric("jvm.gc_s", gc / n, "s"),
          Metric("codegen.compiles", compiles / n, "count"),
          Metric("codegen.compile_s", compileS / n, "s"),
          Metric("connector.scan_rows", per("connector.scan_rows"), "count"),
          Metric("connector.range_partitions", per("connector.range_partitions"), "count"),
          Metric("stream.batches", per("stream.batches"), "count"),
          Metric("stream.latest_offset_ms", per("stream.latest_offset_ms"), "ms"),
          Metric("stream.add_batch_ms", per("stream.add_batch_ms"), "ms"),
          Metric("stream.planning_ms", per("stream.planning_ms"), "ms"),
          Metric("ops.cache_scans", per("ops.cache_scans"), "count")) ++ w.layers(passes.toSeq, probe)
      }

    System.err.println(f"[perfbench] timeline measured done at ${Calibration.uptime()}%.1f s")
    val heapMb = Calibration.retainedHeapMb()
    w.tearDown(spark)
    if (traced) probe.uninstall()
    spark.stop()
    probes += Calibration.parallelProbe(nproc)
    System.err.println(f"[perfbench] timeline stopped at ${Calibration.uptime()}%.1f s")

    val allOps = primeOps ++ passes.flatten
    val failed = allOps.count(!_.ok)
    val passS = Stats.median(passes.map(_.map(_.seconds).sum).toSeq)
    val opMs = Stats.median(passes.flatten.map(_.seconds).toSeq) * 1000
    val setupS = Stats.median(setupTimes.tail)
    val endToEnd = Seq(
      Metric("pass_s", passS, "s"),
      Metric("setup_s", setupS, "s"),
      Metric("retained_heap_mb", heapMb, "MB"))
    val named = w.named(passes.toSeq)
    val diagnostics = Seq(
      Metric("failed_ratio", failed.toDouble / allOps.size, "ratio"),
      Metric("passes", n, "count"),
      Metric("measured_s", measuredSeconds, "s"),
      Metric("op_p50_ms", opMs, "ms"),
      Metric("setup_first_s", setupTimes.head, "s"),
      Metric("pass_cpu_s", Stats.median(passCpu.toSeq), "s"),
      Metric("calib_par_start_s", probes.head, "s"),
      Metric("calib_par_end_s", probes.last, "s"),
      Metric("calib_par_median_s", Stats.median(probes.toSeq), "s"))

    val reported = if (traced) {
      val byName = layers.map(m => m.name -> m).toMap
      PerLayer.map { case (k, unit) => byName.getOrElse(k, Metric(k, 0.0, unit)) }
    } else endToEnd
    (endToEnd ++ named ++ diagnostics ++ layers).foreach(m =>
      System.err.println(f"[perfbench] $name%-12s ${m.name}%-32s ${m.value}%14.4f ${m.unit}"))

    val tag = s"$name-seed$seed-trace${if (traced) 1 else 0}"
    def obj(ms: Seq[Metric]) = ms.map(m =>
      s""""${m.name}":{"value":${Json.num(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")
    Files.writeString(out.resolve(s"$tag.json"),
      s"""{"workload":"$name","seed":$seed,"trace":$traced,"nproc":$nproc,""" +
        s""""end_to_end":${obj(endToEnd)},"named":${obj(named)},"diagnostics":${obj(diagnostics)},""" +
        s""""layers":${obj(layers)},"setup_s_each":${setupTimes.map(Json.num).mkString("[", ",", "]")},""" +
        s""""pass_s_each":${passes.map(p => Json.num(p.map(_.seconds).sum)).mkString("[", ",", "]")},""" +
        s""""op_p50_s":${passes.flatten.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
          s""""$k":${Json.num(Stats.median(os.map(_.seconds).toSeq))}""" }.mkString("{", ",", "}")}}""" + "\n")
    if (traced) Trace.writeJsonl(out.resolve(s"$tag.spans.jsonl"))

    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":${allOps.size},"failed":$failed,"metrics":${obj(reported)}}""")
    correct
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Calibration {
  /** Host speed probe: a warmed 10⁸-step LCG loop (pure register
    * arithmetic) on `threads` threads at once, timed as a batch. It slows
    * with contention or steal on any core, as a stage of `threads`
    * parallel tasks does; it is reported next to the run's times, which
    * are not scaled by it. */
  def parallelProbe(threads: Int): Double = {
    def batch(): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map(_ => new Thread(() => {
        var x = 0L
        var i = 0
        while (i < 100000000) {
          x = x * 6364136223846793005L + 1442695040888963407L
          i += 1
        }
        if (x == 42L) System.err.print("")
      }))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    batch()
    batch()
  }

  /** Seconds since the JVM started. */
  def uptime(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** CPU time of every thread of this JVM, in seconds. */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codegenCompileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Heap in use after full collections, in MB. Spark's context cleaner
    * drops broadcast and shuffle blocks only after a collection finds them
    * unreachable, so it gets time to run between collections. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1e6
  }
}
