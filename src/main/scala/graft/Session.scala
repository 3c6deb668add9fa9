package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of Bench, Verify, the dev tools and the specs,
  * built in one place. `graft.Main` keeps its own builder: its master is
  * a CLI argument that may name a cluster. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with one shuffle partition per core, UTC, the nanos
    * timestamp read `Tables.events` relies on, and no UI. */
  def local(logLevel: String = "WARN"): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .appName("graft")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf, "true")
      .config("spark.ui.enabled", "false")
      // AQE materializes independent query stages concurrently, so
      // codegenStageId numbering varies run-to-run; with the id embedded
      // in the generated class NAME (default), a re-run of the IDENTICAL
      // query produces byte-different sources → codegen-cache miss → a
      // Janino recompile inside the timed run with all other task threads
      // parked on the compile KeyLock (thread-dump-verified; q_eval_chrf
      // warm run: 6-12 recompiles ≈ +2-8 s). Constant class names make
      // the cache key the structural source; entries are raised so
      // shapes shared ACROSS queries survive the suite.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The checkpoint dir of `spark`'s context, for operators that
    * `checkpoint()`: a dir the caller already set is kept; otherwise one
    * temp dir is created, set, and deleted when the JVM exits. */
  def ensureCheckpointDir(spark: SparkSession): String = synchronized {
    val sc = spark.sparkContext
    sc.getCheckpointDir.getOrElse {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
      sc.setCheckpointDir(dir.toString)
      sc.getCheckpointDir.get
    }
  }
}
