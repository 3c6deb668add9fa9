package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session factory's conf, which Verify's oracle results and Bench's
  * codegen-cache behaviour depend on; the checkpoint-dir helper; and
  * source guards that keep sessions, checkpoint dirs and JSON schema
  * inference and decode made in one place each. */
class SessionSpec extends AnyFunSuite with SparkSpec {

  test("factory conf: local[cpus], a shuffle partition per core, UTC, nanos, no UI, codegen cache") {
    val conf = spark.sparkContext.getConf
    val n = Session.cpus
    assert(conf.get("spark.master") == s"local[$n]")
    assert(conf.get("spark.sql.shuffle.partitions") == n)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get(Tables.nanosConf) == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.codegen.useIdInClassName") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
  }

  test("ensureCheckpointDir: two calls give one dir") {
    val a = Session.ensureCheckpointDir(spark)
    val b = Session.ensureCheckpointDir(spark)
    assert(a == b)
    assert(spark.sparkContext.getCheckpointDir.contains(a))
  }

  test("ensureCheckpointDir keeps a dir the caller set") {
    val mine = Files.createTempDirectory("graft-spec-ckpt-").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(mine))
    spark.sparkContext.setCheckpointDir(mine.toString)
    val set = spark.sparkContext.getCheckpointDir.get
    assert(Session.ensureCheckpointDir(spark) == set)
    assert(spark.sparkContext.getCheckpointDir.contains(set))
    assert(set.contains(mine.getName))
  }

  /** `src/main` files other than `allowed` whose text contains `needle`. */
  private def usesOutside(needle: String, allowed: Set[String]): Seq[String] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no sources at $root")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .filter(f => Files.readString(f).contains(needle))
      .map(f => root.relativize(f).toString.replace('\\', '/'))
      .filterNot(allowed)
    finally files.close()
  }

  test("sessions are built only in graft/Session.scala and graft/Main.scala") {
    assert(usesOutside("SparkSession.builder(",
      Set("graft/Session.scala", "graft/Main.scala")).isEmpty)
  }

  test("checkpoint dirs are set only in graft/Session.scala") {
    assert(usesOutside("setCheckpointDir(", Set("graft/Session.scala")).isEmpty)
  }

  test("JSON is inferred and decoded only in graft/connector/HttpTableProvider.scala") {
    for (needle <- Seq("spark.read.json(", "new JacksonParser("))
      assert(usesOutside(needle, Set("graft/connector/HttpTableProvider.scala")).isEmpty, needle)
  }
}
