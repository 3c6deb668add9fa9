package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Artifact lifecycle (VERDICT r9 item 2): the persisted corpus
  * artifacts are keyed by the source table's CONTENT digest, so
  *  - a corpus whose bytes change behind the same path gets a fresh
  *    index (never stale matches), and
  *  - a byte-identical regeneration (new part files, new mtimes — what
  *    a rerun of the same upstream job produces) reuses the existing
  *    artifact instead of paying a rebuild.
  * The old listing-metadata fingerprint got the first case right only
  * when mtimes happened to move, and always failed the second. */
class ArtifactsSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private def writeDocs(dir: String, salt: String): Unit = {
    import spark.implicits._
    // ≥3 tokens per doc (shingleSets drops shorter); deterministic rows
    val docs = (0L until 40L).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 9}$salt")
      (i, words.mkString(" "), "en", s"src${i % 4}")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("band index artifact: rebuilt on content change, reused on byte-identical regeneration") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artspec-").toString
    writeDocs(dir, salt = "a")
    Dedup.BandIndex(spark, dir)
    val builds0 = Dedup.BandIndex.builds

    // byte-identical regeneration: same rows, fresh part files/mtimes.
    // repartition(3) forces a different file layout than the original
    // write — the listing fingerprint changes in every component (names,
    // sizes, mtimes), but the content digest is order- and
    // partitioning-independent, so the artifact must be REUSED.
    import spark.implicits._
    val same = spark.read.parquet(s"$dir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft-artspec-tmp-").toString
    same.repartition(3).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val d = java.nio.file.Paths.get(s"$dir/documents.parquet")
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    org.apache.commons.io.FileUtils.moveDirectory(
      java.nio.file.Paths.get(s"$tmp/documents.parquet").toFile, d.toFile)
    Dedup.BandIndex(spark, dir)
    assert(Dedup.BandIndex.builds == builds0,
      "byte-identical regeneration (fresh mtimes/part files) must reuse the artifact")

    // content mutation behind the same path → rebuild
    writeDocs(dir, salt = "b")
    Dedup.BandIndex(spark, dir)
    assert(Dedup.BandIndex.builds == builds0 + 1,
      "changed corpus content behind the same path must rebuild the artifact")

    // and the rebuilt index serves the NEW corpus: a batch doc written in
    // the new vocabulary must match its corpus twin exactly (J = 1)
    val batch = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" === 0L).withColumn("doc_id", lit(999L))
    val m = Dedup.matchBatch(batch, spark, dir)
      .filter($"corpus_id" === 0L).collect()
    assert(m.nonEmpty && m.head.getAs[Double]("jaccard") == 1.0,
      "rebuilt index must reflect the mutated corpus")
  }

  test("artifact keys are never hidden paths; the pair artifact round-trips") {
    // a corpus under an absolute path: the key used to start with `_`
    val dir = java.nio.file.Files.createTempDirectory("graft-artspec-").toString
    writeDocs(dir, salt = "k")
    val key = Artifacts.tableKey(spark, dir, "documents")
    assert(!key.startsWith("_") && !key.startsWith("."), key)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = pairs(Dedup.near(spark, dir))
    assert(live.nonEmpty, "duplicate docs must pair")
    assert(pairs(Dedup.PairArtifact.pairs(spark, dir)) == live)
  }
}
