package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit/e2e coverage for the training-data-pipeline operator families
  * (dedup, similarity, text, multimodal) at sf0.001. The sf0.01 oracle
  * compare is the authoritative value check; these specs pin structural
  * invariants the oracle can't see (recall vs brute force, symmetry,
  * determinism, plan shape). */
class OpsSpec extends AnyFunSuite with SparkSpec {

  // --- Dedup ----------------------------------------------------------------

  test("dedup exact: every content group keeps its smallest doc_id and covers the recrawl") {
    val df = Dedup.exact(spark, sfDir).cache()
    val rows = df.collect()
    val nDocs = graft.Tables.t(spark, sfDir, "documents").count()
    // distinct contents = original corpus (no exact dups in the testdata)
    assert(rows.length == nDocs)
    // recrawled docs (doc_id % 10 == 0) form groups of 2; everyone else 1
    val byCopies = rows.groupBy(_.getAs[Long]("n_copies")).view.mapValues(_.length).toMap
    assert(byCopies(2L) == rows.count(_.getAs[Long]("keep_id") % 10 == 0))
    assert(!rows.exists(_.getAs[Long]("keep_id") >= 1000000L)) // originals win
    df.unpersist()
  }

  test("dedup near: pairs are ordered, above threshold, and Jaccard-symmetric") {
    val rows = Dedup.near(spark, sfDir).collect()
    assert(rows.nonEmpty) // sf0.001 corpus has seeded near-dups
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.8)
      assert(r.getAs[Double]("jaccard") <= 1.0)
    }
  }

  test("dedup near: LSH candidates reproduce exact all-pairs answer at test scale") {
    import spark.implicits._
    val d = graft.Tables.t(spark, sfDir, "documents")
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= 3)
      .select($"doc_id", expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))))")
        .as("sh"))
    val jac = size(array_intersect($"a.sh", $"b.sh")).cast("double") /
      size(array_union($"a.sh", $"b.sh"))
    val exact = d.as("a").join(d.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"), jac.as("j"))
      .filter($"j" >= 0.8)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.near(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lsh == exact)
  }

  test("dedup prefix: prefix filtering reproduces exact all-pairs answer (recall theorem)") {
    import spark.implicits._
    val d = graft.Tables.t(spark, sfDir, "documents")
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= 3)
      .select($"doc_id", expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))))")
        .as("sh"))
    val jac = size(array_intersect($"a.sh", $"b.sh")).cast("double") /
      size(array_union($"a.sh", $"b.sh"))
    val exact = d.as("a").join(d.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"), jac.as("j"))
      .filter($"j" >= 0.8)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.prefixJaccardQ(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == exact, s"prefix ${got.size} pairs vs exact ${exact.size}")
  }

  test("dropNearDuplicates keeps group minima and all singletons") {
    import spark.implicits._
    val pairs = Dedup.near(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val losers = pairs.map(_._2).toSet
    val kept = Dedup.dropNearDuplicates(spark, sfDir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val all = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- losers)
    pairs.foreach { case (a, _) => assert(kept.contains(a) || losers.contains(a)) }
    assert(losers.forall(!kept.contains(_)))
  }

  test("connectedComponentsStar groups non-clique topologies (chain, star) transitively") {
    import spark.implicits._
    // chain 1-2-3-...-8 (diameter 7 — forces several star rounds),
    // star 20-{21,22,23}, and the disjoint pair (30,31)
    val pairs = ((1L to 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L)))
      .toDF("doc_a", "doc_b")
    val got = Graph.connectedComponentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 8L).foreach(i => assert(got(i) == 1L, s"chain node $i"))
    Seq(20L, 21L, 22L, 23L).foreach(i => assert(got(i) == 20L))
    Seq(30L, 31L).foreach(i => assert(got(i) == 30L))
    assert(got.size == 14)
  }

  test("connectedComponentsStar equals driver-side union-find on seeded random graphs") {
    import spark.implicits._
    // randomized oracle check for the star rounds: they must agree with
    // classic union-find on arbitrary topologies (seeded → reproducible
    // failures)
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical representative = min node id per component
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.groupBy(find).flatMap { case (_, members) =>
        val m = members.min; members.map(_ -> m) }.toMap
      val got = Graph.connectedComponentsStar(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: $got vs $expected")
    }
  }

  test("connectedComponentsStar checkpointed rounds leave no storage-memory leak") {
    import spark.implicits._
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    Graph.connectedComponentsStar(pairs).collect()
    spark.catalog.clearCache()
    // reliable checkpoint files live on disk in the checkpoint dir, not in
    // executor storage; after clearCache nothing may linger (localCheckpoint
    // blocks would — they bypass the CacheManager)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("connectedComponentsStar fails loudly when maxIter is too small for its rounds") {
    import spark.implicits._
    // one round cannot both contract an 8-node chain and see the edge
    // set stay unchanged
    val deepChain = (1L to 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Graph.connectedComponentsStar(deepChain, maxIter = 1).collect()
    }
  }

  test("split contamination: cross-split near-dup pairs only, labels match the shared contract") {
    import spark.implicits._
    val rows = Dedup.contaminationQ(spark, sfDir).collect()
    assert(rows.nonEmpty) // the seeded near-dups straddle the 80/10/10 hash split at every SF
    val near = Dedup.near(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val labels = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", Hashing.splitLabel($"doc_id".cast("string")).as("s"))
      .as[(Long, String)].collect().toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(r.getAs[String]("split_a") != r.getAs[String]("split_b"))
      assert(near((a, b)), s"($a,$b) not a near-dup pair")
      assert(labels(a) == r.getAs[String]("split_a"))
      assert(labels(b) == r.getAs[String]("split_b"))
    }
  }

  test("dedup ngram: char-5-gram LSH pairs are ordered and above threshold") {
    val rows = Dedup.nearNgram(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.8)
    }
  }

  test("dedup simhash: banding finds every pair the exact all-pairs scan finds") {
    import spark.implicits._
    // recompute fingerprints through the op itself (hamming-0 self-check):
    // identical token-set docs (the fingerprint groups) must appear as
    // hamming-0 pairs, and no emitted pair may exceed the threshold.
    val pairs = Dedup.simhash(spark, sfDir).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Int]("hamming") >= 0 && r.getAs[Int]("hamming") <= 3)
    }
    val zeroPairs = pairs.filter(_.getAs[Int]("hamming") == 0)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // every same-bag group from the fingerprint op yields hamming-0 pairs
    val groups = Text.fingerprint(spark, sfDir).collect()
    val docsByFp = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", md5(array_join(array_sort(array_distinct(
        split(lower($"text"), " "))), " ")).as("fp"))
      .collect().groupBy(_.getString(1))
    groups.foreach { g =>
      val ids = docsByFp(g.getString(g.fieldIndex("fp"))).map(_.getLong(0)).sorted
      for (a <- ids; b <- ids if a < b) assert(zeroPairs.contains((a, b)),
        s"same-bag pair ($a,$b) missing from simhash output")
    }
  }

  test("dedup embed: finds exactly the re-crawled duplicate vector pairs") {
    import spark.implicits._
    val got = Dedup.embed(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val expected = graft.Tables.t(spark, sfDir, "embeddings")
      .filter($"vec_id" % 5 === 0).select($"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000000L)).toSet
    assert(got == expected)
  }

  // --- Similarity -----------------------------------------------------------

  test("similarity topk: 10 neighbors per query, scores in [-1,1] descending") {
    val rows = Similarity.topk(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { g =>
      assert(g.length == 10)
      val scores = g.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(x => x >= -1.0001 && x <= 1.0001))
      assert(g.forall(_.getAs[Long]("vec_id") >= 10)) // corpus only
    }
  }

  test("mips: driver replay; norm-augmentation makes cosine order equal MIPS order") {
    import spark.implicits._
    val rows = Similarity.mipsQ(spark, sfDir).collect()
    val vecs = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val queries = vecs.filter(_._1 < 10)
    val corpus = vecs.filter(_._1 >= 10)
    def ip(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val got = rows.groupBy(_.getAs[Long]("query_id"))
    assert(got.size == 10 && got.values.forall(_.length == 10))
    queries.foreach { case (qid, qv) =>
      val want = corpus.map { case (id, v) => (id, ip(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSeq
      val g = got(qid).sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("vec_id")).toSeq
      assert(g == want, s"query $qid MIPS ranking")
      // Shrivastava-Li reduction: augment corpus with sqrt(M^2-|x|^2),
      // queries with 0; cosine order on augmented vectors = MIPS order
      // (query norm is a per-query constant; corpus augmented norms all
      // equal M, so cosine ∝ inner product)
      val m = math.sqrt(corpus.map(v => ip(v._2, v._2)).max) + 1e-9
      val augRank = corpus.map { case (id, v) =>
        val aug = v :+ math.sqrt(m * m - ip(v, v))
        val qa = qv :+ 0.0
        (id, ip(qa, aug) / (math.sqrt(ip(qa, qa)) * math.sqrt(ip(aug, aug))))
      }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSeq
      assert(augRank == want, s"query $qid augmentation equivalence")
    }
  }

  test("matryoshka: driver replay of truncated rankings; 64-dim control rows are perfect") {
    import spark.implicits._
    val rows = Similarity.matryoshkaQ(spark, sfDir).collect()
    assert(rows.length == 30) // 10 queries x 3 widths
    // the full-width rows are their own control
    rows.filter(_.getAs[Long]("dims") == 64L).foreach { r =>
      assert(r.getAs[Long]("overlap10") == 10L)
      assert(r.getAs[Int]("top1_match") == 1)
      assert(r.getAs[Long]("top1_full") == r.getAs[Long]("top1_trunc"))
    }
    // independent replay of overlap@10 and top-1 per (query, width)
    val vecs = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val queries = vecs.filter(_._1 < 10)
    val corpus = vecs.filter(_._1 >= 10)
    def cos(q: Array[Double], v: Array[Double], d: Int): Double = {
      var num = 0.0; var nq = 0.0; var nv = 0.0; var i = 0
      while (i < d) { num += q(i) * v(i); nq += q(i) * q(i); nv += v(i) * v(i); i += 1 }
      num / (math.sqrt(nq) * math.sqrt(nv))
    }
    def top10(q: Array[Double], d: Int): Seq[Long] =
      corpus.map { case (id, v) => (id, cos(q, v, d)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("dims")) -> r).toMap
    queries.foreach { case (qid, qv) =>
      val full = top10(qv, 64).toSet
      Seq(16, 32, 64).foreach { d =>
        val t = top10(qv, d)
        val r = got((qid, d.toLong))
        assert(r.getAs[Long]("overlap10") == t.toSet.intersect(full).size.toLong,
          s"q$qid d$d overlap")
        assert(r.getAs[Long]("top1_trunc") == t.head, s"q$qid d$d top1")
      }
    }
  }

  private def neighborPairs(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet

  test("similarity ann: recall@10 vs brute force is usable") {
    val exact = neighborPairs(Similarity.topk(spark, sfDir).collect())
    val approx = neighborPairs(Similarity.ann(spark, sfDir).collect())
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall@10 = $recall")
  }

  test("similarity ivf: recall@10 vs brute force is usable and deterministic") {
    val exact = neighborPairs(Similarity.topk(spark, sfDir).collect())
    val a = Similarity.annIvf(spark, sfDir).collect()
    val recall = (exact & neighborPairs(a)).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@10 = $recall")
    // fixed seed → same index, same answer
    val b = Similarity.annIvf(spark, sfDir).collect()
    assert(neighborPairs(a) == neighborPairs(b))
  }

  test("similarity recall gates: every query passes the driver-checkable threshold") {
    // the oracle rows for q_similarity_ann / q_similarity_ivf assert
    // recall_ok = 1 for all ten queries — lock that here too, so a
    // recall regression fails fast in sbt test, not only at the driver
    for (check <- Seq(Similarity.annCheck _, Similarity.ivfCheck _)) {
      val rows = check(spark, sfDir).collect()
      assert(rows.length == 10)
      assert(rows.forall(_.getAs[Int]("recall_ok") == 1),
        rows.map(r => s"${r.getLong(0)}:${r.getInt(1)}").mkString(" "))
    }
  }

  test("similarity ivf: one fitted index serves repeated searches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = graft.Tables.t(spark, sfDir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr("sqrt(aggregate(v, 0d, (acc, x) -> acc + x * x))"))
    val index = Similarity.fitIvf(e.filter($"vec_id" >= 10))
    val q1 = e.filter($"vec_id" < 5)
    val q2 = e.filter($"vec_id" >= 5 && $"vec_id" < 10)
    val r1 = index.search(q1).collect()
    val r2 = index.search(q2).collect()
    assert(r1.map(_.getAs[Long]("query_id")).toSet == (0L until 5L).toSet)
    assert(r2.map(_.getAs[Long]("query_id")).toSet == (5L until 10L).toSet)
    // the same index re-searched gives identical answers (no refit drift)
    assert(index.search(q1).collect().toSeq == r1.toSeq)
  }

  // --- Text -----------------------------------------------------------------

  test("text stats: token counts are consistent and ratios bounded") {
    val rows = Text.stats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_uniq") <= r.getAs[Int]("n_tokens"))
      val ttr = r.getAs[Double]("ttr")
      assert(ttr > 0 && ttr <= 1)
      assert(r.getAs[Double]("avg_token_len") > 0)
    }
  }

  test("text lang agg: doc counts partition the corpus") {
    val total = Text.langAgg(spark, sfDir).agg(sum("n_docs")).head.getLong(0)
    assert(total == graft.Tables.t(spark, sfDir, "documents").count())
  }

  test("text fingerprint: groups are >1 and disjoint from each other") {
    val rows = Text.fingerprint(spark, sfDir).collect()
    rows.foreach(r => assert(r.getAs[Long]("n_docs") > 1))
    assert(rows.map(_.getAs[String]("fp")).distinct.length == rows.length)
  }

  test("approx_count_distinct lands within rsd of the exact count") {
    import spark.implicits._
    val r = graft.Tables.t(spark, sfDir, "orders")
      .agg(countDistinct($"o_custkey").as("exact"),
        approx_count_distinct($"o_custkey", 0.05).as("approx"))
      .head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact <= 0.15,
      s"approx=$approx exact=$exact") // 3× the 5% rsd — deterministic seed
  }

  // --- Multimodal -----------------------------------------------------------

  test("multimodal: binary payload length equals utf-8 byte count and filter uses metadata") {
    import spark.implicits._
    val out = Multimodal.multimodal(spark, sfDir).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .filter($"lang" === "en" && $"n_chars" > 200)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    out.foreach { r =>
      val expected = docs(r.getAs[Long]("doc_id")).getBytes("UTF-8").length.toLong
      assert(r.getAs[Long]("n_bytes") == expected)
    }
  }

  test("multimodal ingestFolder: glob prunes at listing, payload round-trips, metadata query skips content") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-binfiles").toString
    val payloads = Map("a.bin" -> Array[Byte](1, 2, 3, 4),
      "b.bin" -> "hello media".getBytes("UTF-8"))
    payloads.foreach { case (n, b) => Files.write(Paths.get(dir, n), b) }
    Files.write(Paths.get(dir, "ignore.txt"), Array[Byte](9, 9))
    val df = Multimodal.ingestFolder(spark, dir, glob = "*.bin")
    val rows = df.collect().map(r =>
      r.getAs[String]("file_name") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(rows.keySet == payloads.keySet, "glob must prune non-matching files")
    payloads.foreach { case (n, b) =>
      assert(rows(n).toSeq == b.toSeq, s"$n payload round-trip") }
    // metadata-only projection must not read the content column
    val metaPlan = df.select($"file_name", $"n_bytes")
      .queryExecution.executedPlan
    val scans = metaPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc }
    assert(scans.nonEmpty &&
      scans.forall(!_.requiredSchema.fieldNames.contains("content")),
      s"content column must be pruned for metadata queries:\n$metaPlan")
    val sizes = df.select($"file_name", $"n_bytes").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == payloads.view.mapValues(_.length.toLong).toMap)
  }

  test("multimodal frameSample: one row per stride window, narrow, deterministic") {
    import spark.implicits._
    val media = Multimodal.mediaView(spark, sfDir)
    val frames = Multimodal.frameSample(media, stride = 64)
    assert(!frames.queryExecution.executedPlan.toString.contains("Exchange"))
    val byDoc = frames.collect().groupBy(_.doc_id)
    val lens = media.select($"doc_id".as[Long], length($"payload").as[Int])
      .collect().toMap
    assert(byDoc.keySet == lens.keySet)
    byDoc.foreach { case (id, fs) =>
      assert(fs.length == math.max(1, lens(id) / 64))
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until fs.length))
      assert(fs.forall(f => f.offset == f.frame_idx.toLong * 64))
    }
    // deterministic across runs
    val again = Multimodal.frameSample(media, stride = 64).collect()
    assert(again.sortBy(f => (f.doc_id, f.frame_idx)).toSeq ==
      byDoc.values.flatten.toSeq.sortBy(f => (f.doc_id, f.frame_idx)))
  }

  test("multimodal resize: binary-to-binary 1:1 map, bounded output size for non-image payloads") {
    val media = Multimodal.mediaView(spark, sfDir)
    val out = Multimodal.resize(media, 64, 64)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val rows = out.collect()
    assert(rows.length == media.count())
    rows.foreach { r =>
      assert(!r.decoded) // text bytes: no JDK codec accepts them
      assert(r.payload.length <= 64 * 64 / 64)
      assert(r.target_w == 64 && r.target_h == 64)
    }
  }

  test("multimodal extractFeatures: deterministic, schema'd, narrow") {
    val media = Multimodal.mediaView(spark, sfDir)
    val f1 = Multimodal.extractFeatures(media)
    assert(f1.schema.fieldNames.toSeq ==
      Seq("doc_id", "n_bytes", "width", "height", "channels", "mean_luma",
        "decoded"))
    // narrow: no exchange in the physical plan
    val plan = f1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode stage must not shuffle:\n$plan")
    val a = f1.collect().sortBy(_.doc_id)
    val b = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(a.sameElements(b)) // decode is deterministic
    a.foreach { m =>
      assert(!m.decoded && m.channels == 0) // text payloads: fallback path
      assert(m.width >= 16 && m.height >= 16)
      assert(m.mean_luma >= 0.0 && m.mean_luma <= 1.0)
      assert(m.n_bytes > 0)
    }
  }

  test("multimodal decodeQ fixture: solid-color luma recovered exactly from the codec round-trip") {
    import spark.implicits._
    // the oracle pins width/height/channels; mean_luma is the one field
    // it cannot assert (a double out of a codec), so pin it here: a
    // solid-color PNG is lossless, so the decoded per-pixel luma is the
    // planted color's BT.601 luma to accumulation error
    val feats = Multimodal.extractFeatures(
      Multimodal.plantedPngs(spark, sfDir)).collect()
    assert(feats.nonEmpty)
    feats.foreach { m =>
      assert(m.decoded && m.channels == 3)
      val id = m.doc_id
      val (r, g, b) = (((id * 37) % 256).toInt, ((id * 59) % 256).toInt,
        ((id * 83) % 256).toInt)
      val want = (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
      assert(math.abs(m.mean_luma - want) < 1e-9,
        s"doc $id: luma ${m.mean_luma} != planted $want")
      assert(m.width == 8 + id % 13 && m.height == 8 + id % 11)
    }
  }

  test("multimodal decodeMultiQ fixture: jpeg/gif/bmp all real-decode; luma exact for lossless, near for jpeg") {
    import spark.implicits._
    val planted = Multimodal.plantedImages(spark, sfDir)
    val fmts = planted.select($"doc_id".as[Long], $"format".as[String])
      .collect().toMap
    assert(fmts.values.toSet == Set("jpeg", "gif", "bmp"),
      "fixture must exercise all three container formats")
    val feats = Multimodal.extractFeatures(planted).collect()
    assert(feats.nonEmpty)
    feats.foreach { m =>
      assert(m.decoded && m.channels == 3,
        s"doc ${m.doc_id} (${fmts(m.doc_id)}): not real-decoded")
      val id = m.doc_id
      val (r, g, b) = (((id * 37) % 256).toInt, ((id * 59) % 256).toInt,
        ((id * 83) % 256).toInt)
      val want = (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
      // gif (palette holds the one color) and bmp are lossless; jpeg is
      // a lossy codec — a solid block reconstructs within a few levels
      val tol = if (fmts(id) == "jpeg") 0.03 else 1e-9
      assert(math.abs(m.mean_luma - want) < tol,
        s"doc $id (${fmts(id)}): luma ${m.mean_luma} != planted $want")
      assert(m.width == 8 + id % 13 && m.height == 8 + id % 11)
    }
  }

  /** Encode a real PNG in-test (ImageIO, pure JDK) with pinned pixels. */
  private def pngBytes(pixels: Array[Array[Int]]): Array[Byte] = {
    val h = pixels.length
    val w = pixels(0).length
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, pixels(y)(x))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", buf)
    buf.toByteArray
  }

  test("multimodal extractFeatures: REAL png decode yields true dimensions, channels, and exact BT.601 luma") {
    import spark.implicits._
    // 2×2: white, black / red, blue — luma is hand-computable
    val png = pngBytes(Array(
      Array(0xFFFFFF, 0x000000),
      Array(0xFF0000, 0x0000FF)))
    val media = Seq((7L, png)).toDF("doc_id", "payload")
    val Array(m) = Multimodal.extractFeatures(media).collect()
    assert(m.decoded)
    assert(m.width == 2 && m.height == 2)
    assert(m.channels == 3)
    assert(m.n_bytes == png.length.toLong)
    val expected =
      (255.0 * (0.299 + 0.587 + 0.114) + 0.0 + 0.299 * 255 + 0.114 * 255) /
        4 / 255.0
    assert(math.abs(m.mean_luma - expected) < 1e-12,
      s"luma ${m.mean_luma} != $expected")
  }

  test("multimodal resize: REAL png round-trip re-encodes at the target size") {
    import spark.implicits._
    val png = pngBytes(Array.fill(4)(Array.fill(6)(0x336699)))
    val media = Seq((9L, png)).toDF("doc_id", "payload")
    val Array(r) = Multimodal.resize(media, 3, 2).collect()
    assert(r.decoded && r.target_w == 3 && r.target_h == 2)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth == 3 && back.getHeight == 2)
    // uniform input resamples to the same uniform color
    assert((back.getRGB(1, 1) & 0xFFFFFF) == 0x336699)
  }

  // --- Text: repetition / entropy / packing; Quantize -----------------------

  test("text repetition: map-side run-length fold equals the explode+groupBy count, zero shuffle of tokens") {
    import spark.implicits._
    val df = Text.queries("q_text_repetition")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // independent recompute of the max token multiplicity per doc (the
    // oracle's explode+groupBy path, here in Spark) must agree with the
    // op's sorted-array fold for every doc
    val viaExplode = graft.Tables.t(spark, sfDir, "documents")
      .withColumn("toks", split(lower($"text"), " "))
      .select($"doc_id", size($"toks").as("n"), explode($"toks").as("t"))
      .groupBy($"doc_id", $"n", $"t").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n").agg(max($"c").as("top"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("top").toDouble / r.getAs[Int]("n"))).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val frac = r.getAs[Double]("top_token_frac")
      assert(math.abs(frac - BigDecimal(viaExplode(id)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"doc $id fold/explode disagree")
      assert(r.getAs[Int]("n_bigrams") == r.getAs[Int]("n_tokens") - 1)
      val dup = r.getAs[Double]("dup_bigram_frac")
      assert(dup >= 0.0 && dup <= 1.0)
      assert(r.getAs[Double]("top_bigram_frac") > 0.0)
    }
    // both keep outcomes occur on the corpus (thresholds are live)
    assert(rows.exists(_.getAs[Boolean]("keep")) )
  }

  test("text entropy: bounded by ln(distinct) and matches a driver-side recompute") {
    val rows = Text.queries("q_text_entropy")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val texts = graft.Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "lower(text) as txt").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("txt")).toMap
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy_nats")
      val nd = r.getAs[Int]("n_distinct_chars")
      assert(h >= 0.0 && h <= math.log(nd) + 1e-6,
        s"entropy $h outside [0, ln($nd)]")
      // independent per-doc recompute (plain Scala fold)
      val txt = texts(r.getAs[Long]("doc_id"))
      val counts = txt.groupBy(identity).view.mapValues(_.length.toDouble)
      val n = txt.length.toDouble
      val ref = math.log(n) - counts.values.map(c => c * math.log(c)).sum / n
      assert(math.abs(h - ref) < 1e-5, s"doc ${r.getAs[Long]("doc_id")}: $h vs $ref")
    }
  }

  test("pack sequences: tokens and docs are conserved, seq ids contiguous per shard") {
    import spark.implicits._
    val rows = Text.packSequences(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totalTokens = graft.Tables.t(spark, sfDir, "documents")
      .select(sum(size(split(lower($"text"), " ")).cast("long")))
      .head.getLong(0)
    assert(rows.map(_.getAs[Long]("seq_tokens")).sum == totalTokens,
      "packing must conserve every token")
    val nDocs = graft.Tables.t(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.groupBy(r => (r.getAs[String]("split"), r.getAs[Int]("shard")))
      .foreach { case (_, rs) =>
        val ids = rs.map(_.getAs[Int]("seq_id")).sorted.toList
        assert(ids == (0 until ids.length).toList,
          "sequence ids must be contiguous from 0 within each (split, shard)")
      }
    // determinism: second run produces the identical packing
    val again = Text.packSequences(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("embed quantize: q in [-127,127], reconstruction error within the 0.5/scale bound, map-only plan") {
    val df = Quantize.quantizeQ(spark, sfDir)
    // pure-map claim: no shuffle exchange anywhere (TakeOrdered gathers
    // per-partition top-k without an exchange node)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"quantization must be map-only:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qmin = r.getAs[Int]("q_min"); val qmax = r.getAs[Int]("q_max")
      assert(qmin >= -127 && qmax <= 127, s"q out of int8 range: [$qmin,$qmax]")
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_err")
      // max_err is reported rounded to 6 decimals (may round UP by 5e-7),
      // so the half-step bound carries that slack scaled by `scale`
      assert(err * scale <= 0.5 + scale * 5e-7 + 1e-6,
        s"reconstruction error $err exceeds half-step bound at scale $scale")
      assert(r.getAs[Long]("q_abs_sum") > 0)
    }
  }

  test("knnGraph: twins are edges, no self-edges, at most k per node, deterministic") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextGaussian().toFloat)
    }
    val rows = (0L until 40L).map(i => (i, vec(i.toInt))) ++
      Seq((100L, vec(3)), (101L, vec(7))) // exact twins of 3 and 7
    val e = Similarity.widened(rows.toDF("vec_id", "embedding"))
    val g = Similarity.knnGraph(e, k = 5)
    val edges = g.select($"query_id", $"vec_id", $"rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(!edges.exists(t => t._1 == t._2), "no self-edges")
    val perNode = edges.groupBy(_._1).view.mapValues(_.length)
    assert(perNode.values.forall(_ <= 5), "at most k edges per node")
    // exact twins must be each other's rank-1 neighbor
    val rank1 = edges.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    assert(rank1(3L) == 100L && rank1(100L) == 3L)
    assert(rank1(7L) == 101L && rank1(101L) == 7L)
    // deterministic: identical second run
    val again = Similarity.knnGraph(e, k = 5)
      .select($"query_id", $"vec_id", $"rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(edges.sorted.sameElements(again.sorted))
  }

  test("adaptiveBits: historical width at fixture scale, occupancy held constant beyond it") {
    // ≤ 2560 vectors (40 × 2^6) must reproduce the historical 6-bit
    // width — oracle output and sf0.1 bench bands depend on it
    assert(Seq(1L, 200L, 2400L, 2560L).forall(Similarity.adaptiveBits(_) == 6))
    // beyond the fixtures: bucket count doubles when the corpus does,
    // expected occupancy stays ≤ TargetOccupancy (linear candidates)
    assert(Similarity.adaptiveBits(24000L) == 10)
    Seq(5000L, 24000L, 240000L, 2400000L).foreach { n =>
      val b = Similarity.adaptiveBits(n)
      assert(n.toDouble / (1L << b) <= Similarity.TargetOccupancy,
        s"occupancy exceeds target at n=$n bits=$b")
      assert(b >= 6)
    }
    // monotone: more data never means fewer buckets
    val widths = Seq(1000L, 10000L, 100000L, 1000000L, 10000000L)
      .map(n => Similarity.adaptiveBits(n))
    assert(widths == widths.sorted)
    // the kNN-graph target is strictly tighter: never fewer bits
    Seq(2400L, 24000L, 240000L).foreach { n =>
      assert(Similarity.adaptiveBits(n, Similarity.KnnTargetOccupancy)
        >= Similarity.adaptiveBits(n))
    }
  }

  test("substringSpans: shared passages found exactly, short overlaps dropped, case-folded") {
    import spark.implicits._
    val shared = ("the quick brown fox jumps over the lazy dog " * 3).take(100)
    val short79 = ("not long enough to report as duplicated span " * 2).take(79)
    val docs = Seq(
      (1L, "a" * 50 + shared + "c" * 30),
      (2L, "b" * 50 + shared.toUpperCase + "d" * 30), // case-folds to a match
      (3L, "e" * 200),                                // no cross-doc content
      (4L, "f" * 20 + short79 + "g" * 20),
      (5L, "h" * 20 + short79 + "i" * 20)             // 79 < 2k — not reported
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, k = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 51L, 100L), (2L, 51L, 100L)),
      s"expected exactly the two 100-char shared spans, got $spans")
  }

  test("text chunk: full coverage, exact overlap, reassembly, map-only plan") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").limit(50)
    val size = 32
    val overlap = 8
    val stride = size - overlap
    val chunks = Text.chunk(docs, size, overlap)
    // every char covered: chunk i starts at i*stride+1; strip the overlap
    // from every chunk but the first and the concatenation is the document
    val glued = chunks
      .withColumn("piece",
        when($"chunk_id" === 0, $"chunk")
          .otherwise($"chunk".substr(lit(overlap + 1), lit(stride))))
      .groupBy($"doc_id")
      // collect_list has no order guarantee — sort the structs by chunk_id
      .agg(array_join(transform(array_sort(
        collect_list(struct($"chunk_id", $"piece"))),
        x => x.getField("piece")), "").as("glued"))
    val bad = glued.join(docs, "doc_id").filter($"glued" =!= $"text")
    assert(bad.isEmpty, "overlap-stripped chunks must reassemble the text")
    // consecutive chunks share exactly `overlap` chars
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"chunk_id")
    val mism = chunks
      .withColumn("nxt", lead($"chunk", 1).over(w))
      .filter($"nxt".isNotNull)
      .filter($"nxt".substr(lit(1), lit(overlap)) =!=
        $"chunk".substr(lit(stride + 1), lit(overlap)))
    assert(mism.isEmpty, "adjacent chunks must agree on the overlap region")
    // chunking itself is exchange-free (pure flatMap over the scan)
    val shuffles = Text.chunk(docs, size, overlap)
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(shuffles.isEmpty, "chunking must not shuffle")
  }

  // --- Incremental dedup / BM25 / BPE ---------------------------------------

  test("dedup incremental: every batch doc rediscovers its corpus original at J=1") {
    import spark.implicits._
    val matches = Dedup.incrementalQ(spark, sfDir).cache()
    val rows = matches.collect()
    // every match crosses batch -> corpus and clears the threshold
    rows.foreach { r =>
      assert(r.getAs[Long]("new_id") >= 2000000L)
      assert(r.getAs[Long]("corpus_id") < 2000000L)
      assert(r.getAs[Double]("jaccard") >= 0.8)
    }
    // each re-crawled doc with >= 3 tokens must match its own original exactly
    val expected = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" % 10 === 0)
      .filter(size(split(lower($"text"), " ")) >= 3)
      .select($"doc_id").as[Long].collect().toSet
    val selfPairs = rows.filter(r =>
      r.getAs[Long]("new_id") - 2000000L == r.getAs[Long]("corpus_id"))
    assert(selfPairs.map(_.getAs[Long]("corpus_id")).toSet == expected)
    selfPairs.foreach(r => assert(r.getAs[Double]("jaccard") == 1.0))
    matches.unpersist()
  }

  test("dedup incremental: the corpus band index is built once and reused across invocations") {
    // the artifact contract: a second batch against the same corpus dir
    // must NOT re-run the corpus pass (at 100 TB that pass is the whole
    // point of persisting the index)
    val first = Dedup.incrementalQ(spark, sfDir).collect()
    val buildsAfterFirst = Dedup.BandIndex.builds
    val second = Dedup.incrementalQ(spark, sfDir).collect()
    assert(Dedup.BandIndex.builds == buildsAfterFirst,
      "second invocation rebuilt the corpus band index")
    assert(first.toSeq == second.toSeq,
      "index reuse changed the match result")
  }

  test("bm25: scores are positive and non-increasing, and the rare term dominates the head") {
    import spark.implicits._
    val rows = Text.bm25(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // the rare query term's idf (~ln 19) dwarfs the common terms' (~0.25),
    // so the top-ranked hit must be a 'dup'-bearing document
    val dupDocs = graft.Tables.t(spark, sfDir, "documents")
      .filter($"text".contains("dup")).select($"doc_id").as[Long].collect().toSet
    assert(dupDocs.contains(rows.head.getAs[Long]("doc_id")))
    // every ranked doc contains at least one query term
    val hits = graft.Tables.t(spark, sfDir, "documents")
      .filter($"text".contains("dup") || $"text".contains("vector") ||
        $"text".contains("spark"))
      .select($"doc_id").as[Long].collect().toSet
    rows.foreach(r => assert(hits.contains(r.getAs[Long]("doc_id"))))
  }

  test("bpe pairs: vocabulary-collapsed counts equal a direct per-token recount") {
    import spark.implicits._
    val got = Text.bpePairs(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getAs[String]("pair").length == 2))
    val occ = got.map(r => r.getAs[String]("pair") -> r.getAs[Long]("n_occurrences")).toMap
    // independent plan: explode every token OCCURRENCE (no vocab collapse),
    // then count pair positions directly — must agree exactly
    val direct = graft.Tables.t(spark, sfDir, "documents")
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    occ.foreach { case (p, n) => assert(direct(p) == n, s"pair $p") }
  }

  test("bm25 plan: df/stats dimensions broadcast and the term filter precedes the tf aggregate") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = Text.bm25(spark, sfDir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bcasts = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    // df join + dl join or stats cross join — at least the two hinted ones
    assert(bcasts.size >= 2, s"expected broadcast dims, got:\n$plan")
    // no sort-merge join anywhere: nothing in this query should exchange both sides
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "bm25 must not sort-merge join")
  }

  test("source matrix: cells cover exactly the near-dup pairs and never shuffle documents") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    // plan proof for the name's claim: both pair-list joins against the
    // documents scan are broadcast, so no sort-merge join ever
    // exchanges document rows on a join key
    val q = Dedup.sourceMatrixQ(spark, sfDir)
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(smj.isEmpty, s"documents must join via broadcast only:\n$plan")
    val bhj = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2, s"expected two broadcast pair joins:\n$plan")
    val cells = q.cache()
    val total = cells.agg(sum($"n_pairs")).as[Long].head()
    assert(total == Dedup.near(spark, sfDir).count(),
      "matrix total must equal the verified pair count")
    cells.collect().foreach { r =>
      assert(r.getAs[String]("source_x") <= r.getAs[String]("source_y"))
      assert(r.getAs[Long]("n_pairs") >= 1L)
    }
    cells.unpersist()
  }

  test("novelty: near-dup docs score near 1, and shared counts are bounded by shingle counts") {
    import spark.implicits._
    val rows = Text.novelty(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_shingles"))
      val f = r.getAs[Double]("shared_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
    val frac = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("shared_frac")).toMap
    // every verified near-dup (J >= 0.8) shares >= 80% of its shingles by definition
    Dedup.near(spark, sfDir).collect().foreach { p =>
      Seq(p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b")).foreach { id =>
        frac.get(id).foreach(f => assert(f >= 0.8, s"doc $id frac $f"))
      }
    }
  }

  test("misra-gries: guarantee holds under any partitioning and the verified output is partition-invariant") {
    import spark.implicits._
    val k = 8
    // skewed synthetic stream: items h0..h2 hot, t0..t96 long tail
    val stream = (0 until 3).flatMap(i => Seq.fill(400)(s"h$i")) ++
      (0 until 97).flatMap(i => Seq.fill(4)(s"t$i"))
    val n = stream.size
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val heavy = exact.filter(_._2 > n.toDouble / (k + 1)).keySet
    for (parts <- Seq(1, 7, 32)) {
      val ds = spark.createDataset(stream).repartition(parts)
      val mg = HeavyHitters.sketch(ds, k).as[Map[String, Long]].head()
      assert(mg.size <= k)
      // no false negatives: every true heavy hitter survives the merges
      heavy.foreach(h => assert(mg.contains(h), s"parts=$parts missing $h"))
      // counters are lower bounds with error <= n/(k+1)
      mg.foreach { case (t, c) =>
        assert(c <= exact(t), s"parts=$parts $t overcounted")
        assert(exact(t) - c <= n.toDouble / (k + 1), s"parts=$parts $t error")
      }
    }
    // the oracle-facing query (sketch + exact confirmation) is deterministic
    val out = HeavyHitters.tokensQ(spark, sfDir).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n_occurrences")))
    assert(out.nonEmpty)
    assert(out.map(_._1).toSet.intersect(Set("dup")).isEmpty,
      "rare markers must fall under the threshold")
  }

  test("lm score: matches an independent driver-side bigram-model recompute") {
    import spark.implicits._
    val got = Text.lmScore(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("cross_entropy"))).toMap
    assert(got.nonEmpty)
    // independent model fit in plain Scala over the collected corpus
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    val tokens = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val uni = tokens.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val bi = tokens.flatMap { case (_, ts) => ts.zip(ts.tail) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val v = uni.size.toDouble
    tokens.filter(_._2.size >= 2).foreach { case (id, ts) =>
      val lps = ts.zip(ts.tail).map { p =>
        BigDecimal(math.log((bi(p) + 1.0) / (uni(p._1) + v)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      val ce = BigDecimal(-(lps.sum.toDouble) / lps.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      got.get(id).foreach { case (n, gotCe) => // ids past the LIMIT 300 cut are absent
        assert(n == lps.size, s"doc $id bigram count")
        assert(math.abs(gotCe - ce) <= 1e-6, s"doc $id ce $gotCe vs $ce")
      }
    }
  }

  test("zipf: slope is non-positive and matches a driver-side least-squares recompute") {
    import spark.implicits._
    val row = Text.zipfQ(spark, sfDir).collect().head
    val (n, slope, intercept) = (row.getAs[Long]("n_ranks"),
      row.getAs[Double]("slope"), row.getAs[Double]("intercept"))
    assert(n >= 2)
    assert(slope <= 0.0, "frequency cannot increase with rank")
    // recompute from the raw token stream with plain doubles; the
    // decimal-contract result must agree to well inside rounding noise
    val counts = graft.Tables.t(spark, sfDir, "documents")
      .select(lower($"text")).as[String].collect()
      .flatMap(_.split(" ", -1)).groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
    val xy = counts.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val m = xy.size.toDouble
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val expSlope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    assert(n == xy.size)
    assert(math.abs(slope - expSlope) <= 1e-5, s"$slope vs $expSlope")
    assert(math.abs(intercept - (sy - expSlope * sx) / m) <= 1e-5)
  }

  test("confusion matrix: cells cover the corpus and per-lang fractions sum to 1") {
    val rows = Text.confusionQ(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.Tables.t(spark, sfDir, "documents").count())
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, cells) =>
      val fsum = cells.map(_.getAs[Double]("frac")).sum
      assert(math.abs(fsum - 1.0) <= 2e-6 * cells.length, s"$lang frac sum $fsum")
      assert(cells.map(_.getAs[String]("guess")).distinct.length == cells.length)
    }
  }

  test("ngram contamination: covers exactly the test split and matches a driver recount") {
    import spark.implicits._
    val rows = Dedup.contaminationNgramQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // driver-side recount of the same 8-gram overlap
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", lower($"text").as("txt")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    def grams(txt: String): Set[String] = {
      val toks = txt.split(" ", -1)
      if (toks.length < 8) Set.empty
      else (0 to toks.length - 8).map(i =>
        toks.slice(i, i + 8).mkString(" ")).toSet
    }
    val trainGrams = docs.filter(d => splitOf(d._1) == "train")
      .flatMap(d => grams(d._2)).toSet
    val testDocs = docs.filter(d =>
      splitOf(d._1) == "test" && grams(d._2).nonEmpty)
    assert(rows.length == testDocs.length)
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    testDocs.foreach { case (id, txt) =>
      val g = grams(txt)
      val shared = g.count(trainGrams)
      val r = byId(id)
      assert(r.getAs[Long]("n_grams") == g.size, s"doc $id grams")
      assert(r.getAs[Long]("n_shared") == shared, s"doc $id shared")
      assert(r.getAs[Long]("shared_bp") == 10000L * shared / g.size)
    }
    // the fixture's seeded near-dups must leak at least one gram
    assert(rows.map(_.getAs[Long]("n_shared")).sum > 0)
  }

  test("containment: bounds hold, rare-gram blocking covers the exact all-pairs answer") {
    import spark.implicits._
    val rows = Dedup.containmentQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_common") <= r.getAs[Long]("min_size"))
      val bp = r.getAs[Long]("containment_bp")
      assert(bp >= 9000 && bp <= 10000)
    }
    // exact all-pairs recompute over the same shingle sets
    val sets = graft.Tables.t(spark, sfDir, "documents")
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= 3)
      .select($"doc_id", expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))))")
        .as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      ms = math.min(sa.size, sb.size)
      if ms > 0 && 10000L * inter / ms >= 9000
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet == expected, "blocking missed or invented a pair")
  }

  test("norm dedup: catches every planted case/whitespace variant that byte dedup misses") {
    import spark.implicits._
    val rows = Dedup.normDedupQ(spark, sfDir).collect()
    val planted = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" % 7 === 0).count()
    assert(rows.length == planted, s"${rows.length} groups vs $planted planted")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_copies") == 2L)
      // two RAW byte forms per group — byte-exact dedup would not merge
      assert(r.getAs[Long]("n_raw_forms") == 2L)
      assert(r.getAs[Long]("keep_id") < 3000000L, "original id wins")
    }
  }

  test("ctfidf: weights match a driver recompute and each source gets exactly 5 ranked terms") {
    import spark.implicits._
    val rows = Colloc.ctfidfQ(spark, sfDir).collect()
    val toks = graft.Tables.t(spark, sfDir, "documents")
      .select($"source", lower($"text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(t => (r.getString(0), t)))
    val nSources = toks.map(_._1).distinct.length
    val avgClass = toks.length.toDouble / nSources
    val f = toks.groupBy(_._2).view.mapValues(_.length).toMap
    val tf = toks.groupBy(identity).view.mapValues(_.length).toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.length == 5)
      assert(rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Int]("rk")).toSeq == (1 to 5))
      rs.foreach { r =>
        val term = r.getAs[String]("term")
        assert(r.getAs[Long]("tf") == tf((src, term)).toLong)
        val w = tf((src, term)) * math.log(1.0 + avgClass / f(term))
        assert(math.abs(r.getAs[Double]("ctfidf") - w) < 1e-5,
          s"$src/$term: ${r.getAs[Double]("ctfidf")} vs $w")
      }
      // weights are non-increasing in rank
      val ws = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("ctfidf"))
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bpe train: the three learned merges equal a JVM reference trainer") {
    import spark.implicits._
    val got = Text.bpeTrainQ(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("round"))
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("pair_count")))
    // reference: greedy BPE over the collected vocabulary
    val vocab = graft.Tables.t(spark, sfDir, "documents")
      .select(lower($"text")).as[String].collect()
      .flatMap(_.split(" ", -1)).filter(_.matches("^[a-z]+$"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var seqs: Map[Vector[String], Long] = vocab.toSeq
      .map { case (w, c) => (w.map(_.toString).toVector :+ "</w>") -> c }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expect = (1 to 3).map { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      seqs.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + c) }
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, s"$a $b") }
      val (pa, pb) = best._1
      // left-greedy application of the merge to every sequence
      seqs = seqs.toSeq.map { case (syms, c) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
            out += pa + pb; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result() -> c
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (s"$pa $pb", best._2)
    }
    assert(got.toSeq == expect.toSeq, s"${got.toSeq} vs ${expect.toSeq}")
  }

  test("heaps: cumulatives are monotone, totals reconcile, beta matches a driver fit") {
    import spark.implicits._
    val rows = Text.heapsQ(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("checkpoint"))
    assert(rows.nonEmpty && rows.length <= 16)
    val nts = rows.map(_.getAs[Long]("n_toks_cum"))
    val vs = rows.map(_.getAs[Long]("vocab_cum"))
    assert(nts.zip(nts.tail).forall { case (a, b) => a <= b })
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b })
    // the last checkpoint covers the whole corpus
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select(lower($"text")).as[String].collect()
    val allToks = docs.flatMap(_.split(" ", -1))
    assert(nts.last == allToks.length.toLong)
    assert(vs.last == allToks.distinct.length.toLong)
    // vocabulary can't exceed tokens; growth exponent is sublinear-ish
    rows.foreach(r => assert(r.getAs[Long]("vocab_cum") <=
      r.getAs[Long]("n_toks_cum")))
    // the synthetic corpus draws from a tiny closed vocabulary, so V(n)
    // saturates almost immediately and beta legitimately fits ~0; on
    // natural text it lands in the 0.4-0.6 band
    val beta = rows.head.getAs[Double]("beta")
    assert(beta >= 0.0 && beta <= 1.0, s"beta $beta")
    // driver-side plain-double fit over the same 16 grid points
    val xy = nts.zip(vs).map { case (n, v) =>
      (math.log(n.toDouble), math.log(v.toDouble)) }
    val m = xy.length.toDouble
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val expBeta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    assert(math.abs(beta - expBeta) <= 1e-5, s"$beta vs $expBeta")
    assert(math.abs(rows.head.getAs[Double]("k_fit") -
      math.exp((sy - expBeta * sx) / m)) <= 1e-4)
  }

  test("runs test: two-level day decomposition equals a sequential global scan") {
    import spark.implicits._
    val r = graft.ops.Stats.runsQ(spark, sfDir).collect().head
    val seq = graft.Tables.t(spark, sfDir, "events")
      .select($"ts", $"event_id", ($"event_type" === "click").cast("int"))
      .collect().map(w => (w.getTimestamp(0), w.getLong(1), w.getInt(2)))
      .sortBy(t => (t._1.getTime, t._2)).map(_._3)
    val runs = 1 + seq.zip(seq.tail).count { case (a, b) => a != b }
    val n = seq.length.toLong
    val n1 = seq.count(_ == 1).toLong
    assert(r.getAs[Long]("n") == n)
    assert(r.getAs[Long]("n1") == n1)
    assert(r.getAs[Long]("n2") == n - n1)
    assert(r.getAs[Long]("runs") == runs.toLong,
      s"two-level ${r.getAs[Long]("runs")} vs sequential $runs")
    val mu = 1.0 + 2.0 * n1 * (n - n1) / n
    val s2 = 2.0 * n1 * (n - n1) * (2.0 * n1 * (n - n1) - n) /
      (n.toDouble * n * (n - 1))
    assert(math.abs(r.getAs[Double]("z") - (runs - mu) / math.sqrt(s2)) < 1e-5)
  }

  test("pcm: parsed-from-binary statistics equal the generative formula") {
    val rows = Multimodal.pcmQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val smp = (0 until 64).map(k => ((id * 31 + 7L * k * k) % 2048) - 1024)
      assert(r.getAs[Long]("data_bytes") == 128L)
      assert(r.getAs[Long]("sum_sq") == smp.map(x => x * x).sum)
      assert(r.getAs[Long]("peak_abs") == smp.map(math.abs).max)
      val zc = smp.zip(smp.tail).count { case (a, b) => (a >= 0) != (b >= 0) }
      assert(r.getAs[Long]("zero_cross") == zc.toLong)
      assert(math.abs(r.getAs[Double]("rms") -
        math.sqrt(smp.map(x => x * x).sum.toDouble / 64)) < 1e-5)
    }
  }

  test("mp4: box walk recovers planted container metadata; layout matches hand-built golden bytes") {
    val rows = Multimodal.mp4Q(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("parsed") == 1L, s"doc $id failed the 4CC walk")
      assert(r.getAs[Long]("ftyp_size") == 16 + 4 * (1 + id % 3))
      assert(r.getAs[Long]("n_brands") == 1 + id % 3)
      assert(r.getAs[Long]("timescale") == 600 + id % 1000)
      assert(r.getAs[Long]("duration") == 600 + (id * 13) % 90000)
      assert(math.abs(r.getAs[Double]("duration_s") -
        BigDecimal((600 + (id * 13) % 90000).toDouble / (600 + id % 1000))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // golden bytes: independently hand-build the structure for one doc
    // and check the SAME walk a standards-compliant reader would do
    val id = rows.head.getAs[Long]("doc_id")
    val bb = java.nio.ByteBuffer.allocate(256)
    val brands = Seq("isom", "mp41", "mp42").take(1 + (id % 3).toInt)
    bb.putInt(16 + 4 * brands.length).put("ftyp".getBytes)
      .put("isom".getBytes).putInt(512)
    brands.foreach(b => bb.put(b.getBytes))
    bb.putInt(116).put("moov".getBytes)
      .putInt(108).put("mvhd".getBytes).putInt(0)
      .putInt(0).putInt(0)
      .putInt((600 + id % 1000).toInt).putInt((600 + (id * 13) % 90000).toInt)
      .put(new Array[Byte](80))
    val golden = java.util.Arrays.copyOf(bb.array(), bb.position())
    // walk the golden bytes: size field locates moov, fields at spec offsets
    val buf = java.nio.ByteBuffer.wrap(golden)
    val fsz = buf.getInt(0)
    assert(new String(golden, 4, 4) == "ftyp")
    assert(new String(golden, fsz + 4, 4) == "moov")
    assert(new String(golden, fsz + 12, 4) == "mvhd")
    assert(buf.getInt(fsz + 8 + 20) == (600 + id % 1000).toInt)
    assert(buf.getInt(fsz + 8 + 24) == (600 + (id * 13) % 90000).toInt)
  }

  test("pixels: gradient PNG decode recovers every channel sum and histogram bin exactly") {
    val rows = Multimodal.pixelsQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h) = ((8 + id % 13).toInt, (8 + id % 11).toInt)
      val px = for { x <- 0 until w; y <- 0 until h } yield
        (((37 * id + 5 * x + 3 * y) % 256).toInt,
          ((59 * id + 7 * x + y) % 256).toInt,
          ((83 * id + x + 11 * y) % 256).toInt)
      assert(r.getAs[Long]("n_px") == w.toLong * h)
      assert(r.getAs[Long]("sum_r") == px.map(_._1.toLong).sum)
      assert(r.getAs[Long]("sum_g") == px.map(_._2.toLong).sum)
      assert(r.getAs[Long]("sum_b") == px.map(_._3.toLong).sum)
      val hist = px.groupBy(_._1 / 64).view.mapValues(_.size.toLong).toMap
      (0 to 3).foreach(b => assert(
        r.getAs[Long](s"h$b") == hist.getOrElse(b, 0L), s"doc $id bin $b"))
      assert(math.abs(r.getAs[Double]("mean_r") -
        px.map(_._1.toLong).sum.toDouble / (w * h)) < 1e-5)
    }
  }

  test("snr: signal/noise powers match the planted-waveform replay; snr positive by construction") {
    val rows = Multimodal.snrQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val smp = (0 until 128).map { k =>
        if (((k / 32) + id) % 2 == 0) (id + k) % 9 - 4
        else (id * 31 + 7L * k * k) % 2048 - 1024
      }
      val fsq = (0 until 4).map(f =>
        (0 until 32).map(i => smp(f * 32 + i) * smp(f * 32 + i)).sum)
      val gate = 32L * 64 * 64
      val act = fsq.filter(_ >= gate); val qt = fsq.filter(_ < gate)
      assert(r.getAs[Long]("n_active_frames") == act.length)
      assert(r.getAs[Long]("n_quiet_frames") == qt.length)
      assert(r.getAs[Long]("p_signal") == act.sum)
      assert(r.getAs[Long]("p_noise") == qt.sum)
      val snr = 10.0 * math.log((act.sum.toDouble / act.length) /
        (qt.sum.toDouble / qt.length)) / math.log(10.0)
      assert(math.abs(r.getAs[Double]("snr_db") - r6(snr)) < 1e-9)
      assert(r.getAs[Long]("n_near_clip") ==
        smp.count(x => math.abs(x) >= 1000))
      // loud frames swing +/-1024, quiet +/-4: SNR must be strongly positive
      assert(r.getAs[Double]("snr_db") > 20.0, s"doc $id snr")
    }
  }

  test("histcmp: luma histograms and pair measures match the gradient-formula replay") {
    val rows = Multimodal.histcmpQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def histOf(id: Long): (Long, Array[Long]) = {
      val (w, h) = ((8 + id % 13).toInt, (8 + id % 11).toInt)
      val bins = new Array[Long](8)
      for { x <- 0 until w; y <- 0 until h } {
        val r = ((37 * id + 5 * x + 3 * y) % 256).toInt
        val g = ((59 * id + 7 * x + y) % 256).toInt
        val b = ((83 * id + x + 11 * y) % 256).toInt
        bins(((r + g + b) / 3) / 32) += 1
      }
      (w.toLong * h, bins)
    }
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val (na, ha) = histOf(r.getAs[Long]("doc_a"))
      val (nb, hb) = histOf(r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_px_a") == na && r.getAs[Long]("n_px_b") == nb)
      val inter = (0 to 7).map(i =>
        math.min(ha(i).toDouble / na, hb(i).toDouble / nb)).sum
      val chi2 = (0 to 7).map { i =>
        if (ha(i) + hb(i) == 0) 0.0
        else {
          val (pa, pb) = (ha(i).toDouble / na, hb(i).toDouble / nb)
          (pa - pb) * (pa - pb) / (pa + pb)
        }
      }.sum
      assert(math.abs(r.getAs[Double]("intersection") - r6(inter)) < 1e-6)
      assert(math.abs(r.getAs[Double]("chi2_dist") - r6(chi2)) < 1e-6)
      // measure identities: intersection in [0,1], chi2 in [0,2]
      val iv = r.getAs[Double]("intersection")
      assert(iv >= 0.0 && iv <= 1.0 + 1e-9)
      assert(r.getAs[Double]("chi2_dist") >= 0.0 &&
        r.getAs[Double]("chi2_dist") <= 2.0 + 1e-9)
    }
  }

  test("frames: every animated-GIF frame decodes to its planted color, in order") {
    import spark.implicits._
    val rows = Multimodal.framesQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = (2 + id % 3).toInt
      assert(r.getAs[Long]("n_frames") == n, s"doc $id frame count")
      assert(r.getAs[Long]("w") == 4 + id % 5)
      assert(r.getAs[Long]("h") == 4 + id % 3)
      def luma(f: Int): Long =
        (((37 * id + 11 * f) % 256) + ((59 * id + 7 * f) % 256) +
          ((83 * id + 3 * f) % 256)) / 3
      assert(r.getAs[Long]("first_luma") == luma(0))
      assert(r.getAs[Long]("last_luma") == luma(n - 1))
      assert(r.getAs[Long]("sum_luma") == (0 until n).map(luma).sum)
    }
    // exhaustive per-frame decode of one payload: every frame, every
    // ordered position — stronger than the first/last/sum the query pins
    val (id, bytes) = Multimodal.plantedGifs(spark, sfDir)
      .orderBy($"doc_id").limit(1)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).head
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    reader.setInput(iis)
    val n = reader.getNumImages(true)
    (0 until n).foreach { f =>
      val im = reader.read(f)
      val rgb = im.getRGB(0, 0)
      assert(((rgb >> 16) & 0xff) == ((37 * id + 11 * f) % 256).toInt, s"f$f r")
      assert(((rgb >> 8) & 0xff) == ((59 * id + 7 * f) % 256).toInt, s"f$f g")
      assert((rgb & 0xff) == ((83 * id + 3 * f) % 256).toInt, s"f$f b")
      // solid frame: corner pixel equals the center pixel
      assert(im.getRGB(im.getWidth - 1, im.getHeight - 1) == rgb)
    }
    reader.dispose(); iis.close()
  }

  test("sharpness: horizontal gradient mass equals the per-pixel formula recompute") {
    val rows = Multimodal.sharpnessQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h) = ((8 + id % 13).toInt, (8 + id % 11).toInt)
      def luma(x: Int, y: Int): Int =
        ((((37 * id + 5 * x + 3 * y) % 256) +
          ((59 * id + 7 * x + y) % 256) +
          ((83 * id + x + 11 * y) % 256)) / 3).toInt
      val diffs = for { y <- 0 until h; x <- 0 until w - 1 }
        yield math.abs(luma(x + 1, y) - luma(x, y)).toLong
      assert(r.getAs[Long]("n_px") == w.toLong * h)
      assert(r.getAs[Long]("n_pairs") == (w - 1).toLong * h)
      assert(r.getAs[Long]("grad_sum") == diffs.sum, s"doc $id grad")
      assert(r.getAs[Long]("edge_count") == diffs.count(_ >= 32))
      assert(r.getAs[Long]("grad_mean_bp") ==
        10000 * diffs.sum / ((w - 1).toLong * h))
      assert(r.getAs[Long]("edge_bp") ==
        10000 * diffs.count(_ >= 32) / ((w - 1).toLong * h))
    }
  }

  test("resize: 4x4 block-mean thumbnail equals the per-pixel formula recompute") {
    val rows = Multimodal.resizeQ(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length % 16 == 0)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, blocks) =>
      assert(blocks.length == 16, s"doc $id block count")
      val (w, h) = ((8 + id % 13).toInt, (8 + id % 11).toInt)
      assert(blocks.map(_.getAs[Long]("n_px")).sum == w.toLong * h,
        s"doc $id blocks partition the image")
      val sums = Array.ofDim[Long](4, 4)
      val cnts = Array.ofDim[Long](4, 4)
      for (x <- 0 until w; y <- 0 until h) {
        val luma = (((37 * id + 5 * x + 3 * y) % 256)
          + ((59 * id + 7 * x + y) % 256)
          + ((83 * id + x + 11 * y) % 256)) / 3
        sums(y * 4 / h)(x * 4 / w) += luma
        cnts(y * 4 / h)(x * 4 / w) += 1
      }
      blocks.foreach { b =>
        val (by, bx) = (b.getAs[Long]("by").toInt, b.getAs[Long]("bx").toInt)
        assert(b.getAs[Long]("n_px") == cnts(by)(bx), s"doc $id ($by,$bx) count")
        assert(b.getAs[Long]("mean_luma") == sums(by)(bx) / cnts(by)(bx),
          s"doc $id ($by,$bx) mean")
      }
    }
  }

  test("dedup image: brightness-shifted pairs share a dHash but differ in bytes") {
    import spark.implicits._
    val clusters = Multimodal.dedupImageQ(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("b0"), r.getAs[Long]("b1"),
        r.getAs[Long]("b2"), r.getAs[Long]("b3")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("lo_doc"),
          r.getAs[Long]("hi_doc"))).toMap
    assert(clusters.nonEmpty, "planted pairs must cluster")
    // driver recompute of the closed-form dHash per sampled doc
    val planted = Multimodal.plantedGradients(spark, sfDir)
      .select($"doc_id".as[Long], $"payload").collect()
    def dhash(id: Long): (Long, Long, Long, Long) = {
      val grp = id / 20; val vr = (id / 10) % 2
      def v(x: Int, y: Int) = (grp * 31 + x * 17 + y * 7 + x * y) % 200 + vr * 3
      val b = new Array[Long](4)
      for (y <- 0 until 8; x <- 0 until 8)
        if (v(x + 1, y) > v(x, y)) { val i = y * 8 + x; b(i / 16) |= 1L << (i % 16) }
      (b(0), b(1), b(2), b(3))
    }
    val ids = planted.map(_.getAs[Long]("doc_id"))
    val expected = ids.groupBy(dhash).filter(_._2.length >= 2)
      .map { case (h, ds) => h -> (ds.length.toLong, ds.min, ds.max) }
    assert(clusters == expected, "clusters must equal the closed-form recompute")
    // the +3 brightness variant shares its partner's hash...
    val byGrp = ids.groupBy(_ / 20).filter(_._2.length == 2)
    assert(byGrp.nonEmpty, "fixture must contain paired groups")
    byGrp.foreach { case (g, pair) =>
      assert(dhash(pair.min) == dhash(pair.max), s"group $g pair hash")
    }
    // ...but its payload BYTES differ — exact (sha) dedup would miss it
    val payloads = planted.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("payload")).toMap
    byGrp.take(5).foreach { case (_, pair) =>
      assert(!java.util.Arrays.equals(payloads(pair.min), payloads(pair.max)),
        "variant payload bytes must differ")
    }
  }

  test("dedup image hamming: band recall is exhaustive below threshold; planted variants pair up") {
    import spark.implicits._
    val got = Multimodal.dedupImageHammingQ(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    val ids = Multimodal.plantedGradients3(spark, sfDir)
      .select($"doc_id".as[Long]).collect().sorted
    assert(ids.nonEmpty)
    // closed-form dHash per doc
    def hash(id: Long): Long = {
      val grp = id / 30; val vr = (id / 10) % 3
      def v(x: Int, y: Int): Long = {
        var b = (grp * 31 + x * (17 + grp % 5) + y * (7 + grp % 3) + x * y) % 200
        if (vr == 1) b += 3
        if (vr == 2 && x == grp % 7 && y % 3 == grp % 3) b += 37
        b
      }
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (v(x + 1, y) > v(x, y)) h |= 1L << (y * 8 + x)
      h
    }
    val hs = ids.map(id => id -> hash(id)).toMap
    // every planted 3-variant group: base~bright at hamming 0, perturbed <= 6
    val groups = ids.groupBy(_ / 30).filter(_._2.length == 3)
    assert(groups.nonEmpty, "fixture must contain full variant triples")
    groups.foreach { case (g, trio) =>
      val Array(base, bright, pert) = trio.sorted
      assert(java.lang.Long.bitCount(hs(base) ^ hs(bright)) == 0, s"group $g brightness invariance")
      val hp = java.lang.Long.bitCount(hs(base) ^ hs(pert))
      assert(hp <= 6, s"group $g perturbation flips <= 6 bits, got $hp")
      assert(got.contains((base, bright)) && got((base, bright)) == 0)
      assert(got.contains((base, pert)) && got((base, pert)) == hp)
    }
    // exhaustive recall below the pigeonhole bound: every pair with
    // hamming <= 7 MUST be in the result (8 bands of 8 bits)
    val within = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      hd = java.lang.Long.bitCount(hs(ids(i)) ^ hs(ids(j)))
      if hd <= 7
    } yield (ids(i), ids(j)) -> hd).toMap
    if (within.size <= 400) // LIMIT guards giant outputs only
      within.foreach { case (pair, hd) =>
        assert(got.get(pair).contains(hd), s"missed sub-threshold pair $pair")
      }
  }

  test("vad: frame energies from parsed WAV bytes match the generative formula; quiet/loud alternate") {
    val rows = Multimodal.vadQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      def sample(k: Long): Long =
        if (((k / 32) + id) % 2 == 0) (id + k) % 9 - 4
        else (id * 31 + 7 * k * k) % 2048 - 1024
      val fsq = (0 until 4).map(f =>
        (f * 32 until (f + 1) * 32).map(k => { val x = sample(k); x * x }).sum)
      val gate = 32L * 64 * 64
      val active = fsq.zipWithIndex.filter(_._1 >= gate).map(_._2)
      assert(r.getAs[Long]("n_frames") == 4)
      assert(r.getAs[Long]("n_active") == active.length, s"doc $id actives")
      assert(r.getAs[Long]("active_bp") == 10000L * active.length / 4)
      assert(r.getAs[Long]("first_active") == active.min, s"doc $id trim start")
      assert(r.getAs[Long]("last_active") == active.max, s"doc $id trim end")
      assert(r.getAs[Long]("peak_frame_energy") == fsq.max, s"doc $id peak")
      // the planted pattern: loud frames are exactly those with odd (f+id)
      val expActive = (0 until 4).filter(f => (f + id) % 2 == 1)
      assert(active == expActive, s"doc $id quiet/loud alternation")
    }
  }

  test("pitch: integer autocorrelation argmax matches a driver recompute including ties") {
    val rows = Multimodal.pitchQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val smp = (0 until 64).map(k => ((id * 31 + 7L * k * k) % 2048) - 1024)
      val ac = (1 to 16).map(lag =>
        (lag, (lag until 64).map(k => smp(k) * smp(k - lag)).sum))
      val (bestLag, peak) = ac.minBy { case (lag, v) => (-v, lag) }
      assert(r.getAs[Long]("best_lag") == bestLag.toLong, s"doc $id")
      assert(r.getAs[Long]("ac_peak") == peak)
      val energy = smp.map(x => x * x).sum
      assert(r.getAs[Long]("energy") == energy)
      assert(math.abs(r.getAs[Double]("ac_norm") -
        peak.toDouble / energy) < 1e-5)
    }
  }
}
