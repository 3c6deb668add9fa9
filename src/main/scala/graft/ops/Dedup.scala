package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Deduplication operators over `documents` — the first-named family of
  * the training-data-pipeline brief.
  *
  * Exact dedup: group on sha256(text). The shuffle key is a 64-char
  * digest, so at 100 TB the exchange moves ~64 bytes/doc instead of the
  * document — the standard content-addressed dedup shape.
  *
  * Near-dup: word 3-shingles → 128-permutation MinHash signature → LSH
  * banding (64 bands × 2 rows) → exact Jaccard verification INSIDE
  * buckets only. The only shuffles are (a) the band-bucket self-join
  * keyed on (band, bandHash) and (b) the shingle-set re-join for
  * verification — never an all-pairs comparison, so the plan survives
  * 100× data (candidate volume scales with true-duplicate density, not
  * with n²).
  *
  * Recall: a pair with Jaccard J collides in a band with prob J², so it
  * is missed with prob (1−J²)^64 — for the J ≥ 0.9 near-dups in this
  * corpus that is ≈1e-46, i.e. the LSH output equals the oracle's exact
  * all-pairs answer (the oracle CAN be all-pairs because sf0.01 is 500
  * docs; the Spark plan is the one you'd run on 10^10 docs).
  */
object Dedup {

  /** Distinct word 3-shingles of `toks`; shared contract with the DuckDB
    * oracle (`array_to_string(toks[i:i+2], ' ')` over 1-based starts). */
  private val shinglesExpr =
    "array_distinct(transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))))"

  /** (doc_id, sh) shingle sets for an arbitrary documents frame —
    * the [[shingled]] contract over any (doc_id, text) input. */
  private def shingleSets(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .withColumn("toks", split(lower(col("text")), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(shinglesExpr).as("sh"))

  private[ops] def shingled(s: SparkSession, dir: String): DataFrame =
    shingleSets(t(s, dir, "documents"))

  private[ops] val shingledSql =
    """WITH dtok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |shing AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM dtok WHERE len(toks) >= 3)""".stripMargin

  /** Exact dedup under a simulated re-crawl: 10% of the corpus reappears
    * under new doc_ids (the union), and dedup collapses each content
    * group to its smallest doc_id via the sha256 digest. Output is the
    * kept id + copy count per distinct content — non-vacuous (50 groups
    * of 2) without inventing data outside the staged tables. */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val recrawl = d.filter($"doc_id" % 10 === 0)
      .withColumn("doc_id", $"doc_id" + 1000000L)
    d.unionByName(recrawl)
      .select($"doc_id", sha2($"text", 256).as("content_sha"))
      .groupBy($"content_sha")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  val exactSql: String =
    """WITH crawl AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
      |SELECT sha256(text) AS content_sha,
      |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM crawl GROUP BY content_sha ORDER BY keep_id""".stripMargin

  /** q_dedup_yield entry: the DEDUP YIELD CURVE — per ingestion batch
    * (arrival order over the [[exact]] re-crawl simulation, 1000 docs
    * per batch), how many documents are content-NOVEL vs already seen,
    * with cumulative totals. This is the curve a crawl operation
    * watches to decide when a source is exhausted: novelty rate decays
    * as the corpus saturates (here the re-crawl batches post ~0%), and
    * the marginal cost of another crawl stops paying.
    *
    * Scale shape: novelty is "doc_id == min(doc_id) of its sha-256
    * group" — one digest-keyed combinable aggregate plus an equi-join
    * back (both shuffle 64-byte keys, never text); the per-batch
    * rollup is batch-count-bounded and the cumulative window runs over
    * that tiny frame. All-integer counts; rates are single divisions
    * rounded at 6 dp. */
  def yieldQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val d = t(s, dir, "documents")
    val recrawl = d.filter($"doc_id" % 10 === 0)
      .withColumn("doc_id", $"doc_id" + 1000000L)
    val crawl = d.unionByName(recrawl)
      .select($"doc_id", sha2($"text", 256).as("sha"))
    val firsts = crawl.groupBy($"sha").agg(min($"doc_id").as("first_id"))
    val per = crawl.join(firsts, "sha")
      .select(expr("doc_id div 1000").as("batch"),
        ($"doc_id" === $"first_id").cast("long").as("novel"))
      .groupBy($"batch")
      .agg(count(lit(1)).as("n_docs"), sum($"novel").as("n_novel"))
    val w = Window.orderBy($"batch")
      .rowsBetween(Window.unboundedPreceding, 0)
    per
      .withColumn("cum_docs", sum($"n_docs").over(w))
      .withColumn("cum_novel", sum($"n_novel").over(w))
      .select($"batch", $"n_docs", $"n_novel",
        round($"n_novel".cast("double") / $"n_docs", 6).as("novelty_rate"),
        $"cum_docs", $"cum_novel",
        round($"cum_novel".cast("double") / $"cum_docs", 6).as("cum_rate"))
      .orderBy($"batch")
  }

  val yieldSql: String =
    """WITH crawl AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
      |sh AS (SELECT doc_id, sha256(text) AS sha FROM crawl),
      |fi AS (SELECT sha, MIN(doc_id) AS first_id FROM sh GROUP BY sha),
      |fl AS (
      |  SELECT doc_id // 1000 AS batch,
      |    CASE WHEN doc_id = first_id THEN 1 ELSE 0 END AS novel
      |  FROM sh JOIN fi USING (sha)),
      |per AS (
      |  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(novel) AS BIGINT) AS n_novel
      |  FROM fl GROUP BY batch),
      |c AS (
      |  SELECT batch, n_docs, n_novel,
      |    CAST(SUM(n_docs) OVER (ORDER BY batch
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_docs,
      |    CAST(SUM(n_novel) OVER (ORDER BY batch
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_novel
      |  FROM per)
      |SELECT batch, n_docs, n_novel,
      |  ROUND(CAST(n_novel AS DOUBLE) / n_docs, 6) AS novelty_rate,
      |  cum_docs, cum_novel,
      |  ROUND(CAST(cum_novel AS DOUBLE) / cum_docs, 6) AS cum_rate
      |FROM c ORDER BY batch""".stripMargin

  /** MinHash lanes and LSH bands, built codegen-first: shingles are
    * EXPLODED and each lane is a native `min(xxhash64(h, j))` aggregate —
    * higher-order array lambdas are interpreted per-row in Spark (no
    * doGenCode), which profiled ~10× slower than this whole-stage-codegen
    * HashAggregate at sf0.1. Each shingle string is hashed once; lane j
    * mixes that 64-bit value with the lane index. Partial aggregation
    * runs map-side, so the shuffle carries one 128-long buffer per doc
    * per partition. */
  private val Lanes = 128 // bands = Lanes / bandRows; collide prob per band = J^bandRows

  /** MinHash signature → LSH band keys for a (doc_id, sh) frame:
    * (doc_id, band, bh) rows, `lanes / bandRows` per doc. The shared
    * index shape of the self-join ([[lshJaccardPairs]]) and the
    * corpus-vs-batch join ([[incrementalQ]]). */
  private def lshBands(sh: DataFrame, bandRows: Int, lanes: Int): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val laneMins = (0 until lanes).map(j =>
      min(xxhash64($"h", lit(j))).as(s"s$j"))
    val sig = sh
      .select($"doc_id", explode($"sh").as("shingle"))
      .select($"doc_id", xxhash64($"shingle").as("h"))
      .groupBy($"doc_id")
      .agg(laneMins.head, laneMins.tail: _*)
    val bandCols = (0 until lanes / bandRows).map(b =>
      struct(lit(b).as("band"),
        xxhash64((0 until bandRows).map(i => col(s"s${bandRows * b + i}")): _*).as("bh")))
    sig
      .select($"doc_id", explode(array(bandCols: _*)).as("b"))
      .select($"doc_id", $"b.band", $"b.bh")
  }

  /** Near-duplicate pairs with exact-verified Jaccard ≥ 0.8.
    * Pipeline: shingle → minhash → band-explode → self-join on
    * (band, bh) → distinct candidate pair → join shingle sets back →
    * exact Jaccard filter. `sh` must be (doc_id, sh: array<string>). */
  private def lshJaccardPairs(shingleSets: DataFrame, bandRows: Int = 2,
                              lanes: Int = Lanes): DataFrame = {
    val s = shingleSets.sparkSession
    import s.implicits._
    // session-lifetime cache by design: the returned (lazy) frame reads it
    // on every action, so eager unpersist would force recompute; callers
    // that are done can spark.catalog.clearCache()
    val sh = shingleSets.cache()
    // r16: the band frame self-joins, and AQE broadcasts one side — which
    // re-runs the whole minhash-lane aggregation (the dominant compute)
    // for EACH side because nothing above the cache is shared. Caching the
    // exploded band keys runs the 128-lane aggregate ONCE; both join sides
    // read the (doc_id, band, bh) rows — ~64 × 20 B/doc, far smaller than
    // the cached shingle sets. Same session-cache convention as `sh`.
    val bands = lshBands(sh, bandRows, lanes).cache()
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bh" === $"y.bh" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    val j = size(array_intersect($"a.sh", $"b.sh")).cast("double") /
      size(array_union($"a.sh", $"b.sh"))
    // r15: pin distributed hash joins for the verify (same broadcast-
    // of-fat-array-frame finding as containmentQ)
    cand
      .join(sh.as("a").hint("shuffle_hash"), $"doc_a" === $"a.doc_id")
      .join(sh.as("b").hint("shuffle_hash"), $"doc_b" === $"b.doc_id")
      .select($"doc_a", $"doc_b", j.as("jacc"))
      .filter($"jacc" >= 0.8)
      .select($"doc_a", $"doc_b", round($"jacc", 6).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Word-3-gram near-dup (the default MinHash/LSH pipeline). */
  def near(s: SparkSession, dir: String): DataFrame =
    lshJaccardPairs(shingled(s, dir))

  private def allPairsJaccardSql(withShingles: String): String =
    s"""$withShingles
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  ROUND(CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / LEN(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM shing a JOIN shing b ON a.doc_id < b.doc_id
      |WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / LEN(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle: exact all-pairs Jaccard (feasible at oracle scale only). */
  val nearSql: String = allPairsJaccardSql(shingledSql)

  /** Character-12-gram near-dup: same MinHash/LSH machinery over
    * substring shingles — robust to tokenization (whitespace/punct
    * changes) where the word-gram variant is robust to word edits.
    *
    * Two divergences from the word-gram 3/2 config, both scale-driven:
    *  - k=12 + 4-row bands: with a small shared vocabulary, short
    *    char-grams give unrelated docs Jaccard ~0.1 and J²-per-band LSH
    *    admits ~10% of ALL pairs as candidates (measured: a
    *    near-all-pairs verify stage at sf0.1). At k=12 background J ≤
    *    0.03 and J⁴ banding admits ~1e-5 per pair while J≥0.9 pairs
    *    still collide with certainty (1-(1-0.66)^16 ≈ 1-4e-8).
    *  - winnowing: only shingles with an even md5-derived hash survive
    *    (content-defined 2× downsample — alignment-shift-robust, unlike
    *    a positional stride — applied IDENTICALLY in the oracle, so
    *    Jaccard is computed over the same sampled sets on both sides).
    *    Halves the dominant minhash-lane aggregation. */
  def nearNgram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sets = t(s, dir, "documents")
      .withColumn("txt", lower(col("text")))
      .filter(length($"txt") >= 12)
      .select($"doc_id", expr(
        """filter(
          |  array_distinct(transform(sequence(1, length(txt) - 11), i -> substring(txt, i, 12))),
          |  x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % 2 = 0)"""
          .stripMargin).as("sh"))
    lshJaccardPairs(sets, bandRows = 4, lanes = 64)
  }

  val nearNgramSql: String = allPairsJaccardSql(
    """WITH dtxt AS (SELECT doc_id, lower(text) AS txt FROM documents WHERE length(lower(text)) >= 12),
      |shing AS (SELECT doc_id,
      |  list_filter(
      |    list_distinct(list_transform(range(1, length(txt) - 10), i -> txt[i:i+11])),
      |    x -> ('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT % 2 = 0) AS sh
      |  FROM dtxt)""".stripMargin)

  /** SimHash near-dup: 60-bit fingerprint over the distinct-token set
    * (bit b set iff Σ_tokens ±1 ≥ 0, sign from bit b of a 60-bit
    * md5-derived token hash), then pairs within hamming distance ≤ 3.
    *
    * Banding is EXACT here, not probabilistic, and SELF-SIZING (r10
    * verdict item 2 — the [[Similarity.adaptiveBits]] treatment): split
    * the fingerprint into b bands and key each doc by every
    * (b−3)-subset of bands, i.e. C(b,3) compound keys of
    * 60·(b−3)/b effective bits, realized as `fp & mask` (no bit
    * re-packing). A pair ≤3 bits apart touches ≤3 bands, so ≥ b−3
    * bands agree and at least one (b−3)-subset is entirely clean —
    * the compound-key self-join provably finds every pair within
    * threshold for ANY b ≥ 4 (generalized pigeonhole; Manku, Jain &
    * Sarma's block-permuted tables, WWW 2007). b grows with the corpus
    * ([[simhashBands]]): wider effective keys pin per-bucket occupancy
    * where the fixed 4×15 split's 15-bit keys saturate (measured
    * 8.7×/decade at sf1 before this change), at the price of C(b,3)
    * instead of 4 exploded rows per 8-byte fingerprint.
    *
    * Cost note: in-bucket candidate enumeration is O(bucket²), so
    * runtime tracks the corpus's true duplicate density. The synthetic
    * test corpus's ~40-word vocabulary makes fingerprints cluster
    * (178k genuine hamming-≤3 pairs at sf0.1 — the OUTPUT is quadratic
    * there); a natural-text corpus distributes buckets uniformly.
    *
    * Token hash = first 15 hex chars of md5 (60 bits) — the one 64-bit
    * hash expressible identically in Spark (`conv(...,16,10)`) and
    * DuckDB (`('0x'||…)::UBIGINT`). The oracle is the all-pairs scan,
    * so the band scheme is a pure Spark-plan choice: any b yields the
    * identical result set. */
  private[ops] val SimhashTargetOccupancy = 4L

  /** Smallest band count b with expected uniform occupancy per
    * compound key ≤ [[SimhashTargetOccupancy]] (effective key width
    * 60·(b−3)/b bits): 4 through the oracle/bench fixtures (≤ ~130k
    * docs, eff 15 bits), 5 to ~6.7·10⁷ docs (eff 24 bits), 6 to
    * ~4.3·10⁹ (eff 30 bits), then 8/10/12. */
  private[ops] def simhashBands(n: Long): Int =
    Seq(4, 5, 6, 8, 10).find { b =>
      val eff = 60.0 * (b - 3) / b
      n.toDouble / math.pow(2.0, eff) <= SimhashTargetOccupancy.toDouble
    }.getOrElse(12)

  /** All C(b,3) = C(b, b−3) compound-key masks for band count b: the
    * union of every (b−3)-subset of the b contiguous band masks over
    * 60 bits (widths differ by ≤1 when b ∤ 60). */
  private[ops] def simhashMasks(b: Int): Seq[Long] = {
    val widths = (0 until b).map(i => 60 / b + (if (i < 60 % b) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandMask = (0 until b).map(i =>
      ((1L << widths(i)) - 1L) << offsets(i))
    (0 until b).combinations(b - 3)
      .map(_.map(bandMask).reduce(_ | _)).toSeq
  }

  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokHash = t(s, dir, "documents")
      .select($"doc_id", explode(array_distinct(split(lower($"text"), " "))).as("tok"))
      .select($"doc_id",
        Hashing.md5Long60($"tok").as("h"))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright($"h", b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val fp = tokHash.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id",
        (0 until 60).map(b => when(col(s"b$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
    // The fingerprint is 8 bytes, so — unlike the shingle-set pipelines,
    // where arrays must be re-joined after candidate dedup — it rides the
    // band join directly. That turns [join, distinct, join, join, filter]
    // into [join, filter, distinct]: hamming is computed per collision,
    // the ≤3 filter shrinks the set BEFORE the distinct exchange, and the
    // two fingerprint re-joins disappear (measured r5 A/B at sf0.1:
    // 4.7-5.5s old shape vs 2.0-2.7s this shape, ~2.2× on the clustered
    // synthetic corpus, where candidates ≫ output).
    val nDocs = t(s, dir, "documents").count()
    val bandCols = simhashMasks(simhashBands(nDocs)).zipWithIndex.map {
      case (m, k) => struct(lit(k).as("band"),
        $"fp".bitwiseAND(lit(m)).as("bh"))
    }
    // r16: keying the band frame by its join keys BEFORE the self-join
    // lets both join sides ride one exchange (guide §2.4 "two operations
    // keyed the same way share one exchange") — A/B 1.81 → 1.47 s steady;
    // an explicit-count repartition (AQE-coalescing-exempt) was also
    // tried and REJECTED: 32 genuinely parallel join tasks cost 10.9 s
    // of taskSum for 0.2 s of serial work on this byte-light frame.
    val bands = fp.select($"doc_id", $"fp", explode(array(bandCols: _*)).as("b"))
      .select($"doc_id", $"fp", $"b.band", $"b.bh")
      .repartition($"band", $"bh")
    bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bh" === $"y.bh" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.fp".bitwiseXOR($"y.fp")).cast("int").as("hamming"))
      .filter($"hamming" <= 3)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  val simhashSql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks FROM documents),
      |hs AS (SELECT doc_id,
      |  list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::UBIGINT::BIGINT) AS h
      |  FROM d),
      |f AS (SELECT doc_id, list_reduce(list_transform(range(0, 60), b ->
      |    CASE WHEN list_reduce(list_transform(h, x ->
      |        CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END), (p, q) -> p + q) >= 0
      |    THEN (1::BIGINT << b) ELSE 0::BIGINT END), (p, q) -> p + q) AS fp
      |  FROM hs)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      |FROM f a JOIN f b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Embedding-cosine near-dup under the same simulated re-crawl as
    * [[exact]]: 20% of vectors reappear under new ids; duplicate pairs
    * are found by SimHash bucketing (2 tables × 12 bits — identical
    * vectors land in identical buckets in EVERY table, so recall for the
    * cos ≥ 0.999 duplicates is deterministic, not probabilistic), then
    * exact cosine verification inside buckets. Never all-pairs: candidate
    * volume ∝ bucket occupancy (~n/4096 per bucket per table). */
  def embed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    val crawl = base.unionByName(
      base.filter($"vec_id" % 5 === 0).withColumn("vec_id", $"vec_id" + 1000000000L))
    val e = Similarity.widened(crawl).cache()
    val b = Similarity.bucketed(e, tables = 2, bits = 12)
    val cand = b.as("x").join(b.as("y"),
        $"x.tbl" === $"y.tbl" && $"x.bucket" === $"y.bucket" &&
          $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"y.vec_id".as("vec_b"))
      .distinct()
    val qa = e.select($"vec_id".as("vec_a"), $"v".as("qv"), $"nrm".as("qn"))
    val qb = e.select($"vec_id".as("vec_b"), $"v", $"nrm")
    cand.join(qa, "vec_a").join(qb, "vec_b")
      .withColumn("cos", Similarity.dot($"qv", $"v") / ($"qn" * $"nrm"))
      .filter($"cos" >= 0.999)
      .select($"vec_a", $"vec_b", round($"cos", 6).as("cos_sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  val embedSql: String =
    """WITH crawl AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000000, embedding FROM embeddings WHERE vec_id % 5 = 0),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |  sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
      |                   (a, b) -> a + b)) AS nrm
      |  FROM crawl),
      |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
      |              (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, ROUND(cos, 6) AS cos_sim
      |FROM p WHERE cos >= 0.999 ORDER BY vec_a, vec_b""".stripMargin

  /** Suite-level artifact: the verified near-dup pair list, produced
    * ONCE per JVM per input dir and persisted as parquet; every
    * downstream consumer ([[dropNearDuplicates]], [[clustersQ]],
    * [[contaminationQ]]) reads the artifact instead of re-running the
    * shingle→MinHash→LSH→verify pipeline. This is the [[Similarity.IvfIndex]]
    * fit-once pattern at the suite level, and the 100 TB deployment
    * shape: dedup output is a durable stored artifact consumed by many
    * jobs, not a subquery each of them recomputes. `q_dedup_near`
    * itself still runs the live pipeline — it IS the LSH benchmark
    * entry; the artifact holds its exact output, so consumers are
    * byte-identical to recomputing. */
  private[ops] object PairArtifact {
    private lazy val root =
      java.nio.file.Files.createTempDirectory("graft-neardup-").toString
    private val paths = scala.collection.mutable.HashMap.empty[String, String]
    def pairs(s: SparkSession, dir: String): DataFrame = synchronized {
      val k = Artifacts.tableKey(s, dir, "documents")
      val p = paths.getOrElseUpdate(k, {
        val out = s"$root/$k"
        near(s, dir).write.mode("overwrite").parquet(out)
        out
      })
      s.read.parquet(p)
    }
  }

  /** The pipeline-facing form of near-dedup: the corpus with
    * near-duplicates REMOVED, keeping each group's smallest doc_id.
    * A doc is dropped iff it appears as the larger id of a verified
    * pair — on clique-shaped duplicate groups (what re-crawls produce;
    * this corpus's groups are cliques) that keeps exactly the minimum
    * per group. Distributed shape: the pair list is tiny relative to
    * the corpus, so the anti-join broadcasts it. */
  /** The once-per-JVM verified near-dup pair artifact, for sibling
    * operators that consume the pair list (sensitivity tuning, canonical
    * selection) without re-running the LSH pipeline. */
  private[ops] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    PairArtifact.pairs(s, dir)

  /** The ids removed by near-dedup (larger id of each verified pair) —
    * rides [[PairArtifact]]; shared by [[dropNearDuplicates]] and the
    * [[Curate]] funnel. */
  private[ops] def nearDupLosers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    PairArtifact.pairs(s, dir).select($"doc_b".as("doc_id")).distinct()
  }

  def dropNearDuplicates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .join(nearDupLosers(s, dir), Seq("doc_id"), "left_anti")

  /** Driver-checkable projection of [[dropNearDuplicates]]: the ids
    * (plus lang, a cheap non-key column) that survive near-dedup —
    * hashing the full text would dominate the compare for no extra
    * signal. */
  def dropQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dropNearDuplicates(s, dir)
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  val dropSql: String =
    s"""$shingledSql,
      |pairs AS (
      |  SELECT b.doc_id AS doc_b
      |  FROM shing a JOIN shing b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / LEN(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
      |SELECT doc_id, lang FROM documents
      |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
      |ORDER BY doc_id""".stripMargin

  /** Driver-checkable clustering of the whole corpus: every doc with its
    * duplicate-cluster representative (the smallest doc_id reachable
    * through verified near-dup pairs; singletons represent themselves).
    * Clusters are the connected components of the pair graph, from
    * [[Graph.connectedComponentsStar]]: exact on chains and stars too
    * (A~B, B~C but A≁C still groups {A,B,C}), where
    * [[dropNearDuplicates]]'s anti-join is exact only on clique-shaped
    * groups. */
  def clustersQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Graph.connectedComponentsStar(PairArtifact.pairs(s, dir))
      .select($"id".as("doc_id"), $"label")
    t(s, dir, "documents").select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"label", $"doc_id").as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** Train/eval decontamination: near-duplicate pairs that CROSS split
    * boundaries — an eval doc with a near-dup in train is a leaked
    * answer, the contamination a pretraining pipeline must strip before
    * measuring anything. Composes the verified LSH pair list with the
    * [[Hashing.splitLabel]] assignment; the split of each side is a
    * pure hash projection of the id already ON the pair row, so the
    * whole op adds zero joins and zero exchanges to the pair pipeline —
    * at 100 TB decontamination costs exactly what near-dedup costs
    * (here: one read of the already-materialized pair artifact). */
  def contaminationQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    PairArtifact.pairs(s, dir)
      .select($"doc_a", Hashing.splitLabel($"doc_a".cast("string")).as("split_a"),
        $"doc_b", Hashing.splitLabel($"doc_b".cast("string")).as("split_b"),
        $"jaccard")
      .filter($"split_a" =!= $"split_b")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Oracle twin: all-pairs Jaccard + the same md5 split CASE. */
  val contaminationSql: String =
    s"""$shingledSql,
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    ROUND(CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / LEN(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |  FROM shing a JOIN shing b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / LEN(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |sp AS (
      |  SELECT doc_id,
      |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT % 100 < 80 THEN 'train'
      |         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT doc_a, sa.split AS split_a, doc_b, sb.split AS split_b, jaccard
      |FROM pairs JOIN sp sa ON doc_a = sa.doc_id JOIN sp sb ON doc_b = sb.doc_id
      |WHERE sa.split <> sb.split ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle: reachability via a recursive CTE (feasible at oracle scale),
    * cluster id = min over the reachable set. */
  val clustersSql: String =
    s"""${shingledSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM shing a JOIN shing b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / LEN(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |walk(id, r) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src),
      |labels AS (
      |  SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster_id
      |  FROM walk GROUP BY id)
      |SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Substring-level duplicate-SPAN detection — document-level dedup
    * (exact / MinHash / SimHash above) misses the boilerplate case:
    * distinct documents sharing long verbatim passages (licenses,
    * headers, templated intros). This is the k-gram formulation of
    * training-data substring dedup: slide a k-char window over each
    * document, find grams occurring in ≥2 distinct documents, and merge
    * runs of consecutive duplicated positions into maximal spans
    * [span_start, span_start + span_len).
    *
    * Plan: one `transform(sequence, i -> substring)` per document (the
    * gram array materializes transiently inside the row — never
    * len × doc copies), posexplode to (doc, pos, gram), then a single
    * whole-partition window keyed on the gram whose min(doc) ≠ max(doc)
    * test marks cross-document grams (≡ count-distinct ≥ 2). ONE
    * exchange+sort of the gram rows — measured 3–5× cheaper than both
    * textbook shapes: aggregate-then-join-back re-scans and re-shuffles
    * every gram, and collect-list-of-occurrences builds |grams| object
    * buffers. Survivor positions then merge into maximal runs via the
    * per-doc islands window (pos − row_number), whose volume is the
    * duplicated fraction only.
    *
    * k trades recall for background noise: at k=20 a ~30-word synthetic
    * vocabulary makes a THIRD of all positions collide by chance; k=40
    * (≈7 words) pushes chance collisions to ~0 so spans are genuinely
    * shared passages (measured 464k → 118k duplicated positions at
    * sf0.1, the latter ≈ the true near-dup content floor).
    *
    * Scale: volume is O(total chars) rows shuffled once, keyed by the
    * gram STRING. The 8-byte-key variant (partition by
    * [[Hashing.md5Long60]](gram), mirrorable in the oracle since md5 is
    * engine-independent) was measured SLOWER at sf0.1 (4.6–5.2s vs
    * 3.7s — the per-gram md5 outruns the sort savings on 40-char keys);
    * it becomes the right trade once shuffle bytes dominate compute,
    * i.e. on a real network at corpus scale. Spans ≥ 2k chars are
    * reported so isolated k-gram coincidences stay out. */
  def substringSpans(docs: DataFrame, k: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15 (guide §2.5): the per-position substring explode is the
    // expensive map stage and the single-row-group test file plans ONE
    // scan partition (measured: one 2.4 s task wrote the whole 35 MB
    // gram exchange) — spread first; identity on many-split tables
    val grams = graft.Tables.spread(docs)
      .select(col("doc_id"), lower(col("text")).as("txt"))
      .filter(length(col("txt")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(txt) - ${k - 1}), i -> substring(txt, i, $k))"))
        .as(Seq("idx", "gram")))
      .select(col("doc_id"), (col("idx") + 1).cast("long").as("pos"), col("gram"))
    val wg = Window.partitionBy(col("gram"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams
      .withColumn("xdoc",
        min(col("doc_id")).over(wg) =!= max(col("doc_id")).over(wg))
      .filter(col("xdoc"))
      .withColumn("isl", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).as("span_len"))
      .filter(col("span_len") >= 2 * k)
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  def substringQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    substringSpans(t(s, dir, "documents"), k = 40)
      .orderBy($"doc_id", $"span_start")
  }

  val substringSql: String =
    """WITH d AS (
      |  SELECT doc_id, lower(text) AS txt, length(text) AS n
      |  FROM documents WHERE length(text) >= 40),
      |u AS (SELECT doc_id, txt,
      |        unnest(generate_series(1, n - 39)) AS pos FROM d),
      |g AS (SELECT doc_id, pos, substr(txt, CAST(pos AS INT), 40) AS gram FROM u),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
      |h AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      |i AS (SELECT doc_id, pos,
      |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      |      FROM h)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |       CAST(max(pos) - min(pos) + 40 AS BIGINT) AS span_len
      |FROM i GROUP BY doc_id, isl HAVING max(pos) - min(pos) + 40 >= 80
      |ORDER BY doc_id, span_start""".stripMargin

  /** Cross-source duplicate provenance: the near-dup pair list rolled up
    * into a source×source overlap matrix — which corpus slices duplicate
    * each other (mirror sites, syndication, re-scrapes). The steering
    * signal for crawl dedup policy: a hot off-diagonal cell means two
    * feeds fetch the same content.
    *
    * Rides [[PairArtifact]] — zero additional LSH cost; the tiny pair
    * list BROADCASTS against `documents` twice (ids only), so the corpus
    * is never shuffled, and the (source, source) rollup is
    * map-side-combinable with ≤ |sources|² groups. */
  def sourceMatrixQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select($"doc_id", $"source")
    val withA = src.as("sa")
      .join(broadcast(PairArtifact.pairs(s, dir)), $"doc_a" === $"sa.doc_id")
      .select($"doc_b", $"sa.source".as("source_a"))
    src.as("sb")
      .join(broadcast(withA), $"doc_b" === $"sb.doc_id")
      .select(least($"source_a", $"sb.source").as("source_x"),
        greatest($"source_a", $"sb.source").as("source_y"))
      .groupBy($"source_x", $"source_y")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_x", $"source_y")
  }

  val sourceMatrixSql: String =
    s"""$shingledSql,
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM shing a JOIN shing b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / LEN(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
      |SELECT LEAST(da.source, db.source) AS source_x,
      |  GREATEST(da.source, db.source) AS source_y,
      |  COUNT(*) AS n_pairs
      |FROM pairs
      |JOIN documents da ON doc_a = da.doc_id
      |JOIN documents db ON doc_b = db.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Durable corpus LSH index — the amortization artifact behind
    * [[incrementalQ]]. Built ONCE per corpus dir and persisted as two
    * parquet tables (the [[Similarity.IvfIndex]] / [[PairArtifact]]
    * pattern): `bands` = (doc_id, band, bh) LSH band keys for candidate
    * lookup, `shingles` = (doc_id, sh) shingle sets for exact-Jaccard
    * verification of candidates. Every later call — including from a
    * fresh query in the same session — re-READS the artifact instead of
    * re-running the corpus pass; at 100 TB the build is a once-per-
    * corpus-version job and each ingest batch pays only index lookups.
    * `builds` counts actual corpus passes so a spec can prove reuse. */
  private[graft] object BandIndex {
    private lazy val root =
      java.nio.file.Files.createTempDirectory("graft-bandidx-").toString
    private val paths = scala.collection.mutable.HashMap.empty[String, String]
    @volatile private[graft] var builds: Int = 0
    /** (bandKeys, shingleSets) read from the persisted artifact. */
    def apply(s: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
      val k = Artifacts.tableKey(s, dir, "documents")
      val p = paths.getOrElseUpdate(k, {
        val out = s"$root/$k"
        shingleSets(t(s, dir, "documents"))
          .write.mode("overwrite").parquet(s"$out/shingles")
        // band keys derive from the persisted shingles, not a second
        // corpus read — one documents scan total per corpus version
        lshBands(s.read.parquet(s"$out/shingles"), bandRows = 2, lanes = Lanes)
          .write.mode("overwrite").parquet(s"$out/bands")
        builds += 1
        out
      })
      (s.read.parquet(s"$p/bands"), s.read.parquet(s"$p/shingles"))
    }
  }

  /** Incremental dedup-on-ingest: match an incoming BATCH against the
    * existing CORPUS without comparing the corpus to itself — the shape a
    * production pipeline runs every crawl cycle, where re-deduplicating
    * 100 TB of history per batch is not an option.
    *
    * The corpus side is the persisted [[BandIndex]] artifact: band keys
    * for the candidate equi-join plus shingle sets for verification,
    * built once per corpus version and re-read as parquet thereafter.
    * A batch therefore pays only its OWN shingling + signatures, one
    * equi-join against the stored keys, and exact Jaccard on the
    * candidates — zero corpus passes per batch. Candidate volume ∝
    * batch size × true-collision density — the corpus enters only
    * through index lookups, never a corpus×corpus or corpus×batch scan.
    *
    * Fixture: 10% of the corpus re-arrives under new doc_ids (the same
    * simulated re-crawl as [[exact]]/[[embed]]), so every batch doc must
    * rediscover its original (J = 1) plus any of the original's planted
    * near-dup partners (J ≥ 0.8). Recall argument identical to [[near]]:
    * a J ≥ 0.8 pair misses all 64 bands with prob at most
    * (1−J²)^64 = 0.36^64 ≈ 4.0e-29. */
  /** Match one ingest batch of (doc_id, text) rows against the
    * persisted corpus [[BandIndex]] — the shared core of the batch
    * fixture query [[incrementalQ]] and the per-micro-batch body of
    * [[graft.streaming.EventStreams.streamingIncrementalDedup]]. */
  def matchBatch(batch: DataFrame, s: SparkSession, dir: String): DataFrame = {
    // session-lifetime cache BY DESIGN for the batch fixture (same
    // convention as lshJaccardPairs): the batch shingles feed both the
    // band build and the verify join; freed by spark.catalog.clearCache()
    matchFrom(shingleSets(batch).cache(), s, dir)
  }

  /** [[matchBatch]] with the shingle cache scoped to ONE micro-batch:
    * caches, hands the matches to `write`, then unpersists in a
    * finally. This is the continuous-stream form — a stream never runs
    * the session-wide clearCache, so the session-lifetime convention of
    * [[matchBatch]] would accumulate one cached shingle frame per
    * trigger in executor storage for the stream's lifetime. */
  def matchBatchScoped(batch: DataFrame, s: SparkSession, dir: String)(
      write: DataFrame => Unit): Unit = {
    val batchSh = shingleSets(batch).cache()
    try write(matchFrom(batchSh, s, dir))
    finally batchSh.unpersist()
  }

  private def matchFrom(batchSh: DataFrame, s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val (corpusBands, corpusSh) = BandIndex(s, dir)
    val cand = lshBands(batchSh, bandRows = 2, lanes = Lanes).as("x")
      .join(corpusBands.as("y"),
        $"x.band" === $"y.band" && $"x.bh" === $"y.bh")
      .select($"x.doc_id".as("new_id"), $"y.doc_id".as("corpus_id"))
      .distinct()
    val j = size(array_intersect($"a.sh", $"b.sh")).cast("double") /
      size(array_union($"a.sh", $"b.sh"))
    cand
      .join(batchSh.as("a"), $"new_id" === $"a.doc_id")
      .join(corpusSh.as("b"), $"corpus_id" === $"b.doc_id")
      .select($"new_id", $"corpus_id", j.as("jacc"))
      .filter($"jacc" >= 0.8)
      .select($"new_id", $"corpus_id", round($"jacc", 6).as("jaccard"))
      .orderBy($"new_id", $"corpus_id")
  }

  def incrementalQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val batch = t(s, dir, "documents").filter($"doc_id" % 10 === 0)
      .withColumn("doc_id", $"doc_id" + 2000000L)
    matchBatch(batch, s, dir)
  }

  /** Oracle: exact all-pairs batch × corpus Jaccard. */
  val incrementalSql: String =
    s"""$shingledSql,
      |batch AS (
      |  SELECT doc_id + 2000000 AS doc_id, lower(text) AS txt FROM documents
      |  WHERE doc_id % 10 = 0),
      |btok AS (SELECT doc_id, string_split(txt, ' ') AS toks FROM batch),
      |bshing AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM btok WHERE len(toks) >= 3)
      |SELECT b.doc_id AS new_id, a.doc_id AS corpus_id,
      |  ROUND(CAST(LEN(list_intersect(b.sh, a.sh)) AS DOUBLE)
      |        / LEN(list_distinct(list_concat(b.sh, a.sh))), 6) AS jaccard
      |FROM bshing b JOIN shing a ON TRUE
      |WHERE CAST(LEN(list_intersect(b.sh, a.sh)) AS DOUBLE)
      |      / LEN(list_distinct(list_concat(b.sh, a.sh))) >= 0.8
      |ORDER BY new_id, corpus_id""".stripMargin

  /** q_contamination_ngram entry: n-gram-level train/eval decontamination
    * — for every TEST-split document, how much of it is covered by
    * word-8-grams that also occur anywhere in the TRAIN split. This is
    * the published decontamination method of the open LLM reports
    * (n-gram overlap against eval sets), and the fine-grained complement
    * of [[contaminationQ]]'s document-level LSH: a test doc can leak
    * through training VERBATIM PASSAGES without being a near-dup of any
    * single train doc.
    *
    * Output per test doc: distinct 8-grams, how many are train-shared,
    * and the share in basis points (pure integers). Split assignment is
    * the suite-wide [[Hashing.splitLabel]] md5 coin, so this composes
    * with every other split-aware operator.
    *
    * Scale: the only exchange is keyed on the GRAM (train grams
    * distinct-collapse map-side; test grams semi-join against them) —
    * candidate volume is gram-vocabulary-bounded, documents never
    * shuffle, and the per-doc rollup is combinable. */
  def contaminationNgramQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    val grams = t(s, dir, "documents")
      .withColumn("split", Hashing.splitLabel($"doc_id".cast("string")))
      .filter($"split".isin("train", "test"))
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= k)
      .select($"doc_id", $"split", explode(expr(
        s"array_distinct(transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k))))"))
        .as("gram"))
    val trainGrams = grams.filter($"split" === "train")
      .select($"gram").distinct().withColumn("in_train", lit(1L))
    grams.filter($"split" === "test")
      .join(trainGrams, Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"in_train", lit(0L))).as("n_shared"))
      .select($"doc_id", $"n_grams", $"n_shared",
        expr("(10000 * n_shared) div n_grams").as("shared_bp"))
      .orderBy($"doc_id")
  }

  val contaminationNgramSql: String =
    """WITH sp AS (
      |  SELECT doc_id, lower(text) AS txt,
      |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
      |           ::UBIGINT::BIGINT % 100 < 80 THEN 'train'
      |         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
      |           ::UBIGINT::BIGINT % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, split, string_split(txt, ' ') AS toks FROM sp
      |  WHERE split IN ('train', 'test')),
      |g AS (
      |  SELECT doc_id, split, unnest(list_distinct(list_transform(
      |    range(1, len(toks) - 6),
      |    i -> array_to_string(toks[i:i+7], ' ')))) AS gram
      |  FROM tok WHERE len(toks) >= 8),
      |tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train')
      |SELECT t.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared,
      |  CAST((10000 * SUM(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END))
      |    // COUNT(*) AS BIGINT) AS shared_bp
      |FROM g t LEFT JOIN tr ON t.gram = tr.gram
      |WHERE t.split = 'test'
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** q_dedup_norm entry: normalization-invariant exact dedup — content
    * digests over NFC-normalized, lower-cased, whitespace-squeezed text,
    * catching the trivial variants byte-exact dedup misses (case flips,
    * doubled spaces, composed/decomposed unicode — the classic
    * re-scrape / re-encode noise). Exercised against a deterministic
    * variant re-crawl (every 7th doc reappears upper-cased with doubled
    * spaces under a new id): each caught group reports its kept id,
    * copy count, and how many RAW byte-forms it had (≥2 proves the
    * normalizer earned its keep — byte-exact dedup saw distinct
    * contents).
    *
    * Scale: identical shape to [[exact]] — the shuffle key is the
    * 64-char digest of the normalized text; normalization itself is
    * map-side (the native codegen [[graft.functions]] NFC expression +
    * one regex), so the corpus never moves un-collapsed. */
  def normDedupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val d = t(s, dir, "documents").select($"doc_id", $"text")
    val variants = d.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 3000000L).as("doc_id"),
        regexp_replace(upper($"text"), " ", "  ").as("text"))
    d.unionByName(variants)
      .withColumn("norm", expr(
        "nfc_normalize(trim(regexp_replace(lower(text), '\\\\s+', ' ')))"))
      .groupBy(sha2($"norm", 256).as("norm_sha"))
      .agg(min($"doc_id").as("keep_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(sha2($"text", 256)).as("n_raw_forms"))
      .filter($"n_copies" >= 2)
      .orderBy($"keep_id")
  }

  val normDedupSql: String =
    """WITH crawl AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, replace(upper(text), ' ', '  ')
      |  FROM documents WHERE doc_id % 7 = 0),
      |n AS (
      |  SELECT doc_id, text,
      |    nfc_normalize(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |      AS norm
      |  FROM crawl)
      |SELECT sha256(norm) AS norm_sha, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies,
      |  CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_raw_forms
      |FROM n GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY keep_id""".stripMargin

  /** q_dedup_containment entry: ASYMMETRIC near-dup detection by shingle
    * CONTAINMENT — |A∩B| / min(|A|,|B|) ≥ 0.9. Jaccard misses the
    * subset case (a short doc pasted whole into a long one dilutes the
    * union), and containment is the published fix (Broder's resemblance
    * vs containment distinction); a curation pipeline needs both axes.
    *
    * Blocking: each doc PROBES with its 5 minimum-md5 RARE shingles
    * (document frequency 2–10) against the full rare-gram postings. A
    * contained doc shares ~all its shingles with its container, so any
    * of its sampled rare shingles names the pair (miss prob ≤ (1−C)⁵ ≈
    * 1e-7 at C=0.9 — the LSH recall stance); candidate volume is
    * |docs|·5·df_cap, an order less than the naïve Σ_rare df² self-join
    * (measured 14.2s → ~3s at sf0.1). The in-candidate verify is exact
    * and integer (basis points).
    *
    * Oracle: exact all-pairs containment (feasible at oracle scale),
    * so the driver compare also PROVES the blocking's recall is 1.0 on
    * this corpus — same stance as the LSH near-dup family. */
  def containmentQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val sh = shingled(s, dir).cache()
    val ex = sh.select($"doc_id", explode($"sh").as("g"))
    val rare = ex.groupBy($"g").agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 2 && $"df" <= 10)
      .select($"g")
    // r16: rareDocs is referenced by both the probe window and the
    // candidate join's posting side — uncached, the explode + df-filter
    // subtree ran twice (`Dev time`: two identical 5.2 MB gram exchanges).
    // Rare-gram postings are df-capped (≤10 rows/gram), far smaller than
    // the cached shingle sets. Session-cache convention as `sh`.
    val rareDocs = ex.join(rare, Seq("g")).cache()
    val probes = rareDocs
      .withColumn("rk", row_number().over(Window.partitionBy($"doc_id")
        .orderBy(Hashing.md5Long60($"g"), $"g")))
      .filter($"rk" <= 5)
      .select($"doc_id", $"g")
    val cand = probes.as("x").join(rareDocs.as("y"),
        $"x.g" === $"y.g" && $"x.doc_id" =!= $"y.doc_id")
      .select(least($"x.doc_id", $"y.doc_id").as("doc_a"),
        greatest($"x.doc_id", $"y.doc_id").as("doc_b"))
      .distinct()
    // r15: pin distributed hash joins for the verify — AQE was
    // broadcasting the shingle-ARRAY frame twice (two serial 1.6 s
    // single-task relation builds of fat array rows; the cand/probe
    // exchanges it saves are KB-sized), and at scale the shingle frame
    // is corpus-sized and never broadcastable anyway
    cand
      .join(sh.as("a").hint("shuffle_hash"), $"doc_a" === $"a.doc_id")
      .join(sh.as("b").hint("shuffle_hash"), $"doc_b" === $"b.doc_id")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"a.sh", $"b.sh")).cast("long").as("n_common"),
        least(size($"a.sh"), size($"b.sh")).cast("long").as("min_size"))
      .withColumn("containment_bp", expr("(10000 * n_common) div min_size"))
      .filter($"containment_bp" >= 9000)
      .orderBy($"doc_a", $"doc_b")
  }

  val containmentSql: String =
    s"""$shingledSql
      |SELECT doc_a, doc_b, n_common, min_size,
      |  (10000 * n_common) // min_size AS containment_bp
      |FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(LEN(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
      |    CAST(least(LEN(a.sh), LEN(b.sh)) AS BIGINT) AS min_size
      |  FROM shing a JOIN shing b ON a.doc_id < b.doc_id)
      |WHERE (10000 * n_common) // min_size >= 9000
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q_dedup_prefix entry: EXACT similarity self-join via prefix
    * filtering (Bayardo et al. "Scaling Up All Pairs" / Xiao et al.
    * PPJoin) — the deterministic-recall alternative to MinHash LSH:
    * under a global rare-first token order, two sets with Jaccard ≥ τ
    * MUST share a token in their first |X| − ⌈τ|X|⌉ + 1 tokens, so
    * joining on prefix tokens alone finds EVERY qualifying pair (recall
    * is a theorem, not a banding probability — the property audits and
    * legal-compliance dedup need). Same output contract as [[near]];
    * the oracle is the exact all-pairs truth, so a PASS certifies
    * recall 1.0.
    *
    * Scale shape: candidate volume is Σ_prefix-token df² where the
    * global (df asc, token) order puts each doc's RAREST shingles in
    * its prefix — candidates scale with how rare-token-sharing the
    * corpus is, never all-pairs. The prefix cut is a per-doc-bounded
    * rank window; ⌈0.8n⌉ is exact integer arithmetic ((4n+4) div 5)
    * on both engines. One gram-keyed exchange; documents never
    * shuffle. */
  def prefixJaccardQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val sh = shingled(s, dir).cache()
    val ex = sh.select($"doc_id", size($"sh").as("n"), explode($"sh").as("g"))
    // shingle sets are distinct per doc, so count(*) = document frequency
    val dfreq = ex.groupBy($"g").agg(count(lit(1)).as("df"))
    val pref = ex.join(dfreq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"g")))
      .filter($"rk" <= $"n" - expr("(4 * n + 4) div 5") + 1)
      .select($"doc_id", $"g", $"n")
      // r16: the prefix frame self-joins; uncached, the whole
      // explode + df-join + rank-window subtree ran once per side
      // (same finding as lshJaccardPairs' band cache). Prefix rows are
      // a per-doc-bounded slice of the gram explode — small.
      .cache()
    // PPJoin LENGTH filter, applied inside the candidate join (exactness
    // preserved: J(X,Y) >= 0.8 forces |X∩Y| >= 0.8·|X∪Y|, hence
    // 5·|Y| >= 4·|X| and 5·|X| >= 4·|Y| — exact integer tests). Prunes
    // cross-size collisions BEFORE the distinct exchange; measured at the
    // r11 sf1→sf10 decade where unpruned prefix candidates grew
    // 11.2×/decade.
    val cand = pref.as("x").join(pref.as("y"),
        $"x.g" === $"y.g" && $"x.doc_id" < $"y.doc_id" &&
          $"y.n" * 5 >= $"x.n" * 4 && $"x.n" * 5 >= $"y.n" * 4)
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    val j = size(array_intersect($"a.sh", $"b.sh")).cast("double") /
      size(array_union($"a.sh", $"b.sh"))
    // r15: pin distributed hash joins for the verify (same broadcast-
    // of-fat-array-frame finding as containmentQ)
    cand
      .join(sh.as("a").hint("shuffle_hash"), $"doc_a" === $"a.doc_id")
      .join(sh.as("b").hint("shuffle_hash"), $"doc_b" === $"b.doc_id")
      .select($"doc_a", $"doc_b", j.as("jacc"))
      .filter($"jacc" >= 0.8)
      .select($"doc_a", $"doc_b", round($"jacc", 6).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  // --- registry -------------------------------------------------------------

  /** q_dedup_paragraph entry: PARAGRAPH-HASH deduplication — CCNet's
    * first pipeline stage (Wenzek et al., LREC 2020: Common Crawl is
    * deduplicated BY PARAGRAPH hash before anything else, killing
    * boilerplate — headers, license blocks, templated intros — that
    * document-level dedup can never touch because the surrounding
    * documents differ). The fixture corpus has no newlines, so
    * "paragraphs" are 8-word tumbling chunks (≈ the 40-char gram noise
    * floor established for [[substringQ]]); a chunk is boilerplate when
    * its exact text occurs in ≥ 2 DISTINCT documents. Reported per doc:
    * chunk counts and the retained-word fraction after pruning — the
    * yield number a curation dashboard tracks.
    *
    * Distributed shape: chunking is a map-stage array transform (the
    * chunk list materializes transiently inside the row — never a
    * doc × chunk copy amplification before the explode); the ONE
    * exchange keys chunk rows by the chunk string for a combinable
    * distinct-doc count ≥ 2 test; the per-doc rollup re-keys by doc_id.
    * Volume is O(total words) rows shuffled once — the same cost class
    * as [[substringQ]] but with ~8× fewer, coarser keys (tumbling, not
    * sliding) — which is exactly why CCNet runs paragraph dedup FIRST
    * at crawl scale and saves substring dedup for what survives.
    *
    * Determinism: exact string keys, integer counts, one final
    * division — no FP contract anywhere before the display round. */
  def paragraphQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunked = t(s, dir, "documents")
      .select($"doc_id", expr(
        """transform(
          |  sequence(0, cast(ceil(size(split(lower(text), ' ')) / 8.0)
          |                   as int) - 1),
          |  i -> array_join(slice(split(lower(text), ' '), i * 8 + 1, 8),
          |                  ' '))""".stripMargin).as("chunks"))
      .select($"doc_id", posexplode($"chunks").as(Seq("cidx", "chunk")))
      .withColumn("wc", size(split($"chunk", " ")))
    val boiler = chunked.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 2)
      .select($"chunk", lit(1L).as("is_boiler"))
    chunked.join(boiler, Seq("chunk"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce($"is_boiler", lit(0L))).as("n_pruned"),
        sum($"wc").as("total_words"),
        sum(when($"is_boiler".isNull, $"wc").otherwise(0L))
          .as("kept_words"))
      .select($"doc_id", $"n_chunks".cast("long").as("n_chunks"),
        $"n_pruned".cast("long").as("n_pruned"),
        round($"kept_words".cast("double") / $"total_words", 6)
          .as("retained_words"))
      .orderBy($"doc_id")
  }

  val paragraphSql: String =
    """WITH arr AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |ch AS (
      |  SELECT doc_id, i AS cidx,
      |    array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ') AS chunk
      |  FROM arr, LATERAL UNNEST(range(0,
      |    CAST(ceil(len(ws) / 8.0) AS INT))) AS t(i)),
      |chunked AS (
      |  SELECT doc_id, cidx, chunk, len(string_split(chunk, ' ')) AS wc
      |  FROM ch),
      |boiler AS (
      |  SELECT chunk FROM chunked GROUP BY chunk
      |  HAVING COUNT(DISTINCT doc_id) >= 2)
      |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pruned,
      |  ROUND(CAST(SUM(CASE WHEN b.chunk IS NULL THEN c.wc ELSE 0 END)
      |      AS DOUBLE) / SUM(c.wc), 6) AS retained_words
      |FROM chunked c LEFT JOIN boiler b ON c.chunk = b.chunk
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** q_dedup_url entry: URL-CANONICALIZATION DEDUP — the stage-zero of
    * every web-corpus pipeline (before any text is fetched, the crawl
    * frontier dedups on canonical URLs): lowercase scheme+host, strip
    * the default :80 port, strip the trailing slash, drop the
    * fragment, drop utm_* tracking params, and SORT the surviving
    * query params (param order is not identity). The corpus carries no
    * URLs, so deterministic variants are planted in-query from
    * (doc_id, source) — four spellings per canonical target (case,
    * port, slash, param order/tracking) — and the operator must
    * collapse them; reported per canonical URL: raw-form count and doc
    * count for the top 20 groups.
    *
    * Scale shape: canonicalization is a PURE MAP of string/array
    * expressions (split → filter → array_sort → join — all codegen'd,
    * no UDF); the collapse is one combinable groupBy on the canonical
    * string. Exactly the exact-dedup shape, keyed by canonical form. */
  def urlDedupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = t(s, dir, "documents").select($"doc_id", $"source",
      concat(
        when($"doc_id" % 4 === 1, "HTTP://").otherwise("http://"),
        when($"doc_id" % 4 === 2, upper($"source")).otherwise($"source"),
        lit(".example.com"),
        when($"doc_id" % 4 === 1, ":80").otherwise(""),
        lit("/p/"), ($"doc_id" % 50).cast("string"),
        when($"doc_id" % 4 === 3, "/").otherwise(""),
        when($"doc_id" % 4 === 0, "?id=7&utm_source=feed")
          .when($"doc_id" % 4 === 2, "?utm_campaign=x&id=7")
          .otherwise("?id=7"),
        when($"doc_id" % 4 === 3, "#frag").otherwise(""))
        .as("url"))
    val noFrag = split($"url", "#").getItem(0)
    val scheme = lower(split(noFrag, "://").getItem(0))
    val rest = split(noFrag, "://").getItem(1)
    val hostPath = split(rest, "\\?").getItem(0)
    val query = split(rest, "\\?").getItem(1)
    val host = lower(regexp_replace(split(hostPath, "/").getItem(0),
      ":80$", ""))
    val path = regexp_replace(
      regexp_replace(hostPath, "^[^/]*", ""), "/$", "")
    val params = expr(
      """array_join(array_sort(filter(split(coalesce(query, ''), '&'),
        |  p -> p != '' AND NOT p LIKE 'utm_%')), '&')""".stripMargin
        .replace("\n", " "))
    val canon = raw
      .withColumn("query", query)
      .withColumn("canonical",
        concat(scheme, lit("://"), host, path,
          when(params === "", "").otherwise(concat(lit("?"), params))))
    canon.groupBy($"canonical")
      .agg(countDistinct($"url").as("n_raw_forms"),
        count(lit(1)).as("n_docs"))
      .select($"canonical", $"n_raw_forms".cast("long").as("n_raw_forms"),
        $"n_docs".cast("long").as("n_docs"))
      .orderBy($"n_docs".desc, $"canonical")
      .limit(20)
  }

  val urlDedupSql: String =
    """WITH raw AS (
      |  SELECT doc_id, source,
      |    (CASE WHEN doc_id % 4 = 1 THEN 'HTTP://' ELSE 'http://' END)
      |    || (CASE WHEN doc_id % 4 = 2 THEN upper(source) ELSE source END)
      |    || '.example.com'
      |    || (CASE WHEN doc_id % 4 = 1 THEN ':80' ELSE '' END)
      |    || '/p/' || CAST(doc_id % 50 AS VARCHAR)
      |    || (CASE WHEN doc_id % 4 = 3 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 4 = 0 THEN '?id=7&utm_source=feed'
      |        WHEN doc_id % 4 = 2 THEN '?utm_campaign=x&id=7'
      |        ELSE '?id=7' END)
      |    || (CASE WHEN doc_id % 4 = 3 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |parts AS (
      |  SELECT url,
      |    lower(string_split(string_split(url, '#')[1], '://')[1]) AS scheme,
      |    string_split(string_split(url, '#')[1], '://')[2] AS rest
      |  FROM raw),
      |hp AS (
      |  SELECT url, scheme,
      |    string_split(rest, '?')[1] AS host_path,
      |    CASE WHEN len(string_split(rest, '?')) > 1
      |      THEN string_split(rest, '?')[2] END AS query
      |  FROM parts),
      |canon AS (
      |  SELECT url,
      |    scheme || '://'
      |    || lower(regexp_replace(string_split(host_path, '/')[1], ':80$', ''))
      |    || regexp_replace(regexp_replace(host_path, '^[^/]*', ''), '/$', '')
      |    || (CASE WHEN array_to_string(list_sort(list_filter(
      |          string_split(COALESCE(query, ''), '&'),
      |          p -> p <> '' AND NOT p LIKE 'utm_%')), '&') = ''
      |        THEN ''
      |        ELSE '?' || array_to_string(list_sort(list_filter(
      |          string_split(COALESCE(query, ''), '&'),
      |          p -> p <> '' AND NOT p LIKE 'utm_%')), '&') END) AS canonical
      |  FROM hp)
      |SELECT canonical,
      |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM canon GROUP BY 1
      |ORDER BY n_docs DESC, canonical LIMIT 20""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_url" -> urlDedupQ,
    "q_dedup_paragraph" -> paragraphQ,
    "q_dedup_exact" -> exact,
    "q_dedup_yield" -> yieldQ,
    "q_dedup_near" -> near,
    "q_dedup_ngram" -> nearNgram,
    "q_dedup_simhash" -> simhash,
    "q_dedup_embed" -> embed,
    "q_dedup_drop" -> dropQ,
    "q_dedup_clusters" -> clustersQ,
    "q_dedup_substring" -> substringQ,
    "q_dedup_incremental" -> incrementalQ,
    "q_dedup_source_matrix" -> sourceMatrixQ,
    "q_split_contamination" -> contaminationQ,
    "q_contamination_ngram" -> contaminationNgramQ,
    "q_dedup_norm" -> normDedupQ,
    "q_dedup_containment" -> containmentQ,
    "q_dedup_prefix" -> prefixJaccardQ)

  def oracle: Map[String, String] = Map(
    "q_dedup_url" -> urlDedupSql,
    "q_dedup_paragraph" -> paragraphSql,
    "q_dedup_exact" -> exactSql,
    "q_dedup_yield" -> yieldSql,
    "q_dedup_near" -> nearSql,
    "q_dedup_ngram" -> nearNgramSql,
    "q_dedup_simhash" -> simhashSql,
    "q_dedup_embed" -> embedSql,
    "q_dedup_drop" -> dropSql,
    "q_dedup_clusters" -> clustersSql,
    "q_dedup_substring" -> substringSql,
    "q_dedup_incremental" -> incrementalSql,
    "q_dedup_source_matrix" -> sourceMatrixSql,
    "q_split_contamination" -> contaminationSql,
    "q_contamination_ngram" -> contaminationNgramSql,
    "q_dedup_norm" -> normDedupSql,
    "q_dedup_containment" -> containmentSql,
    // exact all-pairs truth: a hash-green row certifies recall 1.0
    "q_dedup_prefix" -> nearSql)
}
