package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's algorithm) over the `embeddings` table —
  * the unsupervised-clustering primitive the curation suite was missing:
  * domain discovery, cluster-balanced sampling, and SemDeDup-style
  * pruning all start from "cluster the corpus", and every hyperscale
  * pipeline runs exactly this loop (assign each vector to its nearest
  * centroid; recompute centroids; repeat).
  *
  * Scale shape — the canonical broadcast-iterate pattern:
  *   - centroids are a k-row frame BROADCAST to the assignment stage;
  *     the corpus never shuffles for assignment (one narrow pass per
  *     round, distance via a codegen'd `zip_with`/`aggregate` fold —
  *     no UDF, no explode);
  *   - the centroid update reuses [[Centroids.VecSum]]: whole vectors
  *     fold into one (count, 64-wide sum) buffer per cluster map-side,
  *     so only k × partitions buffers cross the exchange regardless of
  *     corpus size (the posexplode alternative ships dim× the corpus);
  *   - each round's k-row centroid frame is eagerly checkpointed, so
  *     round r+1's plan starts from files, not a lineage replaying
  *     every earlier round (the same O(rounds²) trap [[Iterate]]
  *     documents).
  *
  * Determinism — the whole loop is EXACT integer arithmetic, so Spark
  * and the DuckDB oracle agree bit-for-bit with no FP-order caveats:
  *   - vectors quantize to micro-units once ([[Centroids.micro]]:
  *     round(x·10⁶) as long), as in the centroid/outlier family;
  *   - squared L2 distances are integer sums (≤ 64·(4·10⁶)² ≈ 10¹⁵,
  *     far inside long range); ties break to the smallest cluster id
  *     via a lexicographic (dist, cid) struct-min;
  *   - updated centroids re-quantize as round(sum/n) — one IEEE double
  *     divide over exact integers (sums ≤ 2⁵³, exactly representable),
  *     identical on both engines;
  *   - inertia sums distances as DECIMAL(28,0): exact and
  *     order-independent where a raw long sum would overflow past
  *     ~10⁵ vectors and a double sum would be partition-order noise;
  *     the OUTPUT column is that exact decimal cast ONCE to double
  *     (identical round-to-nearest on both engines) — r10 forensics
  *     showed DECIMAL-typed result columns serialize differently in
  *     the driver's two client paths (pyarrow object-Decimal vs
  *     duckdb float64) even when values match bit-for-bit, so no
  *     query may emit a DECIMAL-typed output column.
  *
  * Init is the k vectors with the smallest vec_id (k-means++ needs
  * weighted randomness the cross-engine contract can't pin; fixed init
  * exercises the identical loop). Two full Lloyd rounds, then a final
  * assignment against the round-2 centroids for reporting — enough to
  * show real centroid movement (round 1 strictly decreases inertia on
  * this corpus, asserted in the spec) while keeping the oracle's
  * chained-CTE mirror readable.
  */
object Cluster {

  private[ops] val K = 4
  private[ops] val Rounds = 2

  /** One assignment pass: nearest (exact integer L2², tie → smaller
    * cid) of each vector to the broadcast k-row centroid frame. */
  private def assign(mv: DataFrame, cent: DataFrame): DataFrame = {
    val s = mv.sparkSession
    import s.implicits._
    mv.crossJoin(broadcast(cent))
      .withColumn("dist", expr(
        "aggregate(zip_with(mv, cv, (x, y) -> (x - y) * (x - y)), " +
          "cast(0 as bigint), (acc, v) -> acc + v)"))
      .groupBy($"vec_id")
      .agg(min(struct($"dist", $"cid")).as("m"))
      .select($"vec_id", $"m.cid".as("cid"), $"m.dist".as("dist"))
  }

  /** Centroid update through [[Centroids.VecSum]] (bounded-state
    * map-side fold), re-quantized to micro-units. */
  private def update(mv: DataFrame, assigned: DataFrame): DataFrame = {
    val s = mv.sparkSession
    import s.implicits._
    assigned.join(mv, "vec_id")
      .select($"cid".as[Int], $"mv".as[Seq[Long]])
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(Centroids.VecSum.column(Centroids.Dim).name("agg"))
      .toDF("cid", "agg")
      .select($"cid", expr(
        "transform(agg._2, s -> cast(round(cast(s as double) / agg._1) as bigint))")
        .as("cv"))
  }

  /** q_cluster_kmeans entry: per-cluster size, exact inertia (micro²
    * units), and mean squared distance after [[Rounds]] Lloyd rounds
    * from the fixed smallest-vec_id init. */
  def kmeansQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    val mv = Centroids.micro(s, dir).select($"vec_id", $"mv")
    var cent = mv.orderBy($"vec_id").limit(K)
      .withColumn("cid", row_number().over(Window.orderBy($"vec_id")) - 1)
      .select($"cid", $"mv".as("cv"))
      .checkpoint()
    for (_ <- 1 to Rounds)
      cent = update(mv, assign(mv, cent)).checkpoint()
    assign(mv, cent)
      .groupBy($"cid")
      .agg(count(lit(1)).as("n"),
        sum($"dist".cast("decimal(28,0)")).cast("decimal(28,0)")
          .as("i_dec"))
      .select($"cid".cast("long").as("cid"), $"n",
        $"i_dec".cast("double").as("inertia_u2"),
        round($"i_dec".cast("double") / $"n" / lit(1e12), 6)
          .as("mean_sq"))
      .orderBy($"cid")
  }

  /** The oracle mirrors the loop as chained CTEs: one (assign, argmin,
    * per-dim sum, re-quantize) block per round over the `range(1, 65)`
    * dim index, exactly the integer arithmetic the Spark side runs. */
  val kmeansSql: String = {
    val dim = Centroids.Dim
    def assignBlock(cIn: String, idx: Int): String =
      s"""a$idx AS (
         |  SELECT m.vec_id, c.cid,
         |    SUM((m.mv[i] - c.cv[i]) * (m.mv[i] - c.cv[i])) AS d
         |  FROM mv m CROSS JOIN $cIn c CROSS JOIN range(1, ${dim + 1}) t(i)
         |  GROUP BY m.vec_id, c.cid),
         |b$idx AS (
         |  SELECT vec_id, cid, d,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |  FROM a$idx)""".stripMargin
    def updateBlock(idx: Int): String =
      s"""s$idx AS (
         |  SELECT b.cid, t.i, SUM(m.mv[i]) AS sv, COUNT(*) AS n
         |  FROM b$idx b JOIN mv m USING (vec_id)
         |  CROSS JOIN range(1, ${dim + 1}) t(i)
         |  WHERE b.rn = 1 GROUP BY b.cid, t.i),
         |c${idx + 1} AS (
         |  SELECT cid,
         |    list(CAST(ROUND(CAST(sv AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
         |  FROM s$idx GROUP BY cid)""".stripMargin
    s"""WITH mv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
       |  FROM embeddings),
       |c0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, mv AS cv
       |  FROM (SELECT * FROM mv ORDER BY vec_id LIMIT $K)),
       |${assignBlock("c0", 0)},
       |${updateBlock(0)},
       |${assignBlock("c1", 1)},
       |${updateBlock(1)},
       |${assignBlock("c2", 2)}
       |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(CAST(SUM(d) AS DECIMAL(28,0)) AS DOUBLE) AS inertia_u2,
       |  ROUND(CAST(CAST(SUM(d) AS DECIMAL(28,0)) AS DOUBLE) / COUNT(*)
       |    / 1e12, 6) AS mean_sq
       |FROM b2 WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin
  }

  private[ops] val PqSubs = 8    // subspaces (64 dims → 8×8)
  private[ops] val PqSubDim = 8
  private[ops] val PqK = 4       // codes per subspace

  /** q_cluster_pq entry: PRODUCT QUANTIZATION codebook training (Jégou
    * et al., TPAMI 2011) — split each 64-dim embedding into 8
    * contiguous 8-dim subvectors and k-means each subspace
    * independently (k = 4, one Lloyd round from the shared
    * smallest-vec_id init), reporting per-(subspace, code) cell sizes
    * and exact distortion. PQ is how billion-vector ANN indexes
    * actually store vectors (8 codes ≈ 8 bytes vs 256 bytes of floats
    * — a 32× compression here); the per-subspace distortion table is
    * the codebook-quality audit run before committing an index build.
    *
    * Scale shape: the subvector explode is a narrow 8× row map of
    * 9-element rows (NOT 64× scalar rows); each subspace's loop is the
    * same broadcast-assign / bounded-VecSum-update as [[kmeansQ]],
    * with (sub, cid) as the compound key — all 8 subspaces train in
    * the SAME two exchanges, not 8 sequential jobs. Determinism:
    * identical micro-unit integer contract as [[kmeansQ]] — distances,
    * tie-breaks, and re-quantized centroids are exact on both
    * engines. */
  /** Subvector explode + assignment helper shared by [[pqQ]] and
    * [[pqSearchQ]]. */
  private def pqSubvecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Centroids.micro(s, dir).select($"vec_id", $"mv")
      .select($"vec_id", explode(expr(
        s"transform(sequence(0, ${PqSubs - 1}), s0 -> " +
          s"struct(s0 AS sub, slice(mv, $PqSubDim * s0 + 1, $PqSubDim) AS sv))"))
        .as("e"))
      .select($"vec_id", $"e.sub".as("sub"), $"e.sv".as("sv"))
  }

  /** Σ (svᵢ − cvᵢ)² over the fixed PqSubDim dims as unrolled codegen
    * arithmetic — the zip_with ∘ aggregate form is interpreted per row
    * (no codegen for array lambdas; the jlQ r16 finding). Integer
    * sums: exact in any order, so the unroll is value-identical. */
  private def sqDistSub(a: Column, b: Column): Column =
    (1 to PqSubDim).map { i =>
      val d = element_at(a, i) - element_at(b, i); d * d
    }.reduce(_ + _)

  private def assignSub(sub: DataFrame, cent: DataFrame): DataFrame = {
    val s = sub.sparkSession
    import s.implicits._
    sub.join(broadcast(cent), "sub")
      .withColumn("dist", sqDistSub($"sv", $"cv"))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"dist", $"cid")).as("m"))
      .select($"vec_id", $"sub", $"m.cid".as("cid"), $"m.dist".as("dist"))
  }

  /** The trained (sub, cid, cv) codebook after one Lloyd round from the
    * shared smallest-vec_id init — checkpointed k×m-row frame. */
  private def pqCodebook(s: SparkSession, dir: String, sub: DataFrame): DataFrame = {
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    val ids = Centroids.micro(s, dir).select($"vec_id", $"mv")
      .orderBy($"vec_id").limit(PqK)
      .withColumn("cid", row_number().over(Window.orderBy($"vec_id")) - 1)
      .select($"vec_id", $"cid")
    val cent0 = sub.join(broadcast(ids), "vec_id")
      .select($"sub", $"cid", $"sv".as("cv"))
      .checkpoint()
    assignSub(sub, cent0).join(sub, Seq("vec_id", "sub"))
      .select($"sub".as[Int], $"cid".as[Int], $"sv".as[Seq[Long]])
      .groupByKey { case (s0, c0, _) => (s0, c0) }
      .mapValues(_._3)
      .agg(Centroids.VecSum.column(PqSubDim).name("agg"))
      .toDF("key", "agg")
      .select($"key._1".as("sub"), $"key._2".as("cid"), expr(
        "transform(agg._2, s -> cast(round(cast(s as double) / agg._1) as bigint))")
        .as("cv"))
      .checkpoint()
  }

  def pqQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = pqSubvecs(s, dir)
    val cent1 = pqCodebook(s, dir, sub)
    assignSub(sub, cent1)
      .groupBy($"sub", $"cid")
      .agg(count(lit(1)).as("n"),
        sum($"dist".cast("decimal(28,0)")).cast("decimal(28,0)")
          .as("d_dec"))
      .select($"sub".cast("long").as("sub"), $"cid".cast("long").as("cid"),
        $"n", $"d_dec".cast("double").as("distortion_u2"),
        round($"d_dec".cast("double") / $"n" / lit(1e12), 6)
          .as("mean_sq"))
      .orderBy($"sub", $"cid")
  }

  /** q_cluster_pq_search entry: ASYMMETRIC-DISTANCE (ADC) top-k search
    * over the PQ-encoded corpus — the read path that justifies the
    * codebook: every vector is stored as 8 one-byte codes, and a query
    * is answered by (1) building a per-query (sub, code) → distance
    * LOOKUP TABLE against the codebook (queries × 8 × 4 entries — a
    * broadcast, never a corpus shuffle of vectors) and (2) summing 8
    * table hits per candidate. This is exactly how IVF-PQ indexes
    * score billions of candidates without touching a float. Queries
    * are the bounded `vec_id % 97 = 0` set (self-match excluded);
    * top-10 per query by (adc, vec_id).
    *
    * Scale shape: after encode, the corpus moves as (vec_id, sub,
    * code) triples — 8 small ints per vector; the LUT join is a
    * broadcast hash join; the only exchange is the (query, vec)
    * aggregation of 8 rows each. Determinism: ADC distances are exact
    * integer sums; ranking ties break on vec_id. */
  def pqSearchQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = pqSubvecs(s, dir)
    val cent1 = pqCodebook(s, dir, sub)
    val codes = assignSub(sub, cent1).select($"vec_id", $"sub", $"cid")
    // query batch BOUNDED by construction: a search API scores a fixed
    // batch against a growing corpus — an unbounded %-sampled query set
    // would make total ADC work quadratic in corpus size (measured
    // 3.7x per data decade before the bound)
    val lut = sub.filter($"vec_id" % 97 === 0 && $"vec_id" < 5000)
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(cent1), "sub")
      .withColumn("d", sqDistSub($"sv", $"cv"))
      .select($"qid", $"sub", $"cid", $"d")
    val w = Window.partitionBy($"qid").orderBy($"adc", $"vec_id")
    codes.join(broadcast(lut), Seq("sub", "cid"))
      .groupBy($"qid", $"vec_id")
      .agg(sum($"d").as("adc"))
      .filter($"qid" =!= $"vec_id")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"qid", $"rank".cast("long").as("rank"), $"vec_id",
        $"adc".cast("long").as("adc_u2"))
      .orderBy($"qid", $"rank")
  }

  /** Oracle: the same subspace loop over `range` grids — subvector
    * slices via DuckDB's 1-based inclusive list slicing. */
  private val pqPrefixSql: String = {
    val (m, sd, k) = (PqSubs, PqSubDim, PqK)
    s"""WITH mv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, s.s AS sub,
       |    mv[$sd * s.s + 1 : $sd * s.s + $sd] AS sv
       |  FROM mv CROSS JOIN range(0, $m) s(s)),
       |ids AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id
       |  FROM (SELECT vec_id FROM mv ORDER BY vec_id LIMIT $k)),
       |c0 AS (
       |  SELECT v.sub, i.cid, v.sv AS cv FROM sub v JOIN ids i USING (vec_id)),
       |a0 AS (
       |  SELECT v.vec_id, v.sub, c.cid,
       |    SUM((v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i])) AS d
       |  FROM sub v JOIN c0 c ON c.sub = v.sub
       |  CROSS JOIN range(1, ${sd + 1}) t(i)
       |  GROUP BY 1, 2, 3),
       |b0 AS (
       |  SELECT vec_id, sub, cid, d,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
       |  FROM a0),
       |s0 AS (
       |  SELECT b.sub, b.cid, t.i, SUM(v.sv[i]) AS sv_sum, COUNT(*) AS n
       |  FROM b0 b JOIN sub v ON v.vec_id = b.vec_id AND v.sub = b.sub
       |  CROSS JOIN range(1, ${sd + 1}) t(i)
       |  WHERE b.rn = 1 GROUP BY 1, 2, 3),
       |c1 AS (
       |  SELECT sub, cid,
       |    list(CAST(ROUND(CAST(sv_sum AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
       |  FROM s0 GROUP BY 1, 2),
       |a1 AS (
       |  SELECT v.vec_id, v.sub, c.cid,
       |    SUM((v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i])) AS d
       |  FROM sub v JOIN c1 c ON c.sub = v.sub
       |  CROSS JOIN range(1, ${sd + 1}) t(i)
       |  GROUP BY 1, 2, 3),
       |b1 AS (
       |  SELECT vec_id, sub, cid, d,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
       |  FROM a1)""".stripMargin
  }

  val pqSql: String =
    s"""$pqPrefixSql
       |SELECT CAST(sub AS BIGINT) AS sub, CAST(cid AS BIGINT) AS cid,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(CAST(SUM(d) AS DECIMAL(28,0)) AS DOUBLE) AS distortion_u2,
       |  ROUND(CAST(CAST(SUM(d) AS DECIMAL(28,0)) AS DOUBLE) / COUNT(*)
       |    / 1e12, 6) AS mean_sq
       |FROM b1 WHERE rn = 1 GROUP BY sub, cid ORDER BY sub, cid""".stripMargin

  val pqSearchSql: String = {
    val sd = PqSubDim
    s"""$pqPrefixSql,
       |codes AS (SELECT vec_id, sub, cid FROM b1 WHERE rn = 1),
       |lut AS (
       |  SELECT v.vec_id AS qid, v.sub, c.cid,
       |    SUM((v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i])) AS d
       |  FROM sub v JOIN c1 c ON c.sub = v.sub
       |  CROSS JOIN range(1, ${sd + 1}) t(i)
       |  WHERE v.vec_id % 97 = 0 AND v.vec_id < 5000
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT l.qid, co.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc
       |  FROM codes co JOIN lut l ON l.sub = co.sub AND l.cid = co.cid
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT qid, vec_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
       |  FROM adc WHERE qid <> vec_id)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
       |  CAST(adc AS BIGINT) AS adc_u2
       |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  private val KCenters = 8

  /** Exact integer squared L2 between the row's `mv` and the broadcast
    * center's `cv` — the [[assign]] distance, shared formula text. */
  private val d2Expr =
    "aggregate(zip_with(mv, cv, (x, y) -> (x - y) * (x - y)), " +
      "cast(0 as bigint), (acc, v) -> acc + v)"

  /** q_coreset_kcenter entry: GREEDY k-CENTER coreset selection
    * (Gonzalez's farthest-point traversal, the 2-approximation) — pick
    * 8 maximally-spread embedding exemplars: start from vec 0, then
    * repeatedly take the point FARTHEST from every chosen center. The
    * data-selection / labeling-budget primitive: the chosen exemplars
    * cover the corpus within the reported radius, which is also the
    * coreset quality certificate (radius after j centers is monotone
    * non-increasing — the spec pins it).
    *
    * Scale shape: each of the k rounds is one narrow corpus scan
    * against a broadcast 1-row center (distance update + a bounded
    * TakeOrdered argmax) — k scans total, no corpus self-join, min-
    * distance state checkpointed per round (the [[kmeansQ]] loop
    * contract). Determinism: micro-unit integers end to end
    * ([[Centroids.micro]]); distances are exact BIGINT, argmax ties
    * break on vec_id, so the traversal is bit-reproducible and the
    * oracle mirrors it as an unrolled CTE chain. */
  def kcenterQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    val mv = Centroids.micro(s, dir).select($"vec_id", $"mv")
    var md = mv
      .crossJoin(broadcast(mv.filter($"vec_id" === 0).select($"mv".as("cv"))))
      .withColumn("d", expr(d2Expr))
      .select($"vec_id", $"mv", $"d")
      .checkpoint()
    var out = md.agg(max($"d").as("radius_u2"))
      .select(lit(1).cast("int").as("center_rank"), lit(0L).as("vec_id"),
        $"radius_u2")
    for (j <- 2 to KCenters) {
      val next = md.orderBy($"d".desc, $"vec_id").limit(1).checkpoint()
      md = md
        .crossJoin(broadcast(next.select($"mv".as("cv"))))
        .withColumn("nd", expr(d2Expr))
        .select($"vec_id", $"mv", least($"d", $"nd").as("d"))
        .checkpoint()
      out = out.unionByName(
        next.select(lit(j).cast("int").as("center_rank"), $"vec_id")
          .crossJoin(broadcast(md.agg(max($"d").as("radius_u2")))))
    }
    out.select($"center_rank", $"vec_id", $"radius_u2",
        round($"radius_u2".cast("double") / 1e12, 6).as("radius_sq"))
      .orderBy($"center_rank")
  }

  /** Oracle: the same traversal as an unrolled CTE chain — each step
    * is (argmax of the running min-distance, distance to the new
    * center over the dim index, LEAST-merge), exact integers. */
  val kcenterSql: String = {
    val dim = Centroids.Dim
    def step(j: Int): String =
      s"""n$j AS (
         |  SELECT vec_id FROM d${j - 1} ORDER BY d DESC, vec_id LIMIT 1),
         |nd$j AS (
         |  SELECT m.vec_id,
         |    SUM((m.mv[i] - c.cv[i]) * (m.mv[i] - c.cv[i])) AS nd
         |  FROM mv m
         |  CROSS JOIN (SELECT m2.mv AS cv FROM mv m2
         |              JOIN n$j USING (vec_id)) c
         |  CROSS JOIN range(1, ${dim + 1}) t(i)
         |  GROUP BY m.vec_id),
         |d$j AS (
         |  SELECT a.vec_id, LEAST(a.d, b.nd) AS d
         |  FROM d${j - 1} a JOIN nd$j b USING (vec_id))""".stripMargin
    val steps = (2 to KCenters).map(step).mkString(",\n")
    val rows = (2 to KCenters).map(j =>
      s"""SELECT $j AS center_rank, (SELECT vec_id FROM n$j) AS vec_id,
         |  (SELECT CAST(MAX(d) AS BIGINT) FROM d$j) AS radius_u2""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH mv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
       |  FROM embeddings),
       |d1 AS (
       |  SELECT m.vec_id,
       |    SUM((m.mv[i] - c.cv[i]) * (m.mv[i] - c.cv[i])) AS d
       |  FROM mv m
       |  CROSS JOIN (SELECT mv AS cv FROM mv WHERE vec_id = 0) c
       |  CROSS JOIN range(1, ${dim + 1}) t(i)
       |  GROUP BY m.vec_id),
       |$steps,
       |u AS (
       |SELECT 1 AS center_rank, CAST(0 AS BIGINT) AS vec_id,
       |  (SELECT CAST(MAX(d) AS BIGINT) FROM d1) AS radius_u2
       |UNION ALL
       |$rows)
       |SELECT CAST(center_rank AS INT) AS center_rank, vec_id, radius_u2,
       |  ROUND(CAST(radius_u2 AS DOUBLE) / 1e12, 6) AS radius_sq
       |FROM u ORDER BY center_rank""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cluster_kmeans" -> kmeansQ,
    "q_cluster_pq" -> pqQ,
    "q_cluster_pq_search" -> pqSearchQ,
    "q_coreset_kcenter" -> kcenterQ)

  def oracle: Map[String, String] = Map(
    "q_cluster_kmeans" -> kmeansSql,
    "q_cluster_pq" -> pqSql,
    "q_cluster_pq_search" -> pqSearchSql,
    "q_coreset_kcenter" -> kcenterSql)
}
