package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** End-to-end curation composition — the operators of the Tier P
  * families wired into the pipeline a user actually runs: quality gate
  * → near-dedup → language selection, with per-stage funnel accounting
  * (what each stage removed, per source), plus the tokenizer-coverage
  * audit run on the survivors. These exist to prove the library's
  * pieces COMPOSE — the funnel is the report a curation run publishes,
  * not a new primitive.
  */
object Curate {

  /** q_pipeline_curate entry: per-source funnel counts through three
    * curation stages — quality (n_chars ≥ 100 AND ≥ 20 tokens),
    * near-dedup (drop each verified near-dup pair's larger id — the
    * [[Dedup.PairArtifact]] loser set), language selection (en/de/fr).
    * Stages are CUMULATIVE (each applies on top of the previous), so
    * the columns read left-to-right as the funnel narrows.
    *
    * Scale shape: ONE corpus scan; every stage is a boolean flag —
    * quality is a per-row predicate, dedup membership is a broadcast
    * left join against the tiny loser set, language is a literal
    * domain — folded into one map-side-combinable groupBy(source).
    * Adding a stage adds a conditional sum, not a pass (the
    * [[Validate.report]] pattern applied to a pipeline). */
  def curateQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val losers = Dedup.nearDupLosers(s, dir).withColumn("is_dup", lit(true))
    t(s, dir, "documents")
      .withColumn("pass_q",
        $"n_chars" >= 100 && size(split(lower($"text"), " ")) >= 20)
      .join(broadcast(losers), Seq("doc_id"), "left")
      .withColumn("pass_dedup", $"pass_q" && $"is_dup".isNull)
      .withColumn("pass_lang", $"pass_dedup" && $"lang".isin("en", "de", "fr"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"pass_q".cast("long")).as("n_quality"),
        sum($"pass_dedup".cast("long")).as("n_dedup"),
        sum($"pass_lang".cast("long")).as("n_final"))
      .orderBy($"source")
  }

  val curateSql: String =
    s"""${Dedup.shingledSql},
      |losers AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM shing a JOIN shing b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / LEN(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |f AS (
      |  SELECT d.source,
      |    (d.n_chars >= 100 AND len(string_split(lower(d.text), ' ')) >= 20)
      |      AS pass_q,
      |    (d.n_chars >= 100 AND len(string_split(lower(d.text), ' ')) >= 20
      |      AND l.doc_id IS NULL) AS pass_dedup,
      |    (d.n_chars >= 100 AND len(string_split(lower(d.text), ' ')) >= 20
      |      AND l.doc_id IS NULL AND d.lang IN ('en', 'de', 'fr')) AS pass_lang
      |  FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |  CAST(SUM(CASE WHEN pass_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
      |  CAST(SUM(CASE WHEN pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_final
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** q_tokenize_coverage entry: tokenizer-coverage audit — apply a
    * count-derived vocabulary (top-25 tokens) to every document and
    * account the out-of-vocabulary mass per doc: n_tokens, n_oov,
    * oov_rate. The pre-training check that a tokenizer (or vocab
    * budget) actually covers the corpus it will train on; the per-doc
    * grain surfaces WHICH documents are OOV-heavy (usually the
    * non-target-language or corrupted ones).
    *
    * Scale shape: the vocabulary is vocabulary-bounded (top-k from one
    * combinable count) and BROADCASTS into the token stream; the
    * per-doc rollup is one map-side-combinable groupBy(doc_id). The
    * text column never shuffles — only (doc_id, 1-bit membership)
    * rows. */
  def tokenizeCoverageQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"doc_id", explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
    val vocab = toks.groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(25)
      .select($"w", lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"doc_id", $"n_tokens", $"n_oov",
        round($"n_oov".cast("double") / $"n_tokens", 6).as("oov_rate"))
      .orderBy($"doc_id")
  }

  val tokenizeCoverageSql: String =
    """WITH tok AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) WHERE len(w) > 0),
      |vocab AS (
      |  SELECT w FROM (
      |    SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
      |    ORDER BY c DESC, w LIMIT 25)),
      |j AS (
      |  SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM tok t LEFT JOIN vocab v ON t.w = v.w)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(oov) AS BIGINT) AS n_oov,
      |  ROUND(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q_curate_canonical entry: canonical-document selection — the
    * retention policy that turns duplicate CLUSTERS into a keep list.
    * [[Dedup.dropNearDuplicates]]'s min-id policy is the cheap default;
    * real curation keeps the BEST copy of each duplicated passage
    * (crawls truncate, mirrors strip markup), and "best" here is the
    * standard longest-copy heuristic: max n_chars, doc_id as the
    * deterministic tiebreak. One row per non-singleton cluster: the
    * representative, the kept doc, member count, kept/dropped chars.
    *
    * Distributed shape: clusters come from
    * [[Graph.connectedComponentsStar]] over the once-per-JVM pair
    * artifact (graph of verified near-dups — tiny relative to the
    * corpus), document lengths join in
    * by id, and the per-cluster argmax is ONE map-side-combinable
    * aggregate — `max(struct(n_chars, -doc_id))` packs the whole
    * keep-policy into a comparable struct, so no window sort and no
    * second shuffle. Corpus text never moves. */
  def canonicalQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Graph.connectedComponentsStar(Dedup.verifiedPairs(s, dir))
      .select($"id".as("doc_id"), $"label".as("cluster_id"))
    val sized = labels.join(
      t(s, dir, "documents").select($"doc_id", $"n_chars"), Seq("doc_id"))
    sized
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum($"n_chars").as("total_chars"),
        max(struct($"n_chars", (-$"doc_id").as("neg_id"))).as("best"))
      .select($"cluster_id", (-$"best.neg_id").as("keep_id"),
        $"n_members", $"best.n_chars".as("kept_chars"),
        ($"total_chars" - $"best.n_chars").as("dropped_chars"))
      .orderBy($"cluster_id")
  }

  /** Oracle twin: reachability clusters via the recursive walk (same
    * shape as [[Dedup.clustersSql]]), argmax via a window. */
  val canonicalSql: String =
    s"""${Dedup.shingledSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
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
      |  FROM walk GROUP BY id),
      |sized AS (
      |  SELECT l.cluster_id, l.doc_id, d.n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
      |      ORDER BY d.n_chars DESC, l.doc_id) AS rk
      |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
      |SELECT cluster_id,
      |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_members,
      |  CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
      |  CAST(SUM(n_chars) - MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
      |    AS dropped_chars
      |FROM sized GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q_curate_curriculum entry: curriculum construction — each language
    * track orders its documents by a difficulty proxy (n_chars: longer
    * = harder, the standard cheap proxy) and cuts them into four
    * quartile PHASES, each deterministically sharded 4 ways by the md5
    * coin; the output is the (lang, phase, shard) manifest (doc count +
    * char mass) a staged training run consumes. Curriculum ordering +
    * sharding is how "easy-to-hard" training schedules are actually fed.
    *
    * Exactness: phase boundaries are quartile ROW POSITIONS (rank ≤
    * ceil(q·n/4)-style integer cuts), not value thresholds — duplicate
    * lengths at a boundary split deterministically by (n_chars, doc_id)
    * order, and no value arithmetic enters. All-integer output.
    *
    * Scale: ranking windows are language-partition-bounded; production
    * swaps the exact rank for `approxQuantile` phase thresholds at
    * corpus scale (the suite's exact/approx pairing, documented at
    * [[Profile.percentileDiscQ]]). */
  def curriculumQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byLang = Window.partitionBy($"lang").orderBy($"n_chars", $"doc_id")
    val all = Window.partitionBy($"lang")
    t(s, dir, "documents")
      .select($"lang", $"doc_id", $"n_chars")
      .withColumn("rk", row_number().over(byLang))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("phase",
        when($"rk" <= expr("(25 * n + 99) div 100"), 1L)
          .when($"rk" <= expr("(50 * n + 99) div 100"), 2L)
          .when($"rk" <= expr("(75 * n + 99) div 100"), 3L)
          .otherwise(4L))
      .withColumn("shard", Hashing.md5Bucket($"doc_id".cast("string"), 4))
      .groupBy($"lang", $"phase", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .orderBy($"lang", $"phase", $"shard")
  }

  val curriculumSql: String =
    """WITH r AS (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      |      AS rk,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents),
      |p AS (
      |  SELECT lang, doc_id, n_chars,
      |    CASE WHEN rk <= (25 * n + 99) // 100 THEN 1
      |         WHEN rk <= (50 * n + 99) // 100 THEN 2
      |         WHEN rk <= (75 * n + 99) // 100 THEN 3
      |         ELSE 4 END AS phase,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT % 4
      |      AS shard
      |  FROM r)
      |SELECT lang, CAST(phase AS BIGINT) AS phase, shard,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM p GROUP BY 1, 2, 3 ORDER BY lang, phase, shard""".stripMargin

  /** q_sample_dsir entry: DSIR-style importance weighting (Xie et al.
    * 2023, arXiv:2302.03169 "Data Selection for Language Models via
    * Importance Resampling") — score every raw document by how much it
    * resembles a TARGET distribution (here: the `en` slice standing in
    * for a curated target corpus) under a hashed bag-of-words feature
    * model: logw(doc) = Σ_b n_b(doc) · ln(p̂_target(b)/p̂_raw(b)) over
    * B=256 hashed token buckets with add-one smoothing. Documents with
    * high logw are up-sampled into the training mix — the
    * distribution-matching selection step between raw crawl and
    * training set.
    *
    * Scale shape: both distributions collapse to B-row bucket-count
    * frames in one combinable groupBy each (the corpus tokenizes ONCE;
    * buckets ride the [[Hashing.md5Long60]] contract so both engines
    * hash identically); the per-bucket log-ratio (one shared IEEE
    * expression, rounded 9 dp to a DECIMAL(18,9)) broadcasts back into
    * the token stream, and each doc's weight is an EXACT decimal
    * dot-product (integer counts × 9-dp-decimal ratios summed as
    * DECIMAL(28,9)) — order-independent, so the ranking is stable
    * under any partitioning. Text never shuffles; only (doc_id,
    * bucket, count) rows do. */
  def dsirQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 256
    val toks = t(s, dir, "documents")
      .select($"doc_id", $"lang", explode(split(lower($"text"), " ")).as("w"))
      .withColumn("b", Hashing.md5Bucket($"w", B))
    val docBuckets = toks.groupBy($"doc_id", $"b")
      .agg(count(lit(1)).as("c"))
    val raw = toks.groupBy($"b").agg(count(lit(1)).as("cr"))
    val tgt = toks.filter($"lang" === "en")
      .groupBy($"b").agg(count(lit(1)).as("ct"))
    val totals = toks.agg(
      count(lit(1)).as("nr"),
      sum(($"lang" === "en").cast("long")).as("nt"))
    // add-one smoothing over the full B-bucket domain on both sides
    val ratio = raw.join(tgt, Seq("b"), "left").crossJoin(broadcast(totals))
      .select($"b",
        round(log((coalesce($"ct", lit(0L)) + 1).cast("double") /
            ($"nt" + B).cast("double")) -
          log(($"cr" + 1).cast("double") / ($"nr" + B).cast("double")), 9)
          .cast("decimal(18,9)").as("lr"))
    docBuckets.join(broadcast(ratio), "b")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_toks"),
        sum(($"c".cast("decimal(18,1)") * $"lr").cast("decimal(28,9)"))
          .as("w"))
      .select($"doc_id", $"n_toks".cast("long").as("n_toks"),
        round($"w".cast("double"), 6).as("logw"))
      .filter($"doc_id" < 300)
      .orderBy($"doc_id")
  }

  val dsirSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(w), 1, 15))::UBIGINT::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |        FROM documents)),
      |db AS (SELECT doc_id, b, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |raw AS (SELECT b, COUNT(*) AS cr FROM toks GROUP BY b),
      |tgt AS (SELECT b, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
      |tot AS (
      |  SELECT COUNT(*) AS nr,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt
      |  FROM toks),
      |ratio AS (
      |  SELECT raw.b,
      |    CAST(ROUND(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
      |        / CAST(nt + 256 AS DOUBLE))
      |      - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 256 AS DOUBLE)), 9)
      |      AS DECIMAL(18,9)) AS lr
      |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
      |  ROUND(CAST(SUM(CAST(CAST(c AS DECIMAL(18,1)) * lr AS DECIMAL(28,9)))
      |    AS DOUBLE), 6) AS logw
      |FROM db JOIN ratio USING (b)
      |WHERE doc_id < 300
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q_sample_negatives entry: NEGATIVE SAMPLING for recommender /
    * contrastive training — for each customer, 5 part brands they have
    * NEVER ordered, drawn in deterministic md5(customer:brand) order
    * from the brand domain: the (user, item⁻) pairs implicit-feedback
    * training needs (the data records only positives; the model also
    * needs credible non-interactions, sampled reproducibly so every
    * rerun builds the identical training set).
    *
    * Scale shape: positives collapse to DISTINCT (customer, brand)
    * once (combinable); the candidate space is customers × the
    * 25-value brand DOMAIN (a bounded broadcast grid — items are a
    * catalog, not a corpus), negatives drop out via one LEFT ANTI
    * join, and the per-customer cut is a customer-partition-bounded
    * rank window over the [[Hashing.md5Long60]] order. */
  def negativesQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val users = t(s, dir, "customer")
      .filter($"c_custkey" < 100).select($"c_custkey")
    val brands = t(s, dir, "part").select($"p_brand").distinct()
    val pos = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(t(s, dir, "part").select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"o_custkey".as("c_custkey"), $"p_brand")
      .distinct()
    users.crossJoin(broadcast(brands))
      .join(pos, Seq("c_custkey", "p_brand"), "left_anti")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"c_custkey").orderBy(
          Hashing.md5Long60(concat($"c_custkey".cast("string"), lit(":"),
            $"p_brand")), $"p_brand")))
      .filter($"rk" <= 5)
      .select($"c_custkey", $"p_brand".as("neg_brand"),
        $"rk".cast("int").as("rk"))
      .orderBy($"c_custkey", $"rk")
  }

  val negativesSql: String =
    """WITH users AS (
      |  SELECT c_custkey FROM customer WHERE c_custkey < 100),
      |brands AS (SELECT DISTINCT p_brand FROM part),
      |pos AS (
      |  SELECT DISTINCT o_custkey AS c_custkey, p_brand
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |cand AS (
      |  SELECT u.c_custkey, b.p_brand
      |  FROM users u CROSS JOIN brands b
      |  WHERE NOT EXISTS (SELECT 1 FROM pos p
      |    WHERE p.c_custkey = u.c_custkey AND p.p_brand = b.p_brand)),
      |rk AS (
      |  SELECT c_custkey, p_brand,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY
      |      ('0x' || substr(md5(c_custkey::VARCHAR || ':' || p_brand), 1, 15))
      |        ::UBIGINT::BIGINT, p_brand) AS rk
      |  FROM cand)
      |SELECT c_custkey, p_brand AS neg_brand, CAST(rk AS INT) AS rk
      |FROM rk WHERE rk <= 5 ORDER BY c_custkey, rk""".stripMargin

  /** q_curate_budget entry: TOKEN-BUDGET GREEDY SELECTION per source —
    * the knapsack every training-mix build solves: given a per-source
    * token budget (here 50% of the source's tokens, scale-free), take
    * documents in density order (distinct-tokens per token — "novel
    * token yield per token paid", the TTR) until the budget is spent.
    * Greedy-by-density is the fractional-knapsack optimum; the integral
    * prefix rule used here (take while the running total fits, stop at
    * the first overflow) is its standard LP-relaxation rounding, and
    * the first rejected doc is reported per source so the rounding gap
    * is visible in the result.
    *
    * Output per source: corpus size, budget, selected count/tokens,
    * budget utilization, the distinct-token yield bought, the density
    * cut where the budget ran out, and the first-reject doc.
    *
    * Scale shape: per-doc stats are a map stage; budgets are one
    * combinable agg broadcast back (one row per source); the greedy is
    * ONE ranked window per source over (density, doc_id) — the same
    * exchange the curriculum build pays. Density ordering uses 9-dp
    * rounded doubles (identical in both engines), ties on doc_id. */
  def budgetQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"density".desc, $"doc_id")
    val docs = Text.withToks(s, dir)
      .select($"doc_id", $"source", size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_uniq"))
      .withColumn("density",
        round($"n_uniq".cast("double") / $"n_tokens", 9))
    val budgets = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"))
      .withColumn("budget", floor($"total_tokens" / 2).cast("long"))
    val ranked = docs.join(broadcast(budgets), "source")
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("take", $"cum_tokens" <= $"budget")
    ranked.groupBy($"source")
      .agg(max($"n_docs").as("n_docs"),
        max($"total_tokens").as("total_tokens"),
        max($"budget").as("budget"),
        sum(when($"take", 1L).otherwise(0L)).as("n_selected"),
        sum(when($"take", $"n_tokens").otherwise(0L)).as("tokens_selected"),
        sum(when($"take", $"n_uniq").otherwise(0L)).as("uniq_yield"),
        min(when($"take", $"density")).as("density_cut"))
      .join(
        ranked.filter(!$"take")
          .withColumn("rj", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy($"source")
              .orderBy($"rn")))
          .filter($"rj" === 1)
          .select($"source", $"doc_id".as("first_reject_doc"),
            $"n_tokens".as("first_reject_tokens")),
        Seq("source"), "left")
      .select($"source", $"n_docs", $"total_tokens", $"budget",
        $"n_selected", $"tokens_selected",
        round($"tokens_selected".cast("double") / $"budget", 6)
          .as("utilization"),
        $"uniq_yield", $"density_cut",
        coalesce($"first_reject_doc", lit(-1L)).as("first_reject_doc"),
        coalesce($"first_reject_tokens", lit(0L)).as("first_reject_tokens"))
      .orderBy($"source")
  }

  val budgetSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(${graft.ops.Text.toksSql}) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(${graft.ops.Text.toksSql})) AS BIGINT)
       |      AS n_uniq
       |  FROM documents),
       |dd AS (
       |  SELECT *, ROUND(CAST(n_uniq AS DOUBLE) / n_tokens, 9) AS density
       |  FROM d),
       |b AS (
       |  SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens,
       |    CAST(FLOOR(SUM(n_tokens) / 2) AS BIGINT) AS budget
       |  FROM dd GROUP BY 1),
       |rk AS (
       |  SELECT dd.*, b.n_docs, b.total_tokens, b.budget,
       |    SUM(n_tokens) OVER (PARTITION BY dd.source
       |      ORDER BY density DESC, doc_id) AS cum_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY dd.source
       |      ORDER BY density DESC, doc_id) AS rn
       |  FROM dd JOIN b USING (source)),
       |sel AS (
       |  SELECT source, MAX(n_docs) AS n_docs,
       |    MAX(total_tokens) AS total_tokens, MAX(budget) AS budget,
       |    SUM(CASE WHEN cum_tokens <= budget THEN 1 ELSE 0 END)
       |      AS n_selected,
       |    SUM(CASE WHEN cum_tokens <= budget THEN n_tokens ELSE 0 END)
       |      AS tokens_selected,
       |    SUM(CASE WHEN cum_tokens <= budget THEN n_uniq ELSE 0 END)
       |      AS uniq_yield,
       |    MIN(CASE WHEN cum_tokens <= budget THEN density END)
       |      AS density_cut
       |  FROM rk GROUP BY 1),
       |rej AS (
       |  SELECT source, doc_id AS first_reject_doc,
       |    n_tokens AS first_reject_tokens
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |          ORDER BY rn) AS rj
       |        FROM rk WHERE cum_tokens > budget)
       |  WHERE rj = 1)
       |SELECT sel.source, n_docs,
       |  CAST(total_tokens AS BIGINT) AS total_tokens, budget,
       |  CAST(n_selected AS BIGINT) AS n_selected,
       |  CAST(tokens_selected AS BIGINT) AS tokens_selected,
       |  ROUND(CAST(tokens_selected AS DOUBLE) / budget, 6) AS utilization,
       |  CAST(uniq_yield AS BIGINT) AS uniq_yield, density_cut,
       |  COALESCE(first_reject_doc, -1) AS first_reject_doc,
       |  COALESCE(first_reject_tokens, 0) AS first_reject_tokens
       |FROM sel LEFT JOIN rej ON rej.source = sel.source
       |ORDER BY sel.source""".stripMargin

  /** q_curate_ccnet entry: CCNet-style head/middle/tail quality
    * bucketing (Wenzek et al. 2020) — per-LANGUAGE terciles of the
    * corpus-LM cross-entropy ([[Text.ceAll]]), the partition the CCNet
    * pipeline publishes so downstream training mixes can oversample
    * the "head" (most corpus-like) slice per language. Reports, per
    * (lang, tier): doc count, character mass, and mean cross-entropy.
    *
    * Contract: tier = NTILE(3) over (cross_entropy ASC, doc_id ASC)
    * within each language — head is the LOWEST-CE (most fluent)
    * tercile, mirroring CCNet's perplexity ordering; docs with <2
    * tokens carry no bigram CE and are excluded (both engines). Mean
    * CE sums exact DECIMAL(18,6) components (CE is 6-dp by
    * construction) so the per-tier mean is partitioning-independent.
    *
    * Scale shape: the CE pass is one corpus scan against broadcast
    * vocabulary-bounded model tables; bucketing shuffles only the
    * (doc_id, lang, n_chars, ce) SLIM frame — corpus text never moves
    * — and the tier rollup is map-side combinable. The per-lang NTILE
    * sort is the oracle-exact stand-in for what a 100 TB run would do
    * with two approx-percentile cutpoints per language (one
    * approx_percentile pass + a broadcast cutoff join — no sort); the
    * exact form keeps the query value-hash-checkable. */
  def ccnetQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ce = Text.ceAll(s, dir).select($"doc_id", $"cross_entropy")
    val slim = t(s, dir, "documents").select($"doc_id", $"lang", $"n_chars")
    slim.join(ce, Seq("doc_id"))
      .withColumn("bk", ntile(3).over(
        Window.partitionBy($"lang").orderBy($"cross_entropy", $"doc_id")))
      .withColumn("tier",
        when($"bk" === 1, "head").when($"bk" === 2, "middle")
          .otherwise("tail"))
      .groupBy($"lang", $"tier")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("char_mass"),
        sum($"cross_entropy".cast("decimal(18,6)")).as("sce"))
      .select($"lang", $"tier", $"n_docs".cast("long").as("n_docs"),
        $"char_mass".cast("long").as("char_mass"),
        round($"sce".cast("double") / $"n_docs", 6).as("mean_ce"))
      .orderBy($"lang", $"tier")
  }

  val ccnetSql: String =
    s"""WITH ${Text.ceCtesSql},
      |b AS (
      |  SELECT d.lang, d.n_chars, ce.cross_entropy,
      |    NTILE(3) OVER (PARTITION BY d.lang
      |      ORDER BY ce.cross_entropy, d.doc_id) AS bk
      |  FROM documents d JOIN ce USING (doc_id))
      |SELECT lang,
      |  CASE bk WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS char_mass,
      |  ROUND(CAST(SUM(CAST(cross_entropy AS DECIMAL(18,6))) AS DOUBLE)
      |        / COUNT(*), 6) AS mean_ce
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_curate_gopher entry: the GOPHER quality-rule suite (Rae et al.
    * 2021 §A1.1 — the rule set carried forward by MassiveText /
    * RefinedWeb / FineWeb) as a per-source pass-rate report. The five
    * rules expressible over this fixture, each exact:
    *   1. word count in [50, 100 000];
    *   2. mean word length in [3, 10] — tested as the INTEGER
    *      inequality 3·n ≤ Σlen ≤ 10·n, no division;
    *   3. ≥ 80% of words contain an alphabetic character
    *      (5·n_alpha ≥ 4·n);
    *   4. stop-word evidence: ≥ 2 occurrences from the 8-word Gopher
    *      stop list;
    *   5. repetition: the most frequent word ≤ 20% of the doc
    *      (5·max_count ≤ n — the top-gram slice of Gopher §A1.1's
    *      repetition family).
    *
    * Scale shape: rules 1-4 are pure map-stage higher-order
    * expressions over the token array (no explode, no shuffle); rule
    * 5 is the one token-keyed exchange (per-doc mode count), merged
    * back by doc_id; the report is a map-side-combinable
    * groupBy(source). All comparisons integer — both engines agree
    * exactly. */
  def gopherQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = "array('the','be','to','of','and','that','have','with')"
    val base = t(s, dir, "documents")
      .withColumn("toks", split(lower($"text"), " "))
      .select($"doc_id", $"source",
        size($"toks").as("nw"),
        expr("aggregate(toks, 0, (a, x) -> a + length(x))").as("sumlen"),
        expr("size(filter(toks, t -> t rlike '[a-z]'))").as("n_alpha"),
        expr(s"size(filter(toks, t -> array_contains($stop, t)))").as("n_stop"))
    val maxTok = t(s, dir, "documents")
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("maxc"))
    base.join(maxTok, Seq("doc_id"))
      .select($"source",
        ($"nw" >= 50 && $"nw" <= 100000).cast("long").as("r_wc"),
        ($"sumlen" >= lit(3) * $"nw" && $"sumlen" <= lit(10) * $"nw")
          .cast("long").as("r_wl"),
        (lit(5) * $"n_alpha" >= lit(4) * $"nw").cast("long").as("r_al"),
        ($"n_stop" >= 2).cast("long").as("r_sw"),
        (lit(5) * $"maxc" <= $"nw").cast("long").as("r_rep"))
      .withColumn("all5",
        ($"r_wc" + $"r_wl" + $"r_al" + $"r_sw" + $"r_rep" === 5).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"r_wc").as("pass_wordcount"),
        sum($"r_wl").as("pass_wordlen"),
        sum($"r_al").as("pass_alpha"),
        sum($"r_sw").as("pass_stopword"),
        sum($"r_rep").as("pass_repetition"),
        sum($"all5").as("pass_all"))
      .select($"source", $"n_docs".cast("long").as("n_docs"),
        $"pass_wordcount".cast("long").as("pass_wordcount"),
        $"pass_wordlen".cast("long").as("pass_wordlen"),
        $"pass_alpha".cast("long").as("pass_alpha"),
        $"pass_stopword".cast("long").as("pass_stopword"),
        $"pass_repetition".cast("long").as("pass_repetition"),
        $"pass_all".cast("long").as("pass_all"),
        expr("(10000 * pass_all) div n_docs").as("pass_bp"))
      .orderBy($"source")
  }

  val gopherSql: String =
    """WITH tk AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source,
      |    len(toks) AS nw,
      |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS sumlen,
      |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
      |    len(list_filter(toks, t -> list_contains(
      |      ['the','be','to','of','and','that','have','with'], t))) AS n_stop
      |  FROM tk),
      |mx AS (
      |  SELECT doc_id, MAX(c) AS maxc FROM (
      |    SELECT doc_id, tok, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
      |    GROUP BY 1, 2)
      |  GROUP BY 1),
      |flags AS (
      |  SELECT b.source,
      |    CASE WHEN b.nw >= 50 AND b.nw <= 100000 THEN 1 ELSE 0 END AS r_wc,
      |    CASE WHEN b.sumlen >= 3 * b.nw AND b.sumlen <= 10 * b.nw
      |      THEN 1 ELSE 0 END AS r_wl,
      |    CASE WHEN 5 * b.n_alpha >= 4 * b.nw THEN 1 ELSE 0 END AS r_al,
      |    CASE WHEN b.n_stop >= 2 THEN 1 ELSE 0 END AS r_sw,
      |    CASE WHEN 5 * m.maxc <= b.nw THEN 1 ELSE 0 END AS r_rep
      |  FROM base b JOIN mx m USING (doc_id))
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(r_wc) AS BIGINT) AS pass_wordcount,
      |  CAST(SUM(r_wl) AS BIGINT) AS pass_wordlen,
      |  CAST(SUM(r_al) AS BIGINT) AS pass_alpha,
      |  CAST(SUM(r_sw) AS BIGINT) AS pass_stopword,
      |  CAST(SUM(r_rep) AS BIGINT) AS pass_repetition,
      |  CAST(SUM(CASE WHEN r_wc + r_wl + r_al + r_sw + r_rep = 5
      |    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
      |  CAST((10000 * SUM(CASE WHEN r_wc + r_wl + r_al + r_sw + r_rep = 5
      |    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS pass_bp
      |FROM flags GROUP BY 1 ORDER BY source""".stripMargin

  /** q_curate_coverage entry: GREEDY MAXIMUM-COVERAGE source selection
    * (Nemhauser, Wolsey & Fisher 1978 — the greedy algorithm achieves
    * the optimal (1−1/e) approximation for submodular coverage, and
    * max-coverage is THE budgeted-acquisition model: "we can license
    * k = 4 crawl sources — which ones cover the most distinct
    * content?"). Elements are 8-word content-chunk digests (the [[Dedup.paragraphQ]]
    * unit — chunks DO repeat across sources, so a source of recycled
    * boilerplate adds little); each greedy round picks
    * the source with the largest UNCOVERED-digest count. Reported per
    * round: the pick, its marginal gain, cumulative coverage, and the
    * nonincreasing-gain column that is submodularity made visible.
    *
    * Distributed shape: ONE corpus pass to distinct (source, digest);
    * each of the 4 rounds is an anti-join against the covered frame
    * (digest-keyed, grows with coverage — never the corpus), one
    * combinable count, and a 1-row deterministic argmax
    * (TakeOrdered with the source tiebreak). Rounds are data-dependent
    * picks, so covered/picked frames checkpoint per round (the
    * [[graft.ops.Behavior.absorbingQ]] lineage discipline).
    *
    * Exactness: digests, counts, and basis points only. */
  def coverageQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    // split once per row as a named column: the previous inline form
    // re-evaluated split(lower(text)) INSIDE the chunk lambda, i.e.
    // once per chunk — Spark does not hoist loop-invariant
    // subexpressions out of higher-order lambdas (guide §1.2 per-task
    // work; measured 3.2 → 2.3 s at sf0.1)
    val base = t(s, dir, "documents")
      .select($"source", split(lower($"text"), " ").as("ws"))
      .select($"source", explode(expr(
        """transform(
          |  sequence(0, cast(ceil(size(ws) / 8.0) as int) - 1),
          |  i -> array_join(slice(ws, i * 8 + 1, 8), ' '))"""
          .stripMargin)).as("chunk"))
      .select($"source", md5($"chunk").as("dig")).distinct()
      .checkpoint()
    val universe = base.select($"dig").distinct()
      .agg(count(lit(1)).as("n_universe"))
    var covered = base.filter(lit(false)).select($"dig") // empty, typed
    var rows: DataFrame = null
    // static rounds (the Iterate.fixpoint r16 loop-planning contract):
    // the covered frame is digest-keyed and corpus-scaled at 100 TB —
    // anti-join hinted shuffle_hash; the 1-row pick broadcasts
    Iterate.staticRounds(s, base) {
      for (r <- 1 to 4) {
        val gains = base.join(covered.hint("shuffle_hash"),
            Seq("dig"), "left_anti")
          .groupBy($"source").agg(count(lit(1)).as("n_new"))
        val picked = gains
          .orderBy($"n_new".desc, $"source").limit(1)
          .withColumn("round", lit(r.toLong))
          .checkpoint()
        covered = covered
          .unionByName(base.join(
              broadcast(picked.select($"source")), Seq("source"))
            .select($"dig"))
          .distinct()
          .checkpoint()
        val row = picked.crossJoin(broadcast(covered.agg(
          count(lit(1)).as("n_covered"))))
        rows = if (rows == null) row else rows.unionByName(row)
      }
    }
    rows.crossJoin(broadcast(universe))
      .select($"round", $"source".as("picked_source"),
        $"n_new".cast("long").as("n_new"),
        $"n_covered".cast("long").as("n_covered"),
        expr("CAST((10000 * n_covered) div n_universe AS BIGINT)")
          .as("coverage_bp"))
      .orderBy($"round")
  }

  val coverageSql: String =
    """WITH arr AS (
      |  SELECT source, string_split(lower(text), ' ') AS ws FROM documents),
      |base AS (
      |  SELECT DISTINCT source,
      |    md5(array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' '))
      |      AS dig
      |  FROM arr, LATERAL UNNEST(range(0,
      |    CAST(ceil(len(ws) / 8.0) AS INT))) AS t(i)),
      |uni AS (SELECT COUNT(DISTINCT dig) AS n_universe FROM base),
      |g1 AS (SELECT source, COUNT(*) AS n_new FROM base GROUP BY 1),
      |p1 AS (SELECT 1 AS round, source, n_new FROM g1
      |  ORDER BY n_new DESC, source LIMIT 1),
      |g2 AS (
      |  SELECT b.source, COUNT(*) AS n_new FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM base c JOIN p1 ON c.source = p1.source
      |    WHERE c.dig = b.dig)
      |  GROUP BY 1),
      |p2 AS (SELECT 2 AS round, source, n_new FROM g2
      |  ORDER BY n_new DESC, source LIMIT 1),
      |g3 AS (
      |  SELECT b.source, COUNT(*) AS n_new FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM base c
      |    WHERE c.dig = b.dig
      |      AND c.source IN (SELECT source FROM p1
      |                       UNION ALL SELECT source FROM p2))
      |  GROUP BY 1),
      |p3 AS (SELECT 3 AS round, source, n_new FROM g3
      |  ORDER BY n_new DESC, source LIMIT 1),
      |g4 AS (
      |  SELECT b.source, COUNT(*) AS n_new FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM base c
      |    WHERE c.dig = b.dig
      |      AND c.source IN (SELECT source FROM p1
      |                       UNION ALL SELECT source FROM p2
      |                       UNION ALL SELECT source FROM p3))
      |  GROUP BY 1),
      |p4 AS (SELECT 4 AS round, source, n_new FROM g4
      |  ORDER BY n_new DESC, source LIMIT 1),
      |picks AS (
      |  SELECT * FROM p1 UNION ALL SELECT * FROM p2
      |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4),
      |cov AS (
      |  SELECT p.round, COUNT(DISTINCT b.dig) AS n_covered
      |  FROM picks p
      |  JOIN picks q ON q.round <= p.round
      |  JOIN base b ON b.source = q.source
      |  GROUP BY 1)
      |SELECT CAST(p.round AS BIGINT) AS round, p.source AS picked_source,
      |  CAST(p.n_new AS BIGINT) AS n_new,
      |  CAST(c.n_covered AS BIGINT) AS n_covered,
      |  CAST((10000 * c.n_covered) // u.n_universe AS BIGINT)
      |    AS coverage_bp
      |FROM picks p JOIN cov c ON p.round = c.round, uni u
      |ORDER BY p.round""".stripMargin

  /** q_curate_softdedup entry: DUPLICATE-AWARE SOFT WEIGHTING — instead
    * of dropping duplicates (the [[graft.ops.Dedup]] hard path), keep
    * every copy but down-weight members of a duplicate cluster of size
    * c by c^(−β) (β = 0.5 here), the soft de-duplication stance: hard
    * dedup assumes duplication carries zero signal, soft dedup keeps a
    * diminishing-returns √c effective-count per cluster (β = 1
    * recovers hard dedup exactly — Σ 1/c over members = one per
    * cluster — which is why the report prints both). Clusters are the
    * normalization-invariant digests of [[graft.ops.Dedup.normDedupQ]]
    * over the same deterministic variant re-crawl (every 5th doc
    * reappears upper-cased with doubled spaces under a new id, same
    * source). Per source: raw mass, hard-dedup mass, soft effective
    * mass, and the retained fraction in basis points.
    *
    * Scale shape: identical to exact dedup — the shuffle key is the
    * 64-char digest of normalized text (map-side NFC + one regex), the
    * per-cluster size joins back as one narrow frame, the report is a
    * combinable groupBy(source). Determinism: c is an exact integer;
    * c^(−0.5) is one IEEE pow per doc, 12-dp-rounded and summed as
    * DECIMAL(38,12). */
  def softdedupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val d = t(s, dir, "documents").select($"doc_id", $"source", $"text")
    val variants = d.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 4000000L).as("doc_id"), $"source",
        regexp_replace(upper($"text"), " ", "  ").as("text"))
    val crawl = d.unionByName(variants)
      .withColumn("norm_sha", sha2(expr(
        "nfc_normalize(trim(regexp_replace(lower(text), '\\\\s+', ' ')))"),
        256))
    val sizes = crawl.groupBy($"norm_sha").agg(count(lit(1)).as("c"))
    crawl.join(sizes, "norm_sha")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"c" >= 2).cast("long")).as("n_dup_docs"),
        sum(round(lit(1.0) / $"c".cast("double"), 12)
          .cast("decimal(38,12)")).as("hard"),
        sum(round(pow($"c".cast("double"), -0.5), 12)
          .cast("decimal(38,12)")).as("soft"))
      .select($"source", $"n_docs".cast("long").as("n_docs"),
        $"n_dup_docs".cast("long").as("n_dup_docs"),
        round($"hard".cast("double"), 6).as("hard_mass"),
        round($"soft".cast("double"), 6).as("soft_mass"),
        floor(lit(10000.0) * $"soft".cast("double")
          / $"n_docs".cast("double")).cast("long").as("soft_bp"))
      .orderBy($"source")
  }

  val softdedupSql: String =
    """WITH crawl AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000000, source, replace(upper(text), ' ', '  ')
      |  FROM documents WHERE doc_id % 5 = 0),
      |keyed AS (
      |  SELECT source,
      |    sha256(nfc_normalize(trim(
      |      regexp_replace(lower(text), '\s+', ' ', 'g')))) AS norm_sha
      |  FROM crawl),
      |sizes AS (SELECT norm_sha, COUNT(*) AS c FROM keyed GROUP BY 1)
      |SELECT k.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN s.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  ROUND(CAST(SUM(CAST(ROUND(1.0 / CAST(s.c AS DOUBLE), 12)
      |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS hard_mass,
      |  ROUND(CAST(SUM(CAST(ROUND(POWER(CAST(s.c AS DOUBLE), -0.5), 12)
      |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS soft_mass,
      |  CAST(FLOOR(CAST(10000 AS DOUBLE)
      |    * CAST(SUM(CAST(ROUND(POWER(CAST(s.c AS DOUBLE), -0.5), 12)
      |        AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS soft_bp
      |FROM keyed k JOIN sizes s USING (norm_sha)
      |GROUP BY 1 ORDER BY k.source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curate_softdedup" -> softdedupQ,
    "q_curate_coverage" -> coverageQ,
    "q_curate_gopher" -> gopherQ,
    "q_curate_ccnet" -> ccnetQ,
    "q_curate_budget" -> budgetQ,
    "q_sample_dsir" -> dsirQ,
    "q_sample_negatives" -> negativesQ,
    "q_pipeline_curate" -> curateQ,
    "q_tokenize_coverage" -> tokenizeCoverageQ,
    "q_curate_canonical" -> canonicalQ,
    "q_curate_curriculum" -> curriculumQ)

  def oracle: Map[String, String] = Map(
    "q_curate_softdedup" -> softdedupSql,
    "q_curate_coverage" -> coverageSql,
    "q_curate_gopher" -> gopherSql,
    "q_curate_ccnet" -> ccnetSql,
    "q_curate_budget" -> budgetSql,
    "q_sample_dsir" -> dsirSql,
    "q_sample_negatives" -> negativesSql,
    "q_pipeline_curate" -> curateSql,
    "q_tokenize_coverage" -> tokenizeCoverageSql,
    "q_curate_canonical" -> canonicalSql,
    "q_curate_curriculum" -> curriculumSql)
}
