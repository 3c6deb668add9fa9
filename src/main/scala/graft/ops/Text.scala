package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Text-analysis operators for a training-data pipeline over `documents`
  * (doc_id, text, lang, source, n_chars): per-document statistics, token
  * counting (whitespace + regex), per-language corpus aggregates, a
  * stopword-ratio language-ID heuristic, and bag-of-words document
  * fingerprinting.
  *
  * Scale notes (the 100 TB shapes):
  *  - per-doc stats are a pure map — no shuffle at all; whole-stage
  *    codegen over built-in higher-order functions, no UDFs;
  *  - corpus aggregates shuffle only (lang, partial-agg) pairs — the
  *    text column never moves (map-side combine);
  *  - fingerprint dedup shuffles a 32-byte md5 key, not the document.
  *
  * Tokenization contract (shared with [[Dedup]]): tokens are
  * `split(lower(text), ' ')` — byte-identical to the DuckDB oracle's
  * `string_split(lower(text), ' ')` on the single-space-separated corpus.
  */
object Text {

  /** documents + a `toks` column; single tokenization point so every
    * operator (and the oracle SQL) agrees on the token stream. */
  /** `spread = true` adds the [[graft.Tables.spread]] scan-parallelism
    * guard — ONLY for consumers whose per-doc compute dominates one
    * extra pass of the corpus bytes (A/B'd at sf0.1: mtld −1.1 s,
    * repetition −0.4 s, textrank/novelty −0.15 s; queries that filter
    * to a doc subset LOSE pushdown through the repartition and
    * regressed, so the default stays unspread). */
  private[ops] def withToks(s: SparkSession, dir: String,
      spread: Boolean = false): DataFrame = {
    val docs = t(s, dir, "documents")
    (if (spread) graft.Tables.spread(docs) else docs)
      .withColumn("toks", split(lower(col("text")), " "))
  }

  private[ops] val toksSql = "string_split(lower(text), ' ')"

  /** Per-document statistics: whitespace token count, distinct-token
    * count, regex token count (BPE-ish `[a-z0-9]+` word pieces), mean
    * token length, and type-token ratio. Pure map stage — at 100 TB this
    * runs at scan speed with zero exchange. */
  def stats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withToks(s, dir)
      .select($"doc_id", $"n_chars",
        size($"toks").as("n_tokens"),
        size(array_distinct($"toks")).as("n_uniq"),
        size(regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0)))
          .as("n_re_tokens"),
        round(expr("aggregate(toks, 0, (a, t) -> a + length(t))").cast("double")
          / size($"toks"), 6).as("avg_token_len"),
        round(size(array_distinct($"toks")).cast("double") / size($"toks"), 6)
          .as("ttr"))
      .orderBy($"doc_id")
      .limit(300)
  }

  val statsSql: String =
    s"""WITH d AS (SELECT doc_id, n_chars, text, $toksSql AS toks FROM documents)
      |SELECT doc_id, n_chars,
      |  CAST(LEN(toks) AS INT) AS n_tokens,
      |  CAST(LEN(list_distinct(toks)) AS INT) AS n_uniq,
      |  CAST(LEN(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_re_tokens,
      |  ROUND(CAST(list_reduce(list_transform(toks, t -> LENGTH(t)), (a, b) -> a + b) AS DOUBLE)
      |        / LEN(toks), 6) AS avg_token_len,
      |  ROUND(CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks), 6) AS ttr
      |FROM d ORDER BY doc_id LIMIT 300""".stripMargin

  /** Per-language corpus aggregates over the otherwise-unused lang /
    * source / n_chars columns. Only (lang, partials) cross the exchange —
    * map-side combine keeps the shuffle O(|langs| × partitions). */
  def langAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withToks(s, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        round(sum($"n_chars").cast("double") / count(lit(1)), 6).as("avg_chars"),
        countDistinct($"source").as("n_sources"),
        sum(size($"toks").cast("long")).as("total_tokens"))
      .orderBy($"lang")
  }

  val langAggSql: String =
    s"""WITH d AS (SELECT lang, source, n_chars, $toksSql AS toks FROM documents)
      |SELECT lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
      |  COUNT(DISTINCT source) AS n_sources,
      |  CAST(SUM(LEN(toks)) AS BIGINT) AS total_tokens
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Language-ID heuristic: ratio of tokens in a tiny English stopword
    * set. On this synthetic corpus (shared vocabulary across langs) the
    * ratio is not discriminative — the operator demonstrates the shape
    * (inline lexicon, lambda filter, thresholded guess), which is what a
    * real n-gram langid model plugs into. Deterministic: the ratio is an
    * exact small-int division, identical in both engines. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withToks(s, dir)
      .select($"doc_id", $"lang",
        round(expr(
          "size(filter(toks, t -> t IN ('the','a','of','and','to','in')))")
          .cast("double") / size($"toks"), 6).as("stop_ratio"))
      .withColumn("guess",
        when($"stop_ratio" >= 0.08, lit("en-like")).otherwise(lit("other")))
      .orderBy($"doc_id")
      .limit(300)
  }

  val langIdSql: String =
    s"""WITH d AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
      |r AS (SELECT doc_id, lang,
      |  ROUND(CAST(LEN(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |        / LEN(toks), 6) AS stop_ratio FROM d)
      |SELECT doc_id, lang, stop_ratio,
      |  CASE WHEN stop_ratio >= 0.08 THEN 'en-like' ELSE 'other' END AS guess
      |FROM r ORDER BY doc_id LIMIT 300""".stripMargin

  /** Document fingerprinting: md5 over the sorted distinct token set
    * (bag-of-words identity — robust to word order and repetition). The
    * aggregation shuffles only the 32-char fingerprint; groups with >1
    * doc are re-crawl candidates (21 real groups in the test corpus). */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withToks(s, dir)
      .select($"doc_id",
        md5(array_join(array_sort(array_distinct($"toks")), " ")).as("fp"))
      .groupBy($"fp")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
      .filter($"n_docs" > 1)
      .orderBy($"fp")
  }

  val fingerprintSql: String =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |f AS (SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp FROM d)
      |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM f GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin

  /** Per-language character-bigram profiles — the statistical basis a
    * real n-gram language-ID model trains on (rank-order of character
    * n-grams is the classic Cavnar–Trenkle signal): top-5 bigrams per
    * language by frequency. Explode happens before the shuffle, so only
    * (lang, bigram, partial-count) moves; the rank window partitions by
    * lang over ≤ alphabet² rows — bounded at any corpus size. */
  def bigramProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    // explode POSITIONS and slice in the projection rather than
    // materializing a per-doc array of bigram strings with a
    // higher-order transform: array lambdas are interpreted (no
    // doGenCode), while generate+substring stay in whole-stage codegen.
    // Modest win (2.5s → 2.2s at sf0.1) — the cost is dominated by the
    // one-row-per-character aggregate volume, which is inherent to
    // exact corpus-wide bigram counts; partial agg bounds the shuffle
    // at ≤ alphabet² rows per partition regardless of corpus size.
    val counts = t(s, dir, "documents")
      .withColumn("txt", lower(col("text")))
      .select($"lang", $"txt",
        explode(sequence(lit(1), length($"txt") - 1)).as("i"))
      .select($"lang", expr("substring(txt, i, 2)").as("bigram"))
      .groupBy($"lang", $"bigram")
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"cnt".desc, $"bigram".asc))
        .cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"lang", $"rank")
  }

  val bigramProfileSql: String =
    """WITH b AS (
      |  SELECT lang,
      |    unnest(list_transform(range(1, length(lower(text))),
      |                          i -> lower(text)[i:i+1])) AS bigram
      |  FROM documents),
      |c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM b GROUP BY lang, bigram),
      |r AS (SELECT lang, bigram, cnt,
      |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram ASC) AS rank
      |  FROM c)
      |SELECT lang, bigram, cnt, rank FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** Quality scoring: the filter stage of a training-data pipeline.
    * Length, mean-token-length, stopword-ratio and non-alpha-ratio
    * signals combine into a [0,1] score; `keep` is the pipeline's
    * accept/reject bit. All ratios are exact small-int divisions and the
    * score is a fixed linear combination — deterministic across engines.
    * Pure map stage: filters at scan speed at any scale. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = withToks(s, dir)
      .select($"doc_id", $"lang",
        size($"toks").as("n_tokens"),
        (length($"text").cast("double") / size($"toks")).as("avg_tok_span"),
        (expr("size(filter(toks, t -> t IN ('the','a','of','and','to','in')))")
          .cast("double") / size($"toks")).as("stop_ratio"),
        (expr("size(filter(toks, t -> t RLIKE '^[a-z]+$'))").cast("double")
          / size($"toks")).as("alpha_ratio"))
    q.select($"doc_id", $"lang", $"n_tokens",
        round($"stop_ratio", 6).as("stop_ratio"),
        round($"alpha_ratio", 6).as("alpha_ratio"),
        round(
          when($"n_tokens" >= 20 && $"n_tokens" <= 1000, 0.4).otherwise(0.0) +
          when($"avg_tok_span" >= 3.0 && $"avg_tok_span" <= 12.0, 0.2).otherwise(0.0) +
          when($"stop_ratio" >= 0.01, 0.2).otherwise(0.0) +
          $"alpha_ratio" * 0.2, 6).as("quality"))
      .withColumn("keep", $"quality" >= 0.6)
      .orderBy($"doc_id")
      .limit(300)
  }

  val qualitySql: String =
    s"""WITH d AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
      |r AS (SELECT doc_id, lang,
      |  CAST(LEN(toks) AS INT) AS n_tokens,
      |  CAST(LENGTH(text) AS DOUBLE) / LEN(toks) AS avg_tok_span,
      |  CAST(LEN(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |    / LEN(toks) AS stop_ratio,
      |  CAST(LEN(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$$'))) AS DOUBLE)
      |    / LEN(toks) AS alpha_ratio
      |  FROM d),
      |sc AS (SELECT doc_id, lang, n_tokens,
      |  ROUND(stop_ratio, 6) AS stop_ratio,
      |  ROUND(alpha_ratio, 6) AS alpha_ratio,
      |  ROUND(
      |    (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END) +
      |    (CASE WHEN avg_tok_span BETWEEN 3.0 AND 12.0 THEN 0.2 ELSE 0.0 END) +
      |    (CASE WHEN stop_ratio >= 0.01 THEN 0.2 ELSE 0.0 END) +
      |    alpha_ratio * 0.2, 6) AS quality
      |  FROM r)
      |SELECT doc_id, lang, n_tokens, stop_ratio, alpha_ratio, quality,
      |  quality >= 0.6 AS keep
      |FROM sc ORDER BY doc_id LIMIT 300""".stripMargin

  /** Rolling-hash fingerprints via the native [[graft.functions.RollingHash]]
    * expression (whole-stage-codegen byte loop — registered on the
    * session imperatively; clusters use spark.sql.extensions). */
  def rollhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select($"doc_id",
        expr("rolling_hash(text)").as("rh"),
        expr("rolling_hash(lower(text))").as("rh_lower"))
      .orderBy($"doc_id")
      .limit(300)
  }

  /** Same Rabin–Karp fold over ascii codes (byte==codepoint on this
    * ASCII corpus); DuckDB's seedless list_reduce starts the chain at
    * c₀ = (0·B + c₀), identical to the expression's 0-seeded loop. */
  val rollhashSql: String =
    """SELECT doc_id,
      |  list_reduce(list_transform(range(1, length(text) + 1), i -> ascii(text[i:i])::BIGINT),
      |              (h, c) -> (h * 31 + c) % 1000000007) AS rh,
      |  list_reduce(list_transform(range(1, length(lower(text)) + 1), i -> ascii(lower(text)[i:i])::BIGINT),
      |              (h, c) -> (h * 31 + c) % 1000000007) AS rh_lower
      |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin

  /** Deterministic train/val/test assignment — the pipeline op that must
    * be reproducible across runs AND engines: bucket = 60 md5 bits of
    * the doc id, mod 100 → 80/10/10 split. Pure map + tiny aggregate;
    * at 100 TB the assignment is a scan-speed projection (no RNG state,
    * no sampling shuffle). */
  def splitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .withColumn("split", Hashing.splitLabel($"doc_id".cast("string")))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"split")
  }

  val splitAssignSql: String =
    """WITH a AS (
      |  SELECT *,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT % 100 AS bucket
      |  FROM documents),
      |l AS (SELECT *, CASE WHEN bucket < 80 THEN 'train'
      |                     WHEN bucket < 90 THEN 'val'
      |                     ELSE 'test' END AS split FROM a)
      |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM l GROUP BY split ORDER BY split""".stripMargin

  /** q_split_groupfold entry: GROUPED K-FOLD assignment (scikit's
    * GroupKFold, hash-deterministic) — folds are assigned to the GROUP
    * (user), not the row, so no user's events straddle a fold boundary:
    * the split that prevents user-level leakage when evaluating any
    * per-event model (churn, conversion, anomaly). Per fold: user and
    * event counts, event share, purchase rate (the label-balance
    * readout — grouped folds trade balance for leak-freedom and this
    * column shows the price), and a COMPUTED leaky-user count (users
    * seen in >1 fold — zero by construction, the in-result gate).
    *
    * Scale shape: fold is a map-stage hash of the group key; per-fold
    * stats are one combinable aggregate; the audit runs on the
    * user-fold frame (one row per user). Determinism: md5-bucket
    * assignment, exact counts, one division per rate. */
  def groupFoldQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .withColumn("fold", pmod(Hashing.md5Long60($"user_id".cast("string")),
        lit(5L)))
    val userFolds = ev.select($"user_id", $"fold").distinct()
    val leak = userFolds.groupBy($"user_id")
      .agg(countDistinct($"fold").as("nf"))
    val leakyPerFold = userFolds.join(leak, "user_id")
      .groupBy($"fold")
      .agg(sum(when($"nf" > 1, 1L).otherwise(0L)).as("leaky_users"))
    val tot = ev.agg(count(lit(1)).as("n_total"))
    ev.groupBy($"fold")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purchase"))
      .join(leakyPerFold, "fold")
      .crossJoin(broadcast(tot))
      .select($"fold", $"n_users", $"n_events",
        round($"n_events".cast("double") / $"n_total", 6).as("event_share"),
        round($"n_purchase".cast("double") / $"n_events", 6)
          .as("purchase_rate"),
        $"leaky_users")
      .orderBy($"fold")
  }

  val groupFoldSql: String =
    """WITH ev AS (
      |  SELECT *,
      |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT::BIGINT % 5
      |      AS fold
      |  FROM events),
      |uf AS (SELECT DISTINCT user_id, fold FROM ev),
      |lk AS (SELECT user_id, COUNT(DISTINCT fold) AS nf FROM uf GROUP BY 1),
      |lpf AS (
      |  SELECT fold, SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS leaky_users
      |  FROM uf JOIN lk USING (user_id) GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_total FROM ev)
      |SELECT ev.fold,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_total), 6) AS event_share,
      |  ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS purchase_rate,
      |  CAST(MAX(leaky_users) AS BIGINT) AS leaky_users
      |FROM ev JOIN lpf ON lpf.fold = ev.fold, tot
      |GROUP BY ev.fold ORDER BY ev.fold""".stripMargin

  /** Training-mix construction: down-sample each source to a target
    * rate so the retained corpus matches a desired mixture (the knob
    * every LLM data pipeline turns: web-heavy in, balanced out). The
    * keep decision is a CONTENT-hash bucket against the source's
    * per-cent rate — deterministic and reproducible (same doc always
    * keeps/drops, any cluster size, no RNG state, no sampling shuffle);
    * `rates` is a (source, pct) dimension joined broadcast, the shape
    * that scales to thousands of sources. Returns the retained rows. */
  def sampleMixture(docs: DataFrame, rates: DataFrame): DataFrame =
    docs
      .withColumn("__bucket", Hashing.md5Bucket(col("text"), 100))
      .join(broadcast(rates), "source")
      .filter(col("__bucket") < col("pct"))
      .drop("__bucket", "pct")

  /** Demo rates for the 20-source test corpus: keep all of src0–4, half
    * of src5–9, a quarter of src10–19. */
  private def demoRates(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 20)
      .map(i => (s"src$i", if (i < 5) 100 else if (i < 10) 50 else 25))
      .toDF("source", "pct")
  }

  /** Driver row for [[sampleMixture]]: per-source accounting (total vs
    * kept) so the oracle verifies the realized mix, not just row counts. */
  def mixtureQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val kept = sampleMixture(docs, demoRates(s))
      .groupBy($"source").agg(count(lit(1)).as("n_kept"))
    docs.groupBy($"source").agg(count(lit(1)).as("n_total"))
      .join(broadcast(demoRates(s)), "source")
      .join(kept, Seq("source"), "left")
      .select($"source", $"pct", $"n_total",
        coalesce($"n_kept", lit(0L)).as("n_kept"))
      .orderBy($"source")
  }

  val sampleMixtureSql: String =
    """WITH rates AS (
      |  SELECT 'src' || i::VARCHAR AS source,
      |    CASE WHEN i < 5 THEN 100 WHEN i < 10 THEN 50 ELSE 25 END AS pct
      |  FROM range(0, 20) t(i)),
      |b AS (SELECT source,
      |  ('0x' || substr(md5(text), 1, 15))::UBIGINT::BIGINT % 100 AS bucket
      |  FROM documents)
      |SELECT b.source, r.pct, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN bucket < pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM b JOIN rates r ON b.source = r.source
      |GROUP BY b.source, r.pct ORDER BY b.source""".stripMargin

  /** Temperature-scaled source mixing (the multilingual-training
    * upsampling rule: sample source s with probability
    * p_s^α / Σ p_t^α, α = 0.3) — flattens the natural size
    * distribution so small sources aren't drowned, without the
    * uniform-mix extreme. Reports, per source, its natural char share,
    * its α-scaled sampling weight, the expected document allocation
    * out of a 100k-doc budget, and the implied up/down-sampling factor.
    *
    * Scale shape: the corpus collapses to one combinable
    * groupBy(source) of exact integer char sums; everything after is
    * arithmetic over |sources| rows with a broadcast 1-row total —
    * scan speed at any corpus size.
    *
    * Determinism: char counts are exact integers; shares, `power`, and
    * ratios are shared-order IEEE expressions (libm parity as with
    * ln in [[Drift.psi]]) rounded to 6 dp before output. */
  def temperatureQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val alpha = 0.3
    val bySrc = t(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
    val tot = bySrc.agg(sum($"chars").as("tot_chars"))
    val scaled = bySrc.crossJoin(broadcast(tot))
      .withColumn("p", $"chars".cast("double") / $"tot_chars")
      .withColumn("pa", pow($"p", lit(alpha)))
    val z = scaled.agg(sum(round($"pa", 9).cast("decimal(28,9)")).as("z"))
    scaled.crossJoin(broadcast(z))
      .withColumn("w", round($"pa", 9) / $"z".cast("double"))
      .select($"source", $"n_docs".cast("long").as("n_docs"),
        $"chars".cast("long").as("chars"),
        round($"p", 6).as("p_natural"),
        round($"w", 6).as("w_sampling"),
        floor($"w" * lit(100000d)).cast("long").as("alloc_docs"),
        round($"w" / $"p", 6).as("upsample_factor"))
      .orderBy($"source")
  }

  val temperatureSql: String =
    """WITH bysrc AS (
      |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS chars
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(chars) AS tot_chars FROM bysrc),
      |scaled AS (
      |  SELECT source, n_docs, chars,
      |    CAST(chars AS DOUBLE) / tot_chars AS p,
      |    POWER(CAST(chars AS DOUBLE) / tot_chars, 0.3) AS pa
      |  FROM bysrc, tot),
      |z AS (SELECT SUM(CAST(ROUND(pa, 9) AS DECIMAL(28,9))) AS z
      |  FROM scaled)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(chars AS BIGINT) AS chars,
      |  ROUND(p, 6) AS p_natural,
      |  ROUND(ROUND(pa, 9) / CAST(z AS DOUBLE), 6) AS w_sampling,
      |  CAST(FLOOR(ROUND(pa, 9) / CAST(z AS DOUBLE) * 100000) AS BIGINT)
      |    AS alloc_docs,
      |  ROUND(ROUND(pa, 9) / CAST(z AS DOUBLE) / p, 6) AS upsample_factor
      |FROM scaled, z ORDER BY source""".stripMargin

  /** Per-document top-3 TF-IDF terms — the keyword-extraction /
    * doc-representation primitive (smoothed IDF: ln((N+1)/(df+1))).
    *
    * Scale shape: term frequencies are a map-side-combinable
    * (doc, term) aggregate; document frequencies reduce to ONE row per
    * vocabulary term, so the IDF dimension is vocabulary-bounded
    * (≪ corpus at any scale — Heaps' law) and joins BROADCAST against
    * the tf rows; the per-doc rank window partitions by doc_id, whose
    * group size is bounded by document length, never corpus size. The
    * corpus cardinality N enters as a broadcast 1-row cross join —
    * never a driver-side collect. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val terms = withToks(s, dir).select($"doc_id", explode($"toks").as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val docFreq = terms.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(docFreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        $"tf" * log(($"n_docs".cast("double") + 1.0) / ($"df".cast("double") + 1.0)))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term".asc)))
      .filter($"rk" <= 3)
      .select($"doc_id", $"term", $"tf", $"df",
        round($"tfidf", 6).as("tfidf"), $"rk".cast("int").as("rk"))
      .orderBy($"doc_id", $"rk")
      .limit(300)
  }

  val tfidfSql: String =
    s"""WITH terms AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |docf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |sc AS (
      |  SELECT doc_id, tf.term, tf, df,
      |    tf * ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS tfidf
      |  FROM tf JOIN docf USING (term), n),
      |r AS (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk FROM sc)
      |SELECT doc_id, term, tf, df, ROUND(tfidf, 6) AS tfidf, CAST(rk AS INT) AS rk
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk LIMIT 300""".stripMargin

  /** Per-(doc_id, term) counts `tf` of the query `terms` over the
    * tokenized corpus `docs` (doc_id, toks); the `isin` filter sits on
    * the explode, so only query-term postings survive it. */
  private[ops] def queryTf(docs: DataFrame, terms: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode($"toks").as("term"))
      .filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
  }

  /** Okapi BM25 term weights (k1 = 1.2, b = 0.75, Lucene idf
    * ln(1 + (N − df + 0.5)/(df + 0.5))): the hit rows `tf` (doc_id,
    * term, tf, …) over the tokenized corpus `docs` (doc_id, toks),
    * joined with the term's df, the doc length dl and the corpus
    * n_docs / avgdl (vocabulary- and O(1)-bounded broadcasts), plus
    * `idf` and the unrounded weight `w`. Rounding, casts and the per-doc
    * merge stay with each caller. */
  private[ops] def bm25Weights(docs: DataFrame, tf: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val dl = docs.select($"doc_id", size($"toks").cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg($"dl").as("avgdl"))
    val docFreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(docFreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0))
      .withColumn("w",
        $"idf" * ($"tf" * 2.2) / ($"tf" + (lit(0.25) + $"dl" * 0.75 / $"avgdl") * 1.2))
  }

  /** BM25 keyword retrieval (Okapi, Lucene idf form; k1 = 1.2,
    * b = 0.75): top-20 documents for a fixed query term set — the
    * lexical half of hybrid retrieval next to [[Similarity]]'s vector
    * half, and the relevance scorer quality-filtering pipelines use for
    * targeted corpus slices. Query mixes one rare term (high idf) with
    * two common ones, so the ranking exercises both idf ends.
    *
    * Scale shape: the query-term `isin` filter sits directly on the
    * exploded token stream, so only query-term postings survive the
    * explode — tf volume ∝ query hits, not corpus tokens (the batch
    * analog of an inverted-index lookup; the per-term df and corpus
    * (N, avgdl) statistics are vocabulary-/O(1)-bounded broadcasts).
    * Per-term weights are rounded to 9 dp and summed as DECIMAL(28,9) —
    * an exact, order-independent merge, so the ranking cannot drift
    * across partitionings or engines (same contract as [[entropy]]). */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qTerms = Seq("dup", "vector", "spark")
    val docs = withToks(s, dir).select($"doc_id", $"toks")
    bm25Weights(docs, queryTf(docs, qTerms))
      .groupBy($"doc_id")
      .agg(sum(round($"w", 9).cast("decimal(28,9)")).as("sc"),
        count(lit(1)).cast("int").as("n_terms_hit"))
      .select($"doc_id", round($"sc".cast("double"), 6).as("bm25"), $"n_terms_hit")
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
  }

  /** q_eval_ndcg entry: NDCG@20 of the [[bm25]] ranking against a
    * graded relevance oracle — rel(doc) = how many distinct query
    * terms the document contains (0..3), exactly the `n_terms_hit` the
    * BM25 row already carries. DCG = Σ (2^rel − 1)/log₂(rank + 1) over
    * the BM25 order; IDCG re-ranks the WHOLE corpus by relevance
    * (ideal ordering); NDCG = DCG/IDCG — the standard IR-eval readout
    * (next to q_eval_auc's classification AUC) that answers "does the
    * scorer put the most-relevant documents first?" Precision@10 rides
    * along.
    *
    * Scale shape: identical to [[bm25]] (postings ∝ query hits) plus
    * two bounded top-20 windows. Determinism: rel and ranks are exact
    * integers; each gain term rounds to 9 dp and sums as
    * DECIMAL(28,9); ties in both orderings break on doc_id. */
  def ndcgQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val qTerms = Seq("dup", "vector", "spark")
    val docs = withToks(s, dir).select($"doc_id", $"toks")
    val scoredDocs = bm25Weights(docs, queryTf(docs, qTerms))
      .groupBy($"doc_id")
      .agg(sum(round($"w", 9).cast("decimal(28,9)")).as("sc"),
        count(lit(1)).as("rel")) // graded relevance = distinct terms hit
    def gain(relCol: org.apache.spark.sql.Column,
        rankCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round((pow(lit(2d), relCol.cast("double")) - 1d) /
        (log(rankCol.cast("double") + 1d) / log(lit(2d))), 9)
        .cast("decimal(28,9)")
    val byScore = Rank.topK(scoredDocs,
      Seq($"sc".desc, $"doc_id"), 20, "rank")
    val byRel = Rank.topK(scoredDocs,
      Seq($"rel".desc, $"doc_id"), 20, "irank")
    val dcg = byScore
      .agg(sum(gain($"rel", $"rank")).as("dcg"),
        sum(when($"rank" <= 10 && $"rel" > 0, 1L).otherwise(0L)).as("hits10"))
    val idcg = byRel.agg(sum(gain($"rel", $"irank")).as("idcg"))
    dcg.crossJoin(broadcast(idcg))
      .select(
        round($"dcg".cast("double"), 6).as("dcg"),
        round($"idcg".cast("double"), 6).as("idcg"),
        round($"dcg".cast("double") / $"idcg".cast("double"), 6).as("ndcg"),
        round($"hits10".cast("double") / 10d, 6).as("p_at_10"))
  }

  val ndcgSql: String =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM
      |  (SELECT doc_id, unnest(toks) AS term FROM tk)
      |  WHERE term IN ('dup', 'vector', 'spark') GROUP BY 1, 2),
      |docf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    SUM(CAST(ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)
      |      AS DECIMAL(28,9))) AS sc,
      |    CAST(COUNT(*) AS BIGINT) AS rel
      |  FROM tf JOIN docf USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st
      |  GROUP BY tf.doc_id),
      |bs AS (
      |  SELECT rel, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
      |  FROM sc),
      |br AS (
      |  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS irank
      |  FROM sc),
      |d AS (
      |  SELECT
      |    SUM(CAST(ROUND((POWER(2, CAST(rel AS DOUBLE)) - 1)
      |      / (LN(CAST(rank AS DOUBLE) + 1) / LN(2.0::DOUBLE)), 9)
      |      AS DECIMAL(28,9))) AS dcg,
      |    CAST(SUM(CASE WHEN rank <= 10 AND rel > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hits10
      |  FROM bs WHERE rank <= 20),
      |i AS (
      |  SELECT SUM(CAST(ROUND((POWER(2, CAST(rel AS DOUBLE)) - 1)
      |    / (LN(CAST(irank AS DOUBLE) + 1) / LN(2.0::DOUBLE)), 9)
      |    AS DECIMAL(28,9))) AS idcg
      |  FROM br WHERE irank <= 20)
      |SELECT ROUND(CAST(dcg AS DOUBLE), 6) AS dcg,
      |  ROUND(CAST(idcg AS DOUBLE), 6) AS idcg,
      |  ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg,
      |  ROUND(CAST(hits10 AS DOUBLE) / 10, 6) AS p_at_10
      |FROM d, i""".stripMargin

  /** q_eval_err entry: EXPECTED RECIPROCAL RANK (Chapelle et al. 2009)
    * of the [[bm25]] ranking — the cascade-model IR metric: a user
    * scans ranks top-down, stops at rank r with probability
    * Rᵣ·Π_{i<r}(1−Rᵢ) where R = (2^rel−1)/2^gmax (gmax = 3 = the max
    * distinct-query-terms grade), and ERR = E[1/stop-rank]. Unlike
    * [[ndcgQ]], ERR penalizes redundancy below an already-satisfying
    * result — the metric of choice for graded web-style relevance.
    * Reported @10 and @20.
    *
    * Scale shape: identical postings cost to [[bm25]]; the cascade
    * fold runs over a COLLECTED ≤20-element array on a 1-row frame —
    * the only sequential dependence in the metric, kept off the
    * corpus. Determinism: grades are exact integers, R and 1−R are
    * exact dyadic rationals (k/8), and both engines run the identical
    * left-to-right IEEE fold (Spark `aggregate` HOF ≡ DuckDB recursive
    * CTE), final round 6. */
  def errQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val qTerms = Seq("dup", "vector", "spark")
    val docs = withToks(s, dir).select($"doc_id", $"toks")
    val scoredDocs = bm25Weights(docs, queryTf(docs, qTerms))
      .groupBy($"doc_id")
      .agg(sum(round($"w", 9).cast("decimal(28,9)")).as("sc"),
        count(lit(1)).as("rel"))
    val top = Rank.topK(scoredDocs, Seq($"sc".desc, $"doc_id"), 20, "rank")
    def fold(upTo: Int) = expr(
      s"""aggregate(slice(rels, 1, $upTo),
         |  struct(cast(0.0 as double) as s, cast(1.0 as double) as p,
         |    cast(1 as int) as r),
         |  (acc, g) -> struct(
         |    acc.s + acc.p * ((pow(2.0, cast(g as double)) - 1.0) / 8.0)
         |      / cast(acc.r as double),
         |    acc.p * (1.0 - (pow(2.0, cast(g as double)) - 1.0) / 8.0),
         |    acc.r + 1),
         |  acc -> acc.s)""".stripMargin.replace("\n", " "))
    top
      .agg(expr("transform(array_sort(collect_list(struct(rank, rel))), x -> x.rel)")
          .as("rels"),
        count(lit(1)).as("n_ranked"))
      .select($"n_ranked".cast("long").as("n_ranked"),
        round(fold(10), 6).as("err_at_10"),
        round(fold(20), 6).as("err_at_20"))
  }

  val errSql: String =
    s"""WITH RECURSIVE tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM
      |  (SELECT doc_id, unnest(toks) AS term FROM tk)
      |  WHERE term IN ('dup', 'vector', 'spark') GROUP BY 1, 2),
      |docf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    SUM(CAST(ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)
      |      AS DECIMAL(28,9))) AS sc,
      |    CAST(COUNT(*) AS BIGINT) AS rel
      |  FROM tf JOIN docf USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st
      |  GROUP BY tf.doc_id),
      |tops AS (
      |  SELECT * FROM (
      |    SELECT rel, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
      |    FROM sc) WHERE rank <= 20),
      |rec AS (
      |  SELECT 0 AS r, CAST(0.0 AS DOUBLE) AS sm, CAST(1.0 AS DOUBLE) AS p
      |  UNION ALL
      |  SELECT t.rank,
      |    f.sm + f.p * ((POWER(2.0, CAST(t.rel AS DOUBLE)) - 1.0) / 8.0)
      |      / CAST(t.rank AS DOUBLE),
      |    f.p * (1.0 - (POWER(2.0, CAST(t.rel AS DOUBLE)) - 1.0) / 8.0)
      |  FROM rec f JOIN tops t ON t.rank = f.r + 1)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tops) AS n_ranked,
      |  (SELECT ROUND(sm, 6) FROM rec
      |   WHERE r = LEAST(10, (SELECT MAX(r) FROM rec))) AS err_at_10,
      |  (SELECT ROUND(sm, 6) FROM rec
      |   WHERE r = (SELECT MAX(r) FROM rec)) AS err_at_20""".stripMargin

  val bm25Sql: String =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM
      |  (SELECT doc_id, unnest(toks) AS term FROM tk)
      |  WHERE term IN ('dup', 'vector', 'spark') GROUP BY 1, 2),
      |docf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
      |  FROM tf JOIN docf USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st)
      |SELECT doc_id,
      |  ROUND(CAST(SUM(CAST(ROUND(w, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25,
      |  CAST(COUNT(*) AS INT) AS n_terms_hit
      |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** q_rank_fusion entry: HYBRID retrieval by Reciprocal Rank Fusion
    * (Cormack et al. 2009) — the standard way production search stacks
    * combine a lexical ranker with a vector ranker without score
    * calibration: rrf(d) = Σ_legs 1/(60 + rank_leg(d)), using only the
    * RANKS. Leg 1 is the [[bm25]] top-20 for the fixed query terms;
    * leg 2 is the cosine top-20 of the corpus against document 0's
    * embedding (doc_id and vec_id are aligned in the fixture). Docs
    * missing from a leg contribute 0 from it; the fused top-15 is the
    * answer a RAG retriever would return.
    *
    * Scale shape: the lexical leg is the BM25 shape (postings ∝ query
    * hits); the vector leg is a broadcast 1-row query against a narrow
    * corpus scan, collapsed by the bounded [[Similarity.TopKByScore]]
    * aggregator (map-side ≤k state — no corpus-wide sort). Fusion then
    * operates on ≤40 rows. Determinism: ranks are exact integers with
    * doc_id tiebreaks; each rrf term is 1/(60+r) in a fixed two-term
    * IEEE sum, identical formula text on both engines. */
  def rankFusionQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val qTerms = Seq("dup", "vector", "spark")
    val docs = withToks(s, dir).select($"doc_id", $"toks")
    val lexScored = bm25Weights(docs, queryTf(docs, qTerms))
      .groupBy($"doc_id")
      .agg(sum(round($"w", 9).cast("decimal(28,9)")).as("sc"))
    val lex = Rank.topK(lexScored,
      Seq($"sc".desc, $"doc_id"), 20, "lex_rank")
      .select($"doc_id", $"lex_rank")
    val e = Similarity.widened(t(s, dir, "embeddings"))
    val q = e.filter($"vec_id" === 0).select($"v".as("qv"), $"nrm".as("qn"))
    val scored = e.filter($"vec_id" >= 1)
      .crossJoin(broadcast(q))
      .withColumn("query_id", lit(0L))
      .withColumn("cos", Similarity.dot($"qv", $"v") / ($"qn" * $"nrm"))
    val sem = Similarity
      .topkByKey(scored, 20, "query_id", "cos", "sem_score", "sem_rank")
      .select($"vec_id".as("doc_id"), $"sem_rank")
    lex.join(sem, Seq("doc_id"), "full")
      .select($"doc_id",
        coalesce($"lex_rank", lit(0)).cast("int").as("lex_rank"),
        coalesce($"sem_rank", lit(0)).cast("int").as("sem_rank"),
        round(
          coalesce(lit(1d) / (lit(60) + $"lex_rank"), lit(0d)) +
          coalesce(lit(1d) / (lit(60) + $"sem_rank"), lit(0d)), 6).as("rrf"))
      .withColumn("fused_rank", row_number().over(
        Window.orderBy($"rrf".desc, $"doc_id")).cast("int"))
      .filter($"fused_rank" <= 15)
      .orderBy($"fused_rank")
  }

  val rankFusionSql: String =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM
      |  (SELECT doc_id, unnest(toks) AS term FROM tk)
      |  WHERE term IN ('dup', 'vector', 'spark') GROUP BY 1, 2),
      |docf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |bs AS (SELECT tf.doc_id,
      |    SUM(CAST(ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)
      |      AS DECIMAL(28,9))) AS sc
      |  FROM tf JOIN docf USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st
      |  GROUP BY tf.doc_id),
      |lex AS (SELECT doc_id, CAST(rk AS INT) AS lex_rank FROM
      |  (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rk
      |   FROM bs)
      |  WHERE rk <= 20),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
      |                     (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |qv AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0),
      |cs AS (SELECT vec_id,
      |    list_reduce(list_transform(range(1, 65), i -> qv[i] * v[i]),
      |                (a, b) -> a + b) / (qn * nrm) AS cos
      |  FROM e, qv WHERE vec_id >= 1),
      |sem AS (SELECT vec_id AS doc_id, CAST(rk AS INT) AS sem_rank FROM
      |  (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rk
      |   FROM cs)
      |  WHERE rk <= 20),
      |fused AS (
      |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
      |    COALESCE(lex_rank, 0) AS lex_rank,
      |    COALESCE(sem_rank, 0) AS sem_rank,
      |    ROUND(COALESCE(1.0::DOUBLE / (60 + lex_rank), 0.0::DOUBLE)
      |      + COALESCE(1.0::DOUBLE / (60 + sem_rank), 0.0::DOUBLE), 6) AS rrf
      |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
      |SELECT doc_id, lex_rank, sem_rank, rrf,
      |  CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT)
      |    AS fused_rank
      |FROM fused
      |QUALIFY fused_rank <= 15
      |ORDER BY fused_rank""".stripMargin

  /** First BPE merge iteration — the tokenizer-training primitive: count
    * every adjacent character-pair occurrence across the corpus, weighted
    * by word frequency (the statistic whose argmax IS the first BPE
    * merge; [[vocabTop]] gives the word-level curve, this gives the
    * subword-level one). Top-20 pairs with occurrence and
    * distinct-word counts — all integers, so the oracle compare is
    * exact with no FP contract at all.
    *
    * Scale shape: the corpus collapses to the word VOCABULARY first
    * (map-side-combinable count, exchange O(|vocab| × partitions),
    * Heaps'-bounded), and pair explosion runs over vocabulary entries —
    * corpus text is scanned once and never shuffled. A 100 TB corpus has
    * the same few-million-row vocabulary as a 1 TB one, so every BPE
    * iteration after the first costs the same small job over the updated
    * symbol sequences. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = withToks(s, dir)
      .select(explode($"toks").as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    words
      .select($"w", $"freq", explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy($"pair")
      .agg(sum($"freq").as("n_occurrences"),
        countDistinct($"w").as("n_words"))
      .orderBy($"n_occurrences".desc, $"pair")
      .limit(20)
  }

  val bpePairsSql: String =
    s"""WITH w AS (SELECT t AS w, COUNT(*) AS freq FROM
      |    (SELECT unnest($toksSql) AS t FROM documents)
      |  WHERE length(t) >= 2 GROUP BY 1),
      |p AS (SELECT w, freq, unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair
      |  FROM w)
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences, COUNT(DISTINCT w) AS n_words
      |FROM p GROUP BY pair ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin

  /** q_bpe_train entry: the actual BPE TRAINING LOOP (Sennrich et al.
    * 2016) — three unrolled merge rounds, each selecting the corpus's
    * most frequent adjacent symbol pair and rewriting every vocabulary
    * entry's symbol sequence, emitting the learned MERGE TABLE (round,
    * pair, count-at-selection): the artifact a tokenizer ships.
    * [[bpePairs]] is round one's statistic; this runs the loop, so the
    * later rounds see post-merge symbols (e.g. round 2 can pick
    * ('th', 'e') only because round 1 fused 'th').
    *
    * Symbol encoding is the cross-engine contract: every symbol is
    * wrapped in its own spaces (`' d  a  t  a  </w> '`), so a merge is
    * ONE literal string replace of `' x  y '` with `' xy '` — plain
    * left-to-right non-overlapping replace IS BPE's left-greedy
    * application (overlapping runs like `a a a` fuse the left pair
    * first), identically in both engines, no regex lookarounds needed.
    *
    * Scale shape: the corpus collapses to the word vocabulary ONCE
    * (Heaps-bounded); every round is two vocabulary-sized jobs (pair
    * explode + combinable count; map-side rewrite against the 1-row
    * broadcast best-pair frame, audit-whitelisted). A 100 TB corpus
    * trains over the same few-million-row vocab as a 1 TB one; the
    * production loop swaps the fixed unroll for [[graft.ops.Iterate]]
    * to a merge budget. */
  def bpeTrainQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairsOf = """transform(sequence(1, size(syms) - 1),
      | i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"""
      .stripMargin
    var seqs = withToks(s, dir)
      .select(explode($"toks").as("w"))
      .filter($"w".rlike("^[a-z]+$"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select(concat(regexp_replace($"w", "(.)", " $1 "), lit(" </w> "))
        .as("seq"), $"cnt")
    var rules: DataFrame = null
    for (r <- 1 to 3) {
      val best = seqs
        .withColumn("syms", split(trim($"seq"), "  "))
        .select($"cnt", explode(expr(pairsOf)).as("p"))
        .groupBy($"p").agg(sum($"cnt").as("total"))
        .orderBy($"total".desc, $"p").limit(1)
      val rule = best.select(lit(r).as("round"), $"p".as("pair"),
        $"total".cast("long").as("pair_count"))
      rules = if (rules == null) rule else rules.unionAll(rule)
      seqs = seqs.crossJoin(broadcast(best.select($"p".as("bp"))))
        .select(expr(
          """replace(seq, concat(' ', replace(bp, ' ', '  '), ' '),
            |  concat(' ', replace(bp, ' ', ''), ' '))""".stripMargin)
          .as("seq"), $"cnt")
    }
    rules.orderBy($"round")
  }

  val bpeTrainSql: String = {
    // one merge round as SQL: pick the best pair from seqs CTE `prev`,
    // emit rule CTE `bN` and rewritten-vocab CTE `vN`
    def round(prev: String, b: String, v: String): String =
      s"""$b AS (
         |  SELECT p, SUM(cnt) AS total FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |      i -> syms[i] || ' ' || syms[i + 1])) AS p
         |    FROM (SELECT string_split(trim(seq), '  ') AS syms, cnt
         |          FROM $prev))
         |  GROUP BY p ORDER BY total DESC, p LIMIT 1),
         |$v AS (
         |  SELECT replace(seq, ' ' || replace(p, ' ', '  ') || ' ',
         |    ' ' || replace(p, ' ', '') || ' ') AS seq, cnt
         |  FROM $prev, $b)""".stripMargin
    s"""WITH v0 AS (
      |  SELECT ' ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w> ' AS seq,
      |    COUNT(*) AS cnt
      |  FROM (SELECT unnest($toksSql) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
      |${round("v0", "b1", "v1")},
      |${round("v1", "b2", "v2")},
      |${round("v2", "b3", "v3")}
      |SELECT 1 AS round, p AS pair, CAST(total AS BIGINT) AS pair_count FROM b1
      |UNION ALL
      |SELECT 2, p, CAST(total AS BIGINT) FROM b2
      |UNION ALL
      |SELECT 3, p, CAST(total AS BIGINT) FROM b3
      |ORDER BY round""".stripMargin
  }

  /** q_bpe_encode entry: APPLY the trained tokenizer — the encode half
    * that closes the [[bpeTrainQ]] loop: run the same 3 merge rounds
    * and report, per round, the corpus-weighted total symbol count and
    * the basis-point compression vs the character baseline (round 0).
    * This is the readout that justifies a tokenizer: each merge buys a
    * measurable reduction in tokens-per-corpus, and a merge table that
    * stops paying for itself shows up immediately as a flat curve.
    *
    * Scale shape: identical to training — the corpus collapses to the
    * word VOCABULARY first (Heaps'-bounded), merges broadcast as 1-row
    * frames, and each round's total is one combinable weighted sum
    * over vocabulary rows. All integers; no FP contract. */
  def bpeEncodeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    var seqs = withToks(s, dir)
      .select(explode($"toks").as("w"))
      .filter($"w".rlike("^[a-z]+$"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select(concat(regexp_replace($"w", "(.)", " $1 "), lit(" </w> "))
        .as("seq"), $"cnt")
    def totalOf(round: Int, df: DataFrame): DataFrame =
      df.select($"cnt",
          size(split(trim($"seq"), "  ")).cast("long").as("k"))
        .agg(sum($"cnt" * $"k").as("total_syms"))
        .select(lit(round).cast("long").as("round"), $"total_syms")
    var out = totalOf(0, seqs)
    val pairsOf = """transform(sequence(1, size(syms) - 1),
      | i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"""
      .stripMargin
    for (r <- 1 to 3) {
      val best = seqs
        .withColumn("syms", split(trim($"seq"), "  "))
        .select($"cnt", explode(expr(pairsOf)).as("p"))
        .groupBy($"p").agg(sum($"cnt").as("total"))
        .orderBy($"total".desc, $"p").limit(1)
      seqs = seqs.crossJoin(broadcast(best.select($"p".as("bp"))))
        .select(expr(
          """replace(seq, concat(' ', replace(bp, ' ', '  '), ' '),
            |  concat(' ', replace(bp, ' ', ''), ' '))""".stripMargin)
          .as("seq"), $"cnt")
      out = out.unionByName(totalOf(r, seqs))
    }
    val base = out.filter($"round" === 0)
      .select($"total_syms".as("t0"))
    out.crossJoin(broadcast(base))
      .select($"round", $"total_syms",
        expr("(10000 * (t0 - total_syms)) div t0").as("saved_bp"))
      .orderBy($"round")
  }

  val bpeEncodeSql: String = {
    def round(prev: String, b: String, v: String): String =
      s"""$b AS (
         |  SELECT p, SUM(cnt) AS total FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |      i -> syms[i] || ' ' || syms[i + 1])) AS p
         |    FROM (SELECT string_split(trim(seq), '  ') AS syms, cnt
         |          FROM $prev))
         |  GROUP BY p ORDER BY total DESC, p LIMIT 1),
         |$v AS (
         |  SELECT replace(seq, ' ' || replace(p, ' ', '  ') || ' ',
         |    ' ' || replace(p, ' ', '') || ' ') AS seq, cnt
         |  FROM $prev, $b)""".stripMargin
    def tot(round: Int, v: String): String =
      s"""SELECT $round AS round,
         |  CAST(SUM(cnt * len(string_split(trim(seq), '  '))) AS BIGINT)
         |    AS total_syms
         |FROM $v""".stripMargin
    s"""WITH v0 AS (
      |  SELECT ' ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w> ' AS seq,
      |    COUNT(*) AS cnt
      |  FROM (SELECT unnest($toksSql) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
      |${round("v0", "b1", "v1")},
      |${round("v1", "b2", "v2")},
      |${round("v2", "b3", "v3")},
      |u AS (
      |${tot(0, "v0")}
      |UNION ALL
      |${tot(1, "v1")}
      |UNION ALL
      |${tot(2, "v2")}
      |UNION ALL
      |${tot(3, "v3")}),
      |t0 AS (SELECT total_syms AS t0 FROM u WHERE round = 0)
      |SELECT CAST(round AS BIGINT) AS round, total_syms,
      |  (10000 * (t0 - total_syms)) // t0 AS saved_bp
      |FROM u, t0 ORDER BY round""".stripMargin
  }

  /** Per-document novelty / boilerplate score: the fraction of a doc's
    * distinct word-3-shingles that also occur in at least one OTHER
    * document. High shared_frac = boilerplate/templated content (the
    * doc-level summary of what [[graft.ops.Dedup.substringSpans]] locates
    * positionally); low = novel text. A standard corpus-quality signal
    * ranking docs by how much of them is corpus-redundant.
    *
    * Scale shape: one exchange+sort of the exploded shingle rows — the
    * shared-shingle test is `min(doc_id) OVER (PARTITION BY shingle) ≠
    * max(...)` (≡ appears-in-≥2-docs, same windowed trick measured 3–5×
    * cheaper than aggregate-then-join-back in substringSpans), then a
    * map-side-combinable per-doc rollup. Shuffle volume is O(total
    * shingles) — linear in corpus, keyed by the shingle. */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val sh = withToks(s, dir, spread = true)
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))))"))
        .as("g"))
    val wg = Window.partitionBy($"g")
    sh.withColumn("xdoc",
        (min($"doc_id").over(wg) =!= max($"doc_id").over(wg)).cast("int"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum($"xdoc").as("n_shared"))
      .select($"doc_id", $"n_shingles", $"n_shared",
        round($"n_shared".cast("double") / $"n_shingles", 6).as("shared_frac"))
      .orderBy($"doc_id")
      .limit(300)
  }

  val noveltySql: String =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |shing AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM tk WHERE len(toks) >= 3),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM shing),
      |m AS (SELECT doc_id,
      |  CASE WHEN MIN(doc_id) OVER (PARTITION BY g) <> MAX(doc_id) OVER (PARTITION BY g)
      |       THEN 1 ELSE 0 END AS xdoc FROM e)
      |SELECT doc_id, COUNT(*) AS n_shingles, CAST(SUM(xdoc) AS BIGINT) AS n_shared,
      |  ROUND(CAST(SUM(xdoc) AS DOUBLE) / COUNT(*), 6) AS shared_frac
      |FROM m GROUP BY doc_id ORDER BY doc_id LIMIT 300""".stripMargin

  /** Corpus-LM document scoring — the LM-based quality filter (the
    * CCNet/KenLM pipeline step, on a corpus-trained n-gram model):
    * per-document cross-entropy under an add-one-smoothed BIGRAM model
    * estimated from the corpus itself. Outlier (high-CE) docs read
    * unlike the corpus — the standard signal for quality buckets
    * (head/middle/tail) in pretraining curation.
    *
    * Model contract (pinned so both engines agree): p(w2|w1) =
    * (c(w1 w2) + 1) / (c(w1) + V), with c(w1) the corpus unigram count,
    * V the distinct-token vocabulary size; doc CE = −(Σ ln p)/n_bigrams.
    * Per-bigram logs are rounded to 9 dp and summed as DECIMAL(28,9) —
    * the [[entropy]]/[[bm25]] exact-merge contract, so scores cannot
    * drift with partitioning.
    *
    * Scale shape: both model tables are VOCABULARY-bounded (unigrams by
    * Heaps' law, observed bigrams ≪ V²) and BROADCAST against the
    * per-doc bigram stream; the stream itself is a pure explode of the
    * token array (volume = corpus tokens, no shuffle until the per-doc
    * map-side-combinable rollup). Training and scoring are ONE pass
    * each over the corpus — the exact layout of a distributed KenLM
    * scoring job, with the model artifact small enough to ship to every
    * executor. */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ceAll(s, dir).orderBy($"doc_id").limit(300)
  }

  /** Every document's bigram-LM cross-entropy (the [[lmScore]] model
    * contract, un-limited) — shared by the LM-score query and the
    * CCNet head/middle/tail bucketing in [[Curate.ccnetQ]]. */
  private[ops] def ceAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigramsOf =
      "transform(sequence(1, size(toks) - 1), i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2))"
    val docBi = withToks(s, dir)
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(bigramsOf)).as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
    val biCnt = docBi.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val uniCnt = withToks(s, dir)
      .select(explode($"toks").as("w1"))
      .groupBy($"w1").agg(count(lit(1)).as("cu"))
    val vocab = uniCnt.agg(countDistinct($"w1").cast("double").as("v"))
    docBi
      .join(broadcast(biCnt), Seq("w1", "w2"))
      .join(broadcast(uniCnt), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        log(($"cb".cast("double") + 1.0) / ($"cu".cast("double") + $"v")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round($"lp", 9).cast("decimal(28,9)")).as("slp"))
      .select($"doc_id", $"n_bigrams",
        round(-($"slp".cast("double")) / $"n_bigrams", 6).as("cross_entropy"))
  }

  /** DuckDB CTE chain computing `ce(doc_id, n_bigrams, cross_entropy)`
    * — the oracle twin of [[ceAll]], shared by [[lmScoreSql]] and the
    * CCNet bucketing oracle. */
  private[ops] val ceCtesSql: String =
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |db AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM tk, unnest(range(1, len(toks))) AS u(i)
      |  WHERE len(toks) >= 2),
      |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM db GROUP BY 1, 2),
      |uc AS (SELECT t AS w1, COUNT(*) AS cu FROM
      |  (SELECT unnest(toks) AS t FROM tk) GROUP BY 1),
      |v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uc),
      |sc AS (SELECT doc_id,
      |    LN((CAST(cb AS DOUBLE) + 1.0) / (CAST(cu AS DOUBLE) + v)) AS lp
      |  FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1), v),
      |ce AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(-CAST(SUM(CAST(ROUND(lp, 9) AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS cross_entropy
      |FROM sc GROUP BY doc_id)""".stripMargin

  val lmScoreSql: String =
    s"""WITH $ceCtesSql
      |SELECT doc_id, n_bigrams, cross_entropy
      |FROM ce ORDER BY doc_id LIMIT 300""".stripMargin

  /** Deterministic per-stratum fixed-size sampling: each language keeps
    * its k=20 docs with the smallest 53-bit md5 hash of the doc id —
    * the distributed, reproducible analog of per-stratum reservoir
    * sampling (hash order IS a uniform random order, but with no RNG
    * state, so any engine, run, or cluster size draws the same sample).
    *
    * Scale shape: the same bounded-aggregator pattern as similarity
    * top-k — [[TopKByScore]] holds ≤k rows of partial state per stratum
    * map-side, so only (#strata × partitions × k) rows cross the
    * exchange; a rank-window implementation would ship every row of
    * every stratum to one task each. The hash is truncated to 53 bits
    * (exact in double) so the aggregator's double score is lossless. */
  def stratifiedSample(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"lang".as[String],
        struct($"doc_id".as("vec_id"),
          (-shiftright(Hashing.md5Long60($"doc_id".cast("string")), 7))
            .cast("double").as("score")).as[Scored])
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopKByScore.column(k).name("top"))
      .toDF("lang", "top")
      .select($"lang", posexplode($"top"))
      .select($"lang", $"col.vec_id".as("doc_id"), ($"pos" + 1).cast("int").as("rk"))
      .orderBy($"lang", $"rk")
  }

  val stratifiedSampleSql: String =
    """WITH h AS (
      |  SELECT lang, doc_id,
      |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT >> 7) AS hv
      |  FROM documents),
      |r AS (SELECT lang, doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS rk
      |  FROM h)
      |SELECT lang, doc_id, CAST(rk AS INT) AS rk
      |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES):
    * per stratum, keep the k docs with the largest ln(u)/w where
    * u = deterministic md5-uniform in (0, 1] and w = the doc's weight
    * (here n_chars — longer docs proportionally likelier, the
    * "sample by token budget" curation primitive). A-ES is THE
    * one-pass distributed weighted sampler: selection needs no total
    * ordering, no RNG state, no sequential reservoir — any engine,
    * run, or partitioning draws the SAME sample because u comes from
    * the pinned [[Hashing.md5Long60]] contract, not an RNG.
    *
    * Scale shape: identical to [[stratifiedSample]] — the bounded
    * [[TopKByScore]] aggregator holds ≤k partial rows per stratum
    * map-side, so only (#strata × partitions × k) rows cross the
    * exchange. The A-ES key is the only double in play and it exists
    * to be ORDERED, not output: the emitted columns are ids and ranks,
    * so the oracle compare is FP-free (keys are continuous-random;
    * adjacent keys sit ~1/n apart, astronomically beyond the 1-ulp
    * libm-ln divergence that could reorder them). */
  def weightedSample(s: SparkSession, dir: String, k: Int = 15): DataFrame = {
    import s.implicits._
    val u = (Hashing.md5Long60(concat($"doc_id".cast("string"), lit(":wsample")))
      + 1).cast("double") / lit(1.152921504606846976e18)
    t(s, dir, "documents")
      .select($"lang".as[String],
        struct($"doc_id".as("vec_id"),
          (log(u) / $"n_chars").as("score")).as[Scored])
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopKByScore.column(k).name("top"))
      .toDF("lang", "top")
      .select($"lang", posexplode($"top"))
      .select($"lang", $"col.vec_id".as("doc_id"), ($"pos" + 1).cast("int").as("rk"))
      .orderBy($"lang", $"rk")
  }

  val weightedSampleSql: String =
    """WITH h AS (
      |  SELECT lang, doc_id, n_chars,
      |    (('0x' || substr(md5(doc_id::VARCHAR || ':wsample'), 1, 15))::UBIGINT::BIGINT + 1)
      |      / 1152921504606846976.0 AS u
      |  FROM documents),
      |r AS (SELECT lang, doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ln(u) / n_chars DESC, doc_id ASC) AS rk
      |  FROM h)
      |SELECT lang, doc_id, CAST(rk AS INT) AS rk
      |FROM r WHERE rk <= 15 ORDER BY lang, rk""".stripMargin

  /** q_sample_balanced entry: class-balanced downsampling — every
    * language keeps exactly the MINORITY class's count, selected in
    * deterministic md5-hash order (the same coin as splits/stratified,
    * so balance composes with them). The class-imbalance corrective for
    * classifier training sets and language-conditioned eval suites.
    * Output is the per-class accounting plus `kept_id_sum`, an
    * order-free exact membership digest: two engines agree on it iff
    * they kept EXACTLY the same documents.
    *
    * Scale: per-class counts are one combinable aggregate; the global
    * minority count is a 1-row broadcast; selection is one hash-ranked
    * window per class (class-partition-bounded sort). Nothing
    * corpus-global. */
  def balancedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"lang", $"doc_id",
        shiftright(Hashing.md5Long60($"doc_id".cast("string")), 7).as("hv"))
    val target = docs.groupBy($"lang").count()
      .agg(min($"count").as("tgt"))
    val ranked = docs.withColumn("rk",
      row_number().over(Window.partitionBy($"lang").orderBy($"hv", $"doc_id")))
    ranked
      .crossJoin(broadcast(target))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_before"),
        sum(when($"rk" <= $"tgt", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rk" <= $"tgt", $"doc_id")).as("kept_id_sum"))
      .orderBy($"lang")
  }

  val balancedSampleSql: String =
    """WITH h AS (
      |  SELECT lang, doc_id,
      |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT >> 7)
      |      AS hv
      |  FROM documents),
      |tgt AS (
      |  SELECT MIN(c) AS tgt FROM (
      |    SELECT COUNT(*) AS c FROM h GROUP BY lang)),
      |r AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
      |  FROM h)
      |SELECT lang, COUNT(*) AS n_before,
      |  CAST(SUM(CASE WHEN rk <= tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rk <= tgt THEN doc_id END) AS BIGINT)
      |    AS kept_id_sum
      |FROM r, tgt GROUP BY lang ORDER BY lang""".stripMargin

  /** Compression-ratio quality signal — deflate each document and
    * report compressed/raw size in basis points. The production corpus
    * filter the web-scale pipelines publish (highly compressible ⇒
    * repetitive boilerplate / generated spam; incompressible ⇒ possibly
    * binary junk): a cheap, language-agnostic complement to the
    * token-level [[repetition]] heuristics.
    *
    * Spec-verified, not oracle-registered: the DEFLATE byte stream is
    * JVM-library-specific, so no SQL engine can mirror it — exactly the
    * class of operator the `mapPartitions` escape hatch exists for. The
    * shape is still scan-local: one Deflater per partition (reset per
    * row, never reallocated), no shuffle, output is 4 small columns. */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](16384)
        it.map { case (id, txt) =>
          val bytes = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished())
            compressed += deflater.deflate(buf)
          val raw = math.max(1L, bytes.length.toLong)
          (id, bytes.length.toLong, compressed, 10000L * compressed / raw)
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed", "ratio_bp")
  }

  /** Repetition signals — the Gopher-family "repetitive text" quality
    * filters (Rae et al. 2021, public): fraction of tokens accounted for
    * by the most frequent token, fraction of word-bigram occurrences
    * that are duplicates, and the top-bigram fraction. Highly repetitive
    * documents (boilerplate, keyword stuffing, generation loops) are the
    * classic pretraining-corpus poison these thresholds strip.
    *
    * Scale shape: ZERO exchange — the max-multiplicity of a token array
    * is computed map-side by a run-length fold over the SORTED array
    * (equal tokens are adjacent after sort, so the longest run IS the
    * max count), and the duplicate-bigram fraction is
    * `size − size(array_distinct)`. The oracle computes the same values
    * the explode+groupBy way; this side never shuffles a token. All
    * ratios are exact integer divisions — deterministic across engines. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // longest run in a sorted array == max multiplicity; null-seeded
    // prev makes the first comparison null → run restarts at 1.
    def maxMult(arr: String) =
      s"""aggregate(array_sort($arr),
         |  named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
         |  (st, x) -> named_struct(
         |    'prev', x,
         |    'run', if(x = st.prev, st.run + 1L, 1L),
         |    'best', greatest(st.best, if(x = st.prev, st.run + 1L, 1L))),
         |  st -> st.best)""".stripMargin
    withToks(s, dir, spread = true)
      .withColumn("bigrams", expr(
        """if(size(toks) < 2, array(),
          |  transform(sequence(1, size(toks) - 1),
          |    i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"""
          .stripMargin))
      .select($"doc_id",
        size($"toks").as("n_tokens"),
        expr(maxMult("toks")).as("top_tok"),
        size($"bigrams").as("n_bigrams"),
        expr(maxMult("bigrams")).as("top_big"),
        size(array_distinct($"bigrams")).as("n_dist_big"))
      .select($"doc_id", $"n_tokens",
        round($"top_tok".cast("double") / $"n_tokens", 6).as("top_token_frac"),
        $"n_bigrams",
        round($"top_big".cast("double") / $"n_bigrams", 6).as("top_bigram_frac"),
        round(($"n_bigrams" - $"n_dist_big").cast("double") / $"n_bigrams", 6)
          .as("dup_bigram_frac"))
      .withColumn("keep",
        $"top_token_frac" <= 0.2 && $"dup_bigram_frac" <= 0.1)
      .orderBy($"doc_id")
      .limit(300)
  }

  val repetitionSql: String =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |b AS (SELECT doc_id, toks,
      |  list_transform(range(1, LEN(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bigrams
      |  FROM d),
      |tt AS (SELECT doc_id, MAX(c) AS top_tok FROM (
      |   SELECT doc_id, t, COUNT(*) AS c
      |   FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2) GROUP BY 1),
      |tb AS (SELECT doc_id, MAX(c) AS top_big FROM (
      |   SELECT doc_id, g, COUNT(*) AS c
      |   FROM (SELECT doc_id, unnest(bigrams) AS g FROM b) GROUP BY 1, 2) GROUP BY 1),
      |r AS (SELECT b.doc_id, CAST(LEN(toks) AS INT) AS n_tokens,
      |  ROUND(CAST(top_tok AS DOUBLE) / LEN(toks), 6) AS top_token_frac,
      |  CAST(LEN(bigrams) AS INT) AS n_bigrams,
      |  ROUND(CAST(top_big AS DOUBLE) / LEN(bigrams), 6) AS top_bigram_frac,
      |  ROUND(CAST(LEN(bigrams) - LEN(list_distinct(bigrams)) AS DOUBLE)
      |        / LEN(bigrams), 6) AS dup_bigram_frac
      |  FROM b JOIN tt USING (doc_id) JOIN tb ON b.doc_id = tb.doc_id)
      |SELECT *, top_token_frac <= 0.2 AND dup_bigram_frac <= 0.1 AS keep
      |FROM r ORDER BY doc_id LIMIT 300""".stripMargin

  /** Per-document character-distribution Shannon entropy — the
    * perplexity-proxy quality signal (gibberish and base64 blobs sit at
    * the high end, single-character runs at the low end). Uses the
    * identity H = ln N − (Σ cᵢ ln cᵢ)/N so the only float work is one
    * `c·ln c` per distinct character.
    *
    * Determinism: each term is rounded to 9 decimals and summed as
    * DECIMAL(28,9) — an EXACT, order-independent merge (double addition
    * is order-sensitive; Spark's partial aggregation and DuckDB's
    * sequential sum would disagree in the low bits otherwise — the same
    * trick [[graft.streaming.EventStreams.funnelBatch]] uses for value
    * sums).
    *
    * Scale shape: the per-character explode feeds a map-side-combinable
    * aggregate whose key space is doc_id × alphabet, so only
    * ≤ |alphabet| rows per doc cross the exchange — the text column
    * itself never shuffles. */
  def entropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .withColumn("txt", lower($"text"))
      // split-to-chars BEFORE exploding: each exploded row carries one
      // char, not the whole document (the index-explode alternative
      // duplicates txt per position — O(len²) bytes per doc)
      .select($"doc_id", length($"txt").as("n"),
        explode(split($"txt", "")).as("ch"))
      .groupBy($"doc_id", $"n", $"ch")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id", $"n")
      .agg(count(lit(1)).as("n_distinct"),
        sum(round($"cnt" * log($"cnt"), 9).cast("decimal(28,9)")).as("s"))
      .select($"doc_id",
        $"n".cast("int").as("n_chars_lc"),
        $"n_distinct".cast("int").as("n_distinct_chars"),
        round(log($"n") - $"s".cast("double") / $"n", 6).as("entropy_nats"))
      .orderBy($"doc_id")
      .limit(300)
  }

  val entropySql: String =
    """WITH ch AS (SELECT doc_id, lower(text) AS txt FROM documents),
      |c AS (SELECT doc_id, substr(txt, i, 1) AS ch, length(txt) AS n
      |      FROM ch, unnest(range(1, length(txt) + 1)) AS u(i)),
      |g AS (SELECT doc_id, n, ch, COUNT(*) AS cnt FROM c GROUP BY 1, 2, 3),
      |a AS (SELECT doc_id, n, COUNT(*) AS n_distinct,
      |        SUM(CAST(ROUND(cnt * LN(cnt), 9) AS DECIMAL(28,9))) AS s
      |      FROM g GROUP BY 1, 2)
      |SELECT doc_id, CAST(n AS INT) AS n_chars_lc,
      |  CAST(n_distinct AS INT) AS n_distinct_chars,
      |  ROUND(LN(n) - CAST(s AS DOUBLE) / n, 6) AS entropy_nats
      |FROM a ORDER BY doc_id LIMIT 300""".stripMargin

  /** Deterministic sequence packing — the training-batch construction
    * step: documents are concatenated in a reproducible hash order and
    * chunked into fixed token-budget sequences (GPT-style packing; a
    * document belongs to the sequence containing its first token).
    * Output is the per-sequence accounting (docs packed, tokens).
    *
    * Scale shape: ONE hash evaluation yields split, shard, and sort key;
    * the running token offset is a window cumsum partitioned by
    * (split, shard) — shards are the parallelism knob (thousands at
    * 100 TB), so no global sort ever happens: each shard packs
    * independently, which is exactly how a distributed packing job is
    * laid out. The final aggregate is map-side-combinable on
    * (split, shard, seq_id). */
  def packSequences(s: SparkSession, dir: String,
                    budget: Int = 512, shards: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.partitionBy($"split", $"shard").orderBy($"hv", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    withToks(s, dir)
      .select($"doc_id", size($"toks").cast("long").as("n_tok"),
        Hashing.md5Long60($"doc_id".cast("string")).as("hv"))
      .withColumn("split", Hashing.splitLabelOf($"hv" % 100))
      .withColumn("shard", ($"hv" % shards).cast("int"))
      .withColumn("off", coalesce(sum($"n_tok").over(w), lit(0L)))
      .groupBy($"split", $"shard", ($"off" / budget).cast("int").as("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("seq_tokens"))
      .orderBy($"split", $"shard", $"seq_id")
  }

  val packSequencesSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(LEN(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS hv
      |  FROM documents),
      |l AS (SELECT *, CASE WHEN hv % 100 < 80 THEN 'train'
      |                     WHEN hv % 100 < 90 THEN 'val' ELSE 'test' END AS split,
      |        CAST(hv % 4 AS INT) AS shard FROM d),
      |o AS (SELECT split, shard, doc_id, n_tok,
      |  COALESCE(SUM(n_tok) OVER (PARTITION BY split, shard ORDER BY hv, doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM l)
      |SELECT split, shard, CAST(off // 512 AS INT) AS seq_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
      |FROM o GROUP BY 1, 2, 3 ORDER BY split, shard, seq_id""".stripMargin

  /** Vocabulary induction — the token-frequency table a tokenizer build
    * starts from: every distinct token with corpus count, document
    * frequency, and the CUMULATIVE corpus-coverage share in rank order
    * (the curve that answers "how many vocab entries cover 95% of
    * tokens"). Scale shape: explode feeds a map-side-combinable
    * (token) aggregate — vocabulary is Heaps'-law bounded, so the
    * exchange carries O(|vocab| × partitions) rows however big the
    * corpus; the top-50 selection is a distributed TakeOrdered and the
    * rank/cumsum windows run over the 50-ROW result (coverage at rank
    * r only involves tokens ranked ≤ r), and total tokens enter as a
    * broadcast 1-row frame.
    * Counts and the cumsum are exact integers; coverage is one
    * identically-parenthesized division. */
  def vocabQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val counts = withToks(s, dir)
      .select($"doc_id", explode($"toks").as("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("df"))
    val total = counts.agg(sum($"n").as("tot"))
    // the coverage cumsum at rank r only involves tokens ranked <= r,
    // so the distributed top-50 (TakeOrdered) comes FIRST and both
    // windows run on the 50-row frame — never on the full vocabulary
    val w = Window.orderBy($"n".desc, $"tok".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Rank.topK(counts, Seq($"n".desc, $"tok".asc), 50, "rank")
      .crossJoin(broadcast(total))
      .withColumn("cum", sum($"n").over(w))
      .select($"rank".cast("int").as("rank"), $"tok", $"n", $"df",
        round($"cum".cast("double") / $"tot".cast("double"), 6).as("cum_coverage"))
      .orderBy($"rank")
  }

  val vocabSql: String =
    s"""WITH c AS (
      |  SELECT t AS tok, CAST(count(*) AS BIGINT) AS n,
      |         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
      |  GROUP BY t),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
      |r AS (
      |  SELECT tok, n, df,
      |    row_number() OVER (ORDER BY n DESC, tok) AS rank,
      |    sum(n) OVER (ORDER BY n DESC, tok
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM c)
      |SELECT CAST(rank AS INT) AS rank, tok, n, df,
      |  round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_coverage
      |FROM r, tot WHERE rank <= 50 ORDER BY rank""".stripMargin

  /** q_text_gini entry: VOCABULARY GINI COEFFICIENT — the Lorenz-curve
    * concentration of token mass over types (rank types by count
    * ascending; G = 2·Σ rank·n / (V·T) − (V+1)/V). The one-number
    * answer to "how head-heavy is this corpus's vocabulary?" that
    * [[zipfQ]]'s slope fits parametrically and [[vocabQ]]'s top-50
    * table samples — a diversity audit that moves when a crawl slice
    * collapses to boilerplate (G→1) or to unique noise tokens (G→0).
    *
    * Scale shape: the corpus collapses to the Heaps-bounded (token,
    * count) vocabulary; the ascending rank is one
    * [[Rank.orderedPrefix]] pass (no SinglePartition window — the
    * vocabulary is data-scaled); Σ rank·n reduces as an exact
    * DECIMAL(38,0) sum. Determinism: all integers until one final
    * fixed IEEE chain rounded 6. */
  def giniQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = withToks(s, dir)
      .select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
    val ranked = Rank.orderedPrefix(counts,
      order = Seq($"n", $"tok"),
      rnOut = Some("rk"), countOut = Some("v"),
      totals = Seq(($"n", "t")))
    ranked.groupBy($"v", $"t")
      .agg(sum(($"rk".cast("decimal(19,0)") * $"n")
        .cast("decimal(38,0)")).as("srn"))
      .select($"v".cast("long").as("n_types"),
        $"t".cast("long").as("n_tokens"),
        round(lit(2.0) * $"srn".cast("double") /
          ($"v".cast("double") * $"t".cast("double")) -
          ($"v" + 1).cast("double") / $"v", 6).as("gini"))
  }

  val giniSql: String =
    s"""WITH c AS (
      |  SELECT t AS tok, count(*) AS n
      |  FROM (SELECT unnest($toksSql) AS t FROM documents)
      |  GROUP BY 1),
      |r AS (
      |  SELECT n,
      |    row_number() OVER (ORDER BY n, tok) AS rk,
      |    COUNT(*) OVER () AS v,
      |    SUM(n) OVER () AS t
      |  FROM c)
      |SELECT CAST(v AS BIGINT) AS n_types, CAST(t AS BIGINT) AS n_tokens,
      |  ROUND(2.0 * CAST(SUM(CAST(CAST(rk AS DECIMAL(19,0)) * n
      |      AS DECIMAL(38,0))) AS DOUBLE)
      |    / (CAST(v AS DOUBLE) * CAST(t AS DOUBLE))
      |    - CAST(v + 1 AS DOUBLE) / v, 6) AS gini
      |FROM r GROUP BY v, t""".stripMargin

  /** Fixed-size overlapping document chunking — the context-window prep
    * step that turns long documents into trainable/retrievable pieces:
    * chunk i covers chars [i·stride, i·stride + size), stride = size −
    * overlap, so consecutive chunks share `overlap` chars and every char
    * of the document lands in ≥1 chunk.
    *
    * Scale shape: pure per-row flatMap — `explode(sequence(...))` then a
    * codegen substring; zero exchange, output volume = input chars ×
    * (1 + overlap/stride). The chunk count derives from length(text)
    * row-locally, so no global pass or driver loop exists at any scale. */
  def chunk(df: DataFrame, size: Int, overlap: Int): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    val stride = size - overlap
    df.withColumn("chunk_id",
        explode(sequence(lit(0),
          (floor((length(col("text")) - 1) / stride)).cast("int"))))
      .withColumn("chunk",
        col("text").substr(col("chunk_id") * stride + 1, lit(size)))
  }

  def chunkQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunk(t(s, dir, "documents").filter($"doc_id" < 100)
        .select($"doc_id", $"text"), size = 120, overlap = 20)
      .select($"doc_id", $"chunk_id",
        length($"chunk").as("n_chunk_chars"), $"chunk")
      .orderBy($"doc_id", $"chunk_id")
  }

  val chunkSql: String =
    """WITH g AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, CAST(floor((length(text) - 1) / 100) AS BIGINT))) AS i
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id, CAST(i AS INT) AS chunk_id,
      |  CAST(length(substr(text, CAST(i AS INT) * 100 + 1, 120)) AS INT) AS n_chunk_chars,
      |  substr(text, CAST(i AS INT) * 100 + 1, 120) AS chunk
      |FROM g ORDER BY doc_id, chunk_id""".stripMargin

  // --- registry -------------------------------------------------------------

  /** Length-bucketed batching audit — fixed-shape training batches pad
    * every sequence to the bucket cap, so the padding fraction per
    * (lang, bucket) is the compute a run wastes on pad tokens. The
    * bucket ladder is a fixed CASE (powers of two), deliberately NOT
    * `2^ceil(log2 n)`: libm log2 at an exact power of two may land an
    * ulp under the integer and flip the bucket per engine — a branch
    * ladder on integers cannot.
    *
    * Scale shape: one map-side-combinable groupBy over integer keys;
    * all outputs are integer counts/sums plus one final rounded
    * division. Scan speed at any corpus size. */
  def packBucketsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cap = when($"n_chars" <= 64, 64L).when($"n_chars" <= 128, 128L)
      .when($"n_chars" <= 256, 256L).when($"n_chars" <= 512, 512L)
      .when($"n_chars" <= 1024, 1024L).when($"n_chars" <= 2048, 2048L)
      .otherwise(4096L)
    t(s, dir, "documents")
      .select($"lang", cap.as("bucket_cap"), $"n_chars")
      .groupBy($"lang", $"bucket_cap")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum($"bucket_cap" - $"n_chars").as("pad_chars"))
      .select($"lang", $"bucket_cap", $"n_docs", $"sum_chars", $"pad_chars",
        round($"pad_chars".cast("double") /
          ($"bucket_cap" * $"n_docs"), 6).as("pad_frac"))
      .orderBy($"lang", $"bucket_cap")
  }

  val packBucketsSql: String =
    """WITH b AS (
      |  SELECT lang,
      |    CASE WHEN n_chars <= 64 THEN 64 WHEN n_chars <= 128 THEN 128
      |         WHEN n_chars <= 256 THEN 256 WHEN n_chars <= 512 THEN 512
      |         WHEN n_chars <= 1024 THEN 1024 WHEN n_chars <= 2048 THEN 2048
      |         ELSE 4096 END AS bucket_cap,
      |    n_chars
      |  FROM documents)
      |SELECT lang, CAST(bucket_cap AS BIGINT) AS bucket_cap,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(bucket_cap - n_chars) AS BIGINT) AS pad_chars,
      |  ROUND(CAST(SUM(bucket_cap - n_chars) AS DOUBLE)
      |    / (bucket_cap * COUNT(*)), 6) AS pad_frac
      |FROM b GROUP BY lang, bucket_cap ORDER BY lang, bucket_cap""".stripMargin

  /** Zipf rank–frequency fit over the top-100 tokens: log-log least
    * squares of frequency against rank. The classic corpus-health
    * diagnostic — natural text runs a slope near −1; a corpus of
    * boilerplate, code, or template spam bends away from it, so the
    * slope is a one-number drift alarm between crawl snapshots.
    *
    * Scale shape: token counts are a map-side-combinable groupBy; the
    * top-100 cut is a bounded TakeOrdered (never a global sort of the
    * vocabulary); the regression runs over 100 rows. Determinism: the
    * regression sums follow the repo's decimal contract — each term
    * (ln values and their products as raw doubles) rounded to 9 dp and
    * summed as DECIMAL(28,9), so partition order cannot move the sums;
    * the closed-form slope/intercept then run identical IEEE ops on
    * both engines. */
  def zipfQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val top = withToks(s, dir)
      .select(explode($"toks").as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token").limit(100)
    val xy = top
      .withColumn("rank",
        row_number().over(Window.orderBy($"cnt".desc, $"token")))
      .select(log($"rank".cast("double")).as("x"),
        log($"cnt".cast("double")).as("y"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(28,9)")).cast("double")
    xy.agg(count(lit(1)).cast("double").as("n"), dsum($"x").as("sx"),
        dsum($"y").as("sy"), dsum($"x" * $"y").as("sxy"),
        dsum($"x" * $"x").as("sxx"))
      .withColumn("slope_raw",
        ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx"))
      .select($"n".cast("long").as("n_ranks"),
        round($"slope_raw", 6).as("slope"),
        round(($"sy" - $"slope_raw" * $"sx") / $"n", 6).as("intercept"))
  }

  val zipfSql: String =
    s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
      |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 100),
      |xy AS (SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS DOUBLE)) AS x,
      |  ln(CAST(cnt AS DOUBLE)) AS y FROM top),
      |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
      |  FROM xy)
      |SELECT CAST(n AS BIGINT) AS n_ranks,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept
      |FROM s""".stripMargin

  /** q_text_heaps entry: Heaps'-law vocabulary-growth fit — cumulative
    * (tokens seen, distinct vocabulary) at 16 corpus checkpoints plus
    * the log–log regression V ≈ K·nᵝ. The growth-side companion to
    * [[zipfQ]]'s rank–frequency fit: β (typically 0.4–0.6 for natural
    * text) is the capacity-planning number behind vocabulary budgets,
    * hash sizing, and "how much NEW vocabulary will the next crawl
    * add" — and a β near 1 flags synthetic/ID-like token streams.
    *
    * Scale shape: corpus work is two combinable collapses — per-doc
    * token counts, and min(doc_id) per token (the one token-keyed
    * exchange, [[vocabQ]]'s shape) — each bucketed to 16 checkpoint
    * cells by exact integer arithmetic against a broadcast 1-row
    * max-id frame. Cumulation, logs, and the regression (the
    * [[zipfQ]] dsum idiom: 9-dp-rounded terms summed as
    * DECIMAL(28,9)) all run on the 16-row grid. */
  def heapsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dmax = t(s, dir, "documents").agg((max($"doc_id") + 1).as("d"))
    val bE = "least(doc_id div ((d + 15) div 16), 15)"
    val tokB = withToks(s, dir).select($"doc_id", size($"toks").as("nt"))
      .crossJoin(broadcast(dmax))
      .groupBy(expr(bE).as("b")).agg(sum($"nt").as("toks"))
    val vocB = withToks(s, dir)
      .select($"doc_id", explode($"toks").as("token"))
      .groupBy($"token").agg(min($"doc_id").as("doc_id"))
      .crossJoin(broadcast(dmax))
      .groupBy(expr(bE).as("b")).agg(count(lit(1)).as("v"))
    val wCum = Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, 0)
    val grid = tokB.join(vocB, Seq("b"), "left")
      .withColumn("n_toks_cum", sum($"toks").over(wCum))
      .withColumn("vocab_cum", sum(coalesce($"v", lit(0L))).over(wCum))
      .select($"b", $"n_toks_cum", $"vocab_cum")
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(28,9)")).cast("double")
    val xy = grid.select(log($"n_toks_cum".cast("double")).as("x"),
      log($"vocab_cum".cast("double")).as("y"))
    val fit = xy.agg(count(lit(1)).cast("double").as("n"), dsum($"x").as("sx"),
        dsum($"y").as("sy"), dsum($"x" * $"y").as("sxy"),
        dsum($"x" * $"x").as("sxx"))
      .withColumn("beta_raw",
        ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx"))
      .select(round($"beta_raw", 6).as("beta"),
        round(exp(($"sy" - $"beta_raw" * $"sx") / $"n"), 6).as("k_fit"))
    grid.crossJoin(broadcast(fit))
      .select($"b".cast("int").as("checkpoint"),
        $"n_toks_cum".cast("long").as("n_toks_cum"),
        $"vocab_cum".cast("long").as("vocab_cum"),
        $"beta", $"k_fit")
      .orderBy($"checkpoint")
  }

  val heapsSql: String =
    s"""WITH dm AS (SELECT MAX(doc_id) + 1 AS d FROM documents),
      |tb AS (
      |  SELECT LEAST(doc_id // ((d + 15) // 16), 15) AS b,
      |    SUM(len($toksSql)) AS toks
      |  FROM documents, dm GROUP BY 1),
      |fd AS (
      |  SELECT token, MIN(doc_id) AS doc_id FROM (
      |    SELECT doc_id, unnest($toksSql) AS token FROM documents)
      |  GROUP BY token),
      |vb AS (
      |  SELECT LEAST(doc_id // ((d + 15) // 16), 15) AS b, COUNT(*) AS v
      |  FROM fd, dm GROUP BY 1),
      |grid AS (
      |  SELECT tb.b,
      |    SUM(toks) OVER (ORDER BY tb.b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_toks_cum,
      |    SUM(COALESCE(v, 0)) OVER (ORDER BY tb.b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vocab_cum
      |  FROM tb LEFT JOIN vb ON tb.b = vb.b),
      |xy AS (SELECT ln(CAST(n_toks_cum AS DOUBLE)) AS x,
      |  ln(CAST(vocab_cum AS DOUBLE)) AS y FROM grid),
      |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
      |  FROM xy),
      |fit AS (
      |  SELECT ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
      |    ROUND(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
      |      / n), 6) AS k_fit
      |  FROM s)
      |SELECT CAST(b AS INT) AS checkpoint,
      |  CAST(n_toks_cum AS BIGINT) AS n_toks_cum,
      |  CAST(vocab_cum AS BIGINT) AS vocab_cum, beta, k_fit
      |FROM grid, fit ORDER BY checkpoint""".stripMargin

  /** Language-ID confusion matrix: the [[langId]] heuristic's guesses
    * cross-tabulated against the labeled `lang` column, with per-label
    * coverage fractions — the evaluation table that turns a heuristic
    * into a measured classifier (which labels it over/under-triggers
    * on) before anyone trusts it to route documents.
    *
    * Scale shape: one scan → map-side-combinable groupBy on (lang,
    * guess); the coverage window runs over ≤ |langs|·|guesses| cells.
    * Same 6-dp-rounded ratio and threshold as [[langId]], so the two
    * queries can never disagree about a document's guess. */
  def confusionQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cells = withToks(s, dir)
      .select($"lang",
        round(expr(
          "size(filter(toks, t -> t IN ('the','a','of','and','to','in')))")
          .cast("double") / size($"toks"), 6).as("stop_ratio"))
      .withColumn("guess",
        when($"stop_ratio" >= 0.08, lit("en-like")).otherwise(lit("other")))
      .groupBy($"lang", $"guess")
      .agg(count(lit(1)).as("n_docs"))
    cells
      .withColumn("lang_total",
        sum($"n_docs").over(Window.partitionBy($"lang")))
      .select($"lang", $"guess", $"n_docs",
        round($"n_docs".cast("double") / $"lang_total", 6).as("frac"))
      .orderBy($"lang", $"guess")
  }

  val confusionSql: String =
    s"""WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      |g AS (SELECT lang,
      |  CASE WHEN ROUND(CAST(LEN(list_filter(toks,
      |      t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |    / LEN(toks), 6) >= 0.08 THEN 'en-like' ELSE 'other' END AS guess
      |  FROM d),
      |cells AS (SELECT lang, guess, COUNT(*) AS n_docs
      |  FROM g GROUP BY lang, guess)
      |SELECT lang, guess, CAST(n_docs AS BIGINT) AS n_docs,
      |  ROUND(CAST(n_docs AS DOUBLE)
      |    / SUM(n_docs) OVER (PARTITION BY lang), 6) AS frac
      |FROM cells ORDER BY lang, guess""".stripMargin

  /** Cohen's kappa for the langid labeler — chance-corrected agreement
    * between the heuristic guess (rater B: `en-like`) and the ground
    * label (rater A: `lang = 'en'`). The one-number inter-rater summary
    * the confusion matrix above feeds; the same computation scores any
    * pair of weak labelers before their labels are trusted for
    * filtering.
    *
    * Scale shape: the 2×2 table is FOUR conditional sums in one
    * codegen aggregate over one scan — no pivot, no join; kappa is
    * arithmetic over a single broadcastable row. All counts exact
    * integers; po/pe/kappa are shared-order IEEE expressions rounded
    * to 6 dp. */
  def kappaQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = withToks(s, dir)
      .select($"lang",
        round(expr(
          "size(filter(toks, t -> t IN ('the','a','of','and','to','in')))")
          .cast("double") / size($"toks"), 6).as("stop_ratio"))
      .select(($"lang" === "en").as("a"), ($"stop_ratio" >= 0.08).as("b"))
      .agg(
        sum(when($"a" && $"b", 1L).otherwise(0L)).as("n11"),
        sum(when($"a" && !$"b", 1L).otherwise(0L)).as("n10"),
        sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("n01"),
        sum(when(!$"a" && !$"b", 1L).otherwise(0L)).as("n00"))
    cells.select($"n11", $"n10", $"n01", $"n00",
      ($"n11" + $"n10" + $"n01" + $"n00").as("n"))
      .withColumn("po", ($"n11" + $"n00").cast("double") / $"n")
      .withColumn("pe",
        (($"n11" + $"n10") * ($"n11" + $"n01") +
          ($"n01" + $"n00") * ($"n10" + $"n00")).cast("double") /
          ($"n" * $"n"))
      .select($"n11".cast("long").as("n11"), $"n10".cast("long").as("n10"),
        $"n01".cast("long").as("n01"), $"n00".cast("long").as("n00"),
        round($"po", 6).as("po"), round($"pe", 6).as("pe"),
        round(($"po" - $"pe") / (lit(1d) - $"pe"), 6).as("kappa"))
  }

  val kappaSql: String =
    s"""WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      |r AS (SELECT lang = 'en' AS a,
      |  ROUND(CAST(LEN(list_filter(toks,
      |      t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |    / LEN(toks), 6) >= 0.08 AS b
      |  FROM d),
      |c AS (SELECT
      |  SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
      |  SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,
      |  SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,
      |  SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00
      |  FROM r),
      |k AS (SELECT n11, n10, n01, n00, n11 + n10 + n01 + n00 AS n,
      |  CAST(n11 + n00 AS DOUBLE) / (n11 + n10 + n01 + n00) AS po,
      |  CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
      |    AS DOUBLE) / ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00))
      |    AS pe
      |  FROM c)
      |SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
      |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
      |  ROUND(po, 6) AS po, ROUND(pe, 6) AS pe,
      |  ROUND((po - pe) / (1 - pe), 6) AS kappa
      |FROM k""".stripMargin

  /** q_label_krippendorff entry: KRIPPENDORFF'S ALPHA over THREE
    * binary raters of the "is this English?" label — the agreement
    * coefficient that, unlike [[kappaQ]]'s two-rater Cohen's kappa,
    * handles any number of raters AND missing ratings, which is the
    * actual shape of crowd/model labeling runs (annotators skip
    * units). Raters: A = the lang field, B = the stop-ratio heuristic
    * (same 6-dp contract as kappa), C = contains the token 'the' but
    * ABSTAINS on documents under 20 tokens — so the missing-data path
    * is genuinely exercised. Nominal-metric coincidence form:
    * α = 1 − D_o/D_e with per-unit disagreement Σ n_u0·n_u1·2/(m_u−1).
    *
    * Scale shape: one map stage per document (three boolean raters),
    * one global integer aggregate — scan-bound at any corpus size.
    * Determinism: with m_u ∈ {2,3}, 2·D_o has an INTEGER numerator
    * (4 or 2 times n_u0·n_u1), so α = 1 − DoNum·(n−1)/(4·N0·N1) is a
    * ratio of exact integers — no FP contract needed anywhere. */
  def krippendorffQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rated = withToks(s, dir)
      .select($"lang", $"toks",
        round(expr(
          "size(filter(toks, t -> t IN ('the','a','of','and','to','in')))")
          .cast("double") / size($"toks"), 6).as("stop_ratio"))
      .select(
        ($"lang" === "en").cast("int").as("ra"),
        ($"stop_ratio" >= 0.08).cast("int").as("rb"),
        when(size($"toks") >= 20,
          array_contains($"toks", "the").cast("int")).as("rc"))
      .select(
        ($"ra" + $"rb" + coalesce($"rc", lit(0))).as("n1"),
        (lit(2) + when($"rc".isNotNull, 1).otherwise(0)).as("m"))
      .select($"n1", ($"m" - $"n1").as("n0"), $"m")
    rated.agg(
        count(lit(1)).as("n_units"),
        sum($"m").as("n_vals"),
        sum($"n0").as("nn0"),
        sum($"n1").as("nn1"),
        sum(when($"m" === 2, lit(4) * $"n0" * $"n1")
          .otherwise(lit(2) * $"n0" * $"n1")).as("do_num"))
      .select($"n_units", $"n_vals".cast("long").as("n_vals"),
        $"nn0".cast("long").as("n0"), $"nn1".cast("long").as("n1"),
        round($"do_num".cast("double") / 2d / $"n_vals", 6).as("d_o"),
        round(lit(2d) * $"nn0" * $"nn1" /
          ($"n_vals".cast("double") * ($"n_vals" - 1)), 6).as("d_e"),
        round(lit(1d) - $"do_num".cast("double") * ($"n_vals" - 1) /
          (lit(4d) * $"nn0" * $"nn1"), 6).as("alpha"))
  }

  val krippendorffSql: String =
    s"""WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      |r AS (SELECT
      |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ra,
      |  CASE WHEN ROUND(CAST(LEN(list_filter(toks,
      |      t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |    / LEN(toks), 6) >= 0.08 THEN 1 ELSE 0 END AS rb,
      |  CASE WHEN LEN(toks) >= 20
      |    THEN CAST(list_contains(toks, 'the') AS INT) END AS rc
      |  FROM d),
      |u AS (SELECT ra + rb + COALESCE(rc, 0) AS n1,
      |  2 + CASE WHEN rc IS NOT NULL THEN 1 ELSE 0 END AS m FROM r),
      |v AS (SELECT n1, m - n1 AS n0, m FROM u),
      |a AS (SELECT
      |  CAST(COUNT(*) AS BIGINT) AS n_units,
      |  CAST(SUM(m) AS BIGINT) AS n_vals,
      |  CAST(SUM(n0) AS BIGINT) AS n0,
      |  CAST(SUM(n1) AS BIGINT) AS n1,
      |  CAST(SUM(CASE WHEN m = 2 THEN 4 * n0 * n1
      |    ELSE 2 * n0 * n1 END) AS BIGINT) AS do_num
      |  FROM v)
      |SELECT n_units, n_vals, n0, n1,
      |  ROUND(CAST(do_num AS DOUBLE) / 2 / n_vals, 6) AS d_o,
      |  ROUND(2.0 * n0 * n1 / (CAST(n_vals AS DOUBLE) * (n_vals - 1)), 6) AS d_e,
      |  ROUND(1.0 - CAST(do_num AS DOUBLE) * (n_vals - 1)
      |    / (4.0 * n0 * n1), 6) AS alpha
      |FROM a""".stripMargin

  /** Unicode NFC canonicalization audit: how many documents change
    * under [[graft.functions.NfcNormalize]] and the post-normalization
    * distinct-fingerprint count — the pre-dedup canonicalization gate
    * (composed vs decomposed crawls of the same page hash apart unless
    * this runs first). The test corpus is ASCII (NFC-invariant by
    * construction), so the oracle pins cross-engine agreement on the
    * full path; the non-ASCII behavior is spec-verified against
    * composed/decomposed literals in `NfcNormalizeSpec`.
    *
    * Scale shape: pure map stage + one global aggregate; the codegen'd
    * expression takes a zero-allocation ASCII fast path, so the audit
    * runs at scan speed on mostly-ASCII corpora. */
  def nfcQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select($"text", call_function("nfc_normalize", $"text").as("norm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"norm" =!= $"text", 1L).otherwise(0L)).as("n_changed"),
        countDistinct(md5($"norm")).as("n_distinct"))
  }

  val nfcSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_changed,
      |  CAST(COUNT(DISTINCT md5(nfc_normalize(text))) AS BIGINT) AS n_distinct
      |FROM documents""".stripMargin

  /** q_text_readability entry: readability-style surface statistics per
    * document — sentence count (runs of [.!?]), word count, and a
    * syllable ESTIMATE (runs of vowels incl. y; the standard cheap
    * heuristic behind Flesch-family scores). The composite indices
    * divide these three integers, so the emitted contract is the
    * integers plus the two ratios as basis points (pure integer
    * division — any Flesch variant is an affine map of them the caller
    * applies client-side; keeping floats out of the output is the
    * driver-hash lesson of rounds 6-8).
    *
    * Scale: three `regexp_extract_all` counts inside one projection —
    * map-only, no shuffle, text never leaves the scan task. */
  def readabilityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", lower($"text").as("txt"))
      .select($"doc_id",
        greatest(expr("size(regexp_extract_all(txt, '[.!?]+', 0))"), lit(1))
          .cast("long").as("n_sents"),
        expr("size(regexp_extract_all(txt, '[a-z0-9]+', 0))")
          .cast("long").as("n_words"),
        expr("size(regexp_extract_all(txt, '[aeiouy]+', 0))")
          .cast("long").as("n_syllables"))
      .filter($"n_words" > 0)
      .withColumn("words_per_sent_bp", expr("(10000 * n_words) div n_sents"))
      .withColumn("syll_per_word_bp", expr("(10000 * n_syllables) div n_words"))
      .orderBy($"doc_id")
  }

  val readabilitySql: String =
    """WITH d AS (SELECT doc_id, lower(text) AS txt FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(greatest(len(regexp_extract_all(txt, '[.!?]+')), 1) AS BIGINT)
      |      AS n_sents,
      |    CAST(len(regexp_extract_all(txt, '[a-z0-9]+')) AS BIGINT)
      |      AS n_words,
      |    CAST(len(regexp_extract_all(txt, '[aeiouy]+')) AS BIGINT)
      |      AS n_syllables
      |  FROM d)
      |SELECT doc_id, n_sents, n_words, n_syllables,
      |  (10000 * n_words) // n_sents AS words_per_sent_bp,
      |  (10000 * n_syllables) // n_words AS syll_per_word_bp
      |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin

  /** q_text_mtld entry: MTLD lexical diversity (Measure of Textual
    * Lexical Diversity, McCarthy & Jarvis 2010) — the length-robust
    * replacement for raw type-token ratio: walk the token stream
    * counting a FACTOR each time the running TTR drops below 0.72
    * (then reset), add the proportional partial factor
    * (1−TTR_final)/0.28 at the end, and report tokens/factors —
    * averaged over the forward and backward walks. TTR punishes long
    * documents by construction; MTLD is the diversity signal quality
    * filters can threshold independent of length.
    *
    * Determinism: the in-walk threshold test is the EXACT integer
    * comparison 100·|types| < 72·count (no FP in the fold's control
    * flow); the only floating arithmetic is the factor increments and
    * the final partial — a fixed-order chain mirrored verbatim by the
    * oracle's recursive CTE. Output 6 dp, first 300 docs with ≥ 10
    * tokens.
    *
    * Scale shape: two per-doc sequential folds (forward/backward)
    * over the token array — pure map stage, zero exchange; the
    * rank-ordered LIMIT is a TakeOrdered. The seen-set is bounded by
    * the factor segment's type count (resets at every factor), not
    * by doc length. */
  def mtldQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def fold(arr: String): String =
      s"""aggregate($arr,
         |  named_struct('f', cast(0.0 as double),
         |    'seen', cast(array() as array<string>), 'cnt', 0),
         |  (st, tk) -> if(
         |    100 * size(if(array_contains(st.seen, tk), st.seen,
         |      concat(st.seen, array(tk)))) < 72 * (st.cnt + 1),
         |    named_struct('f', st.f + 1.0,
         |      'seen', cast(array() as array<string>), 'cnt', 0),
         |    named_struct('f', st.f,
         |      'seen', if(array_contains(st.seen, tk), st.seen,
         |        concat(st.seen, array(tk))), 'cnt', st.cnt + 1)),
         |  st -> st.f + if(st.cnt > 0,
         |    (1.0 - size(st.seen) / cast(st.cnt as double)) / 0.28, 0.0))"""
        .stripMargin
    withToks(s, dir, spread = true)
      .filter(size($"toks") >= 10)
      .select($"doc_id", $"toks", size($"toks").as("n_toks"))
      .withColumn("ff", expr(fold("toks")))
      .withColumn("fb", expr(fold("reverse(toks)")))
      .select($"doc_id", $"n_toks".cast("long").as("n_toks"),
        round($"ff", 6).as("factors_fwd"),
        when($"ff" > 0 && $"fb" > 0,
          round(($"n_toks" / $"ff" + $"n_toks" / $"fb") / 2.0, 6))
          .as("mtld"))
      .orderBy($"doc_id")
      .limit(300)
  }

  val mtldSql: String =
    s"""WITH RECURSIVE tk AS (
      |  SELECT doc_id, $toksSql AS toks, len($toksSql) AS n
      |  FROM documents WHERE len($toksSql) >= 10),
      |bothdir AS (
      |  SELECT doc_id, toks, n, 'f' AS dir FROM tk
      |  UNION ALL
      |  SELECT doc_id, list_reverse(toks), n, 'b' FROM tk),
      |rec(doc_id, dir, i, n, f, seen, cnt) AS (
      |  SELECT doc_id, dir, 0, n, 0.0::DOUBLE, []::VARCHAR[], 0 FROM bothdir
      |  UNION ALL
      |  SELECT r.doc_id, r.dir, r.i + 1, r.n,
      |    CASE WHEN 100 * len(CASE WHEN list_contains(r.seen, b.toks[r.i + 1])
      |        THEN r.seen ELSE list_append(r.seen, b.toks[r.i + 1]) END)
      |        < 72 * (r.cnt + 1)
      |      THEN r.f + 1.0 ELSE r.f END,
      |    CASE WHEN 100 * len(CASE WHEN list_contains(r.seen, b.toks[r.i + 1])
      |        THEN r.seen ELSE list_append(r.seen, b.toks[r.i + 1]) END)
      |        < 72 * (r.cnt + 1)
      |      THEN []::VARCHAR[]
      |      ELSE CASE WHEN list_contains(r.seen, b.toks[r.i + 1])
      |        THEN r.seen ELSE list_append(r.seen, b.toks[r.i + 1]) END END,
      |    CASE WHEN 100 * len(CASE WHEN list_contains(r.seen, b.toks[r.i + 1])
      |        THEN r.seen ELSE list_append(r.seen, b.toks[r.i + 1]) END)
      |        < 72 * (r.cnt + 1)
      |      THEN 0 ELSE r.cnt + 1 END
      |  FROM rec r JOIN bothdir b
      |    ON b.doc_id = r.doc_id AND b.dir = r.dir
      |  WHERE r.i < r.n),
      |fin AS (
      |  SELECT doc_id, dir, n,
      |    f + CASE WHEN cnt > 0
      |      THEN (1.0 - len(seen) / CAST(cnt AS DOUBLE)) / 0.28
      |      ELSE 0.0 END AS ft
      |  FROM rec WHERE i = n),
      |pivoted AS (
      |  SELECT doc_id, MAX(n) AS n,
      |    MAX(CASE WHEN dir = 'f' THEN ft END) AS ff,
      |    MAX(CASE WHEN dir = 'b' THEN ft END) AS fb
      |  FROM fin GROUP BY 1)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
      |  ROUND(ff, 6) AS factors_fwd,
      |  CASE WHEN ff > 0 AND fb > 0
      |    THEN ROUND((n / ff + n / fb) / 2.0, 6) END AS mtld
      |FROM pivoted ORDER BY doc_id LIMIT 300""".stripMargin

  /** q_text_yule entry: the CLASSICAL LEXICAL-RICHNESS PANEL per source
    * — Yule's K = 10⁴·(Σ_m m²·V_m − N)/N² (the repeat-rate
    * characteristic, length-invariant by design), Simpson's D =
    * Σ_w c_w(c_w−1)/(N(N−1)) (probability two random tokens are the
    * same type), and Herdan's C = ln V / ln N (log type-token ratio).
    * Beside [[mtldQ]] and [[heapsQ]] these are the standard
    * vocabulary-diversity fingerprints a corpus audit reports per
    * slice — template/boilerplate slices show high K/D, novel slices
    * low.
    *
    * Scale shape: (source, word) counts are one map-side-combinable
    * groupBy (text never shuffles); the m²·V_m moment collapses the
    * vocabulary frame per source. Every sum is an exact integer; each
    * statistic is one IEEE chain rounded 6. */
  def yuleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = t(s, dir, "documents")
      .select($"source", explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    counts.groupBy($"source")
      .agg(sum($"c").as("n"), count(lit(1)).as("v"),
        sum($"c" * $"c").as("m2"),
        sum($"c" * ($"c" - 1)).as("rep"))
      .select($"source", $"n".cast("long").as("n_tokens"),
        $"v".cast("long").as("n_types"),
        round(lit(10000.0) * ($"m2" - $"n").cast("double") /
          ($"n".cast("double") * $"n".cast("double")), 6).as("yule_k"),
        round($"rep".cast("double") /
          ($"n".cast("double") * ($"n" - 1).cast("double")), 6)
          .as("simpson_d"),
        round(log($"v".cast("double")) / log($"n".cast("double")), 6)
          .as("herdan_c"))
      .orderBy($"source")
  }

  val yuleSql: String =
    s"""WITH counts AS (
      |  SELECT source, w, COUNT(*) AS c FROM (
      |    SELECT source, unnest($toksSql) AS w FROM documents)
      |  WHERE len(w) > 0 GROUP BY 1, 2),
      |a AS (
      |  SELECT source, SUM(c) AS n, COUNT(*) AS v,
      |    SUM(c * c) AS m2, SUM(c * (c - 1)) AS rep
      |  FROM counts GROUP BY 1)
      |SELECT source, CAST(n AS BIGINT) AS n_tokens,
      |  CAST(v AS BIGINT) AS n_types,
      |  ROUND(10000.0 * CAST(m2 - n AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yule_k,
      |  ROUND(CAST(rep AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS simpson_d,
      |  ROUND(LN(CAST(v AS DOUBLE)) / LN(CAST(n AS DOUBLE)), 6) AS herdan_c
      |FROM a ORDER BY source""".stripMargin

  /** q_label_fleiss entry: FLEISS' KAPPA for r = 3 raters — the
    * multi-rater chance-corrected agreement that [[kappaQ]] (two
    * raters) cannot give and that, unlike Krippendorff's α, has the
    * classical P̄/P_e decomposition reviewers expect on labeling
    * dashboards. Raters are synthetic but deterministic (the
    * [[Pii.redactQ]] plant convention): rater j assigns the document's
    * true lang unless its seeded md5("fk:j:"+doc_id) lands in a 10%
    * noise slot, in which case it emits the pinned 'xx' category — so
    * the expected agreement level is designed, and the statistic is
    * fully replayable.
    *
    * Scale shape: per-(doc, category) rater counts are one combinable
    * collapse of the 3-rater explode; Σn² reduces per doc then
    * globally (exact integers); category marginals are a
    * \|categories\|-bounded frame with 12-dp DECIMAL share terms. One
    * final IEEE chain. */
  def fleissQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = 3
    val labels = t(s, dir, "documents")
      .select($"doc_id", explode(array((0 until r).map { j =>
        when(Hashing.md5Long60(concat(lit(s"fk:$j:"),
          $"doc_id".cast("string"))) % 10 === 0, lit("xx"))
          .otherwise($"lang")
      }: _*)).as("label"))
    val nij = labels.groupBy($"doc_id", $"label")
      .agg(count(lit(1)).as("c"))
    val perDoc = nij.groupBy($"doc_id")
      .agg(sum($"c" * $"c").as("s2"))
    val items = perDoc.agg(count(lit(1)).as("n_items"),
      sum($"s2").as("s2_tot"))
    val marg = nij.groupBy($"label").agg(sum($"c").as("cj"))
      .crossJoin(broadcast(items.select($"n_items")))
      // divisor in DOUBLE: n_items·r in int64 wraps past n_items ≈
      // 3·10¹⁸ (q_stat_ad class); both factors exact below 2⁵³
      .select(round(($"cj".cast("double") / ($"n_items".cast("double") * r)) *
        ($"cj".cast("double") / ($"n_items".cast("double") * r)), 12)
        .cast("decimal(38,12)").as("pj2"))
      .agg(sum($"pj2").cast("double").as("pe"))
    items.crossJoin(broadcast(marg))
      .select($"n_items".cast("long").as("n_items"),
        lit(r.toLong).as("n_raters"),
        round(($"s2_tot".cast("double") - $"n_items".cast("double") * r) /
          ($"n_items".cast("double") * r * (r - 1)), 6).as("p_bar"),
        round($"pe", 6).as("p_e"),
        round((($"s2_tot".cast("double") - $"n_items".cast("double") * r) /
          ($"n_items".cast("double") * r * (r - 1)) - $"pe") /
          (lit(1.0) - $"pe"), 6).as("fleiss_kappa"))
  }

  val fleissSql: String = {
    val r = 3
    val raters = (0 until r).map { j =>
      s"""SELECT doc_id,
         |  CASE WHEN ('0x' || substr(md5('fk:$j:' || CAST(doc_id AS VARCHAR)),
         |      1, 15))::UBIGINT::BIGINT % 10 = 0
         |    THEN 'xx' ELSE lang END AS label
         |FROM documents""".stripMargin
    }
    s"""WITH labels AS (
       |${raters.mkString("\nUNION ALL\n")}),
       |nij AS (
       |  SELECT doc_id, label, COUNT(*) AS c FROM labels GROUP BY 1, 2),
       |per_doc AS (
       |  SELECT doc_id, SUM(c * c) AS s2 FROM nij GROUP BY 1),
       |items AS (
       |  SELECT COUNT(*) AS n_items, SUM(s2) AS s2_tot FROM per_doc),
       |marg AS (
       |  SELECT CAST(SUM(CAST(ROUND(
       |      (CAST(cj AS DOUBLE) / (CAST(n_items AS DOUBLE) * $r))
       |      * (CAST(cj AS DOUBLE) / (CAST(n_items AS DOUBLE) * $r)), 12)
       |    AS DECIMAL(38,12))) AS DOUBLE) AS pe
       |  FROM (SELECT label, SUM(c) AS cj FROM nij GROUP BY 1)
       |  CROSS JOIN items)
       |SELECT CAST(n_items AS BIGINT) AS n_items,
       |  CAST($r AS BIGINT) AS n_raters,
       |  ROUND((CAST(s2_tot AS DOUBLE) - CAST(n_items AS DOUBLE) * $r)
       |    / (CAST(n_items AS DOUBLE) * $r * ${r - 1}), 6) AS p_bar,
       |  ROUND(pe, 6) AS p_e,
       |  ROUND(((CAST(s2_tot AS DOUBLE) - CAST(n_items AS DOUBLE) * $r)
       |    / (CAST(n_items AS DOUBLE) * $r * ${r - 1}) - pe)
       |    / (1.0 - pe), 6) AS fleiss_kappa
       |FROM items CROSS JOIN marg""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_gini" -> giniQ,
    "q_label_fleiss" -> fleissQ,
    "q_text_yule" -> yuleQ,
    "q_text_mtld" -> mtldQ,
    "q_text_readability" -> readabilityQ,
    "q_text_zipf" -> zipfQ,
    "q_text_heaps" -> heapsQ,
    "q_text_nfc" -> nfcQ,
    "q_langid_confusion" -> confusionQ,
    "q_label_kappa" -> kappaQ,
    "q_label_krippendorff" -> krippendorffQ,
    "q_text_stats" -> stats,
    "q_text_lang_agg" -> langAgg,
    "q_text_langid" -> langId,
    "q_text_bigrams" -> bigramProfile,
    "q_text_fingerprint" -> fingerprint,
    "q_text_quality" -> quality,
    "q_text_rollhash" -> rollhash,
    "q_text_tfidf" -> tfidf,
    "q_text_bm25" -> bm25,
    "q_rank_fusion" -> rankFusionQ,
    "q_bpe_encode" -> bpeEncodeQ,
    "q_eval_ndcg" -> ndcgQ,
    "q_eval_err" -> errQ,
    "q_bpe_pairs" -> bpePairs,
    "q_bpe_train" -> bpeTrainQ,
    "q_text_novelty" -> novelty,
    "q_text_lm_score" -> lmScore,
    "q_text_repetition" -> repetition,
    "q_text_entropy" -> entropy,
    "q_text_chunk" -> chunkQ,
    "q_vocab_top" -> vocabQ,
    "q_pack_sequences" -> ((s, dir) => packSequences(s, dir)),
    "q_split_assign" -> splitAssign,
    "q_split_groupfold" -> groupFoldQ,
    "q_sample_mixture" -> mixtureQ,
    "q_sample_temperature" -> temperatureQ,
    "q_sample_stratified" -> ((s, dir) => stratifiedSample(s, dir)),
    "q_sample_weighted" -> ((s, dir) => weightedSample(s, dir)),
    "q_sample_balanced" -> balancedSample,
    "q_pack_buckets" -> packBucketsQ)

  def oracle: Map[String, String] = Map(
    "q_text_gini" -> giniSql,
    "q_text_readability" -> readabilitySql,
    "q_text_zipf" -> zipfSql,
    "q_text_heaps" -> heapsSql,
    "q_text_nfc" -> nfcSql,
    "q_langid_confusion" -> confusionSql,
    "q_label_kappa" -> kappaSql,
    "q_label_krippendorff" -> krippendorffSql,
    "q_label_fleiss" -> fleissSql,
    "q_text_yule" -> yuleSql,
    "q_text_mtld" -> mtldSql,
    "q_text_stats" -> statsSql,
    "q_text_lang_agg" -> langAggSql,
    "q_text_langid" -> langIdSql,
    "q_text_bigrams" -> bigramProfileSql,
    "q_text_fingerprint" -> fingerprintSql,
    "q_text_quality" -> qualitySql,
    "q_text_rollhash" -> rollhashSql,
    "q_text_tfidf" -> tfidfSql,
    "q_text_bm25" -> bm25Sql,
    "q_rank_fusion" -> rankFusionSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_eval_ndcg" -> ndcgSql,
    "q_eval_err" -> errSql,
    "q_bpe_pairs" -> bpePairsSql,
    "q_bpe_train" -> bpeTrainSql,
    "q_text_novelty" -> noveltySql,
    "q_text_lm_score" -> lmScoreSql,
    "q_text_repetition" -> repetitionSql,
    "q_text_entropy" -> entropySql,
    "q_text_chunk" -> chunkSql,
    "q_vocab_top" -> vocabSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_split_assign" -> splitAssignSql,
    "q_split_groupfold" -> groupFoldSql,
    "q_sample_mixture" -> sampleMixtureSql,
    "q_sample_temperature" -> temperatureSql,
    "q_sample_stratified" -> stratifiedSampleSql,
    "q_sample_weighted" -> weightedSampleSql,
    "q_sample_balanced" -> balancedSampleSql,
    "q_pack_buckets" -> packBucketsSql)
}
