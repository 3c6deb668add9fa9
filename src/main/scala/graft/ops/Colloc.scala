package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Token-frequency statistics beyond single-word counts: PMI
  * collocations (which word PAIRS carry meaning — the phrase-mining /
  * tokenizer-merge-candidate signal) and the Good–Turing
  * frequency-of-frequencies profile (how much of the vocabulary is
  * rare — the unseen-mass estimate behind LM smoothing and corpus
  * growth planning).
  */
object Colloc {

  /** q_text_pmi entry: top-25 adjacent-bigram collocations by pointwise
    * mutual information, PMI = ln(P(w₁w₂) / (P(w₁)·P(w₂))), with a
    * minimum pair count of 5 (raw PMI is maximized by hapax noise;
    * the count floor is the standard Manning–Schütze guard).
    *
    * Scale shape: the corpus collapses to (w₁,w₂) pair counts and
    * unigram counts FIRST — both map-side-combinable groupBys over the
    * token stream; the text column itself never shuffles. The PMI join
    * is pair-frame × two vocabulary-bounded unigram frames (broadcast);
    * totals ride a broadcast 1-row frame. Counts are exact integers,
    * PMI is one shared IEEE expression rounded to 6 dp; ties order by
    * (w₁, w₂). */
  def pmiQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"doc_id", split(lower($"text"), " ").as("toks"))
    val uni = toks
      .select(explode($"toks").as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val pairs = toks
      .filter(size($"toks") >= 2) // sequence(1,0) would descend
      .select(explode(expr(
        "filter(transform(sequence(1, size(toks) - 1)," +
          " i -> struct(toks[i-1] AS w1, toks[i] AS w2))," +
          " p -> length(p.w1) > 0 AND length(p.w2) > 0)")).as("p"))
      .select($"p.w1", $"p.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val totals = uni.agg(sum($"c").as("n_uni"))
      .crossJoin(pairs.agg(sum($"c12").as("n_pairs")))
    pairs.filter($"c12" >= 5)
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c1")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "c2")), "w2")
      .crossJoin(broadcast(totals))
      .select($"w1", $"w2", $"c12",
        round(log(($"c12".cast("double") / $"n_pairs") /
          (($"c1".cast("double") / $"n_uni") *
            ($"c2".cast("double") / $"n_uni"))), 6).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(25)
  }

  val pmiSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |uni AS (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT unnest(toks) AS w FROM tok) WHERE len(w) > 0 GROUP BY 1),
      |pr AS (
      |  SELECT p.w1, p.w2, COUNT(*) AS c12 FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |    FROM tok) WHERE len(p.w1) > 0 AND len(p.w2) > 0 GROUP BY 1, 2),
      |t AS (SELECT (SELECT SUM(c) FROM uni) AS n_uni,
      |             (SELECT SUM(c12) FROM pr) AS n_pairs)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
      |  ROUND(ln((CAST(c12 AS DOUBLE) / n_pairs)
      |    / ((CAST(u1.c AS DOUBLE) / n_uni) * (CAST(u2.c AS DOUBLE) / n_uni))), 6)
      |    AS pmi
      |FROM pr JOIN uni u1 ON pr.w1 = u1.w JOIN uni u2 ON pr.w2 = u2.w, t
      |WHERE c12 >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin

  /** q_text_freqfreq entry: Good–Turing frequency-of-frequencies over
    * adjacent word BIGRAMS — for each bigram frequency r ≤ 10, how many
    * distinct bigrams occur exactly r times (N_r), and the Good–Turing
    * adjusted count r* = (r+1)·N_{r+1}/N_r (0 when no bigram has count
    * r+1). N₁/N estimates the unseen-n-gram mass — the quantity behind
    * LM smoothing and corpus-coverage planning. Bigrams, not unigrams:
    * GT smoothing is an N-GRAM estimator (every unigram in this corpus
    * is frequent, as in any corpus the interesting tail lives in the
    * combinatorial n-gram space).
    *
    * Scale shape: bigram counts (map-side-combinable groupBy; the text
    * column never shuffles) → one further groupBy(count) to the
    * ≤|distinct frequencies| table — doubly collapsed before any join;
    * the r+1 lookup is a self left join on the tiny frequency table
    * (exact match on r+1, NOT lead(), which would silently pick the
    * next PRESENT frequency across gaps). */
  /** Adjacent-bigram occurrence counts (w1, w2, r) — the doubly
    * collapsible base [[freqFreqQ]] and [[chao1Q]] share: bigram counts
    * from one map-side-combinable groupBy (the text column never
    * shuffles; pairs materialize per row and collapse immediately). */
  private def bigramCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(split(lower($"text"), " ").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(expr(
        "filter(transform(sequence(1, size(toks) - 1)," +
          " i -> struct(toks[i-1] AS w1, toks[i] AS w2))," +
          " p -> length(p.w1) > 0 AND length(p.w2) > 0)")).as("p"))
      .groupBy($"p.w1", $"p.w2").agg(count(lit(1)).as("r"))
  }

  def freqFreqQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nr = bigramCounts(s, dir)
      .groupBy($"r").agg(count(lit(1)).as("n_r"))
    nr.as("a")
      .join(broadcast(nr.as("b")), col("a.r") + 1 === col("b.r"), "left")
      .filter(col("a.r") <= 10)
      .select(col("a.r").as("r"), col("a.n_r").as("n_r"),
        round((col("a.r") + 1).cast("double") *
          coalesce(col("b.n_r"), lit(0L)).cast("double") /
          col("a.n_r").cast("double"), 6).as("r_star"))
      .orderBy($"r")
  }

  val freqFreqSql: String =
    """WITH tok AS (
      |  SELECT string_split(lower(text), ' ') AS toks FROM documents),
      |cnt AS (
      |  SELECT p.w1, p.w2, COUNT(*) AS r FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |    FROM tok) WHERE len(p.w1) > 0 AND len(p.w2) > 0 GROUP BY 1, 2),
      |nr AS (SELECT r, COUNT(*) AS n_r FROM cnt GROUP BY 1)
      |SELECT a.r, CAST(a.n_r AS BIGINT) AS n_r,
      |  ROUND((a.r + 1) * CAST(COALESCE(b.n_r, 0) AS DOUBLE)
      |    / CAST(a.n_r AS DOUBLE), 6) AS r_star
      |FROM nr a LEFT JOIN nr b ON a.r + 1 = b.r
      |WHERE a.r <= 10 ORDER BY a.r""".stripMargin

  /** q_text_chao1 entry: CHAO1 species-richness estimate of the
    * adjacent-bigram vocabulary (Chao 1984, bias-corrected form) plus
    * Good's sample coverage — the "how much vocabulary has this corpus
    * NOT yet seen" readout that turns [[freqFreqQ]]'s N₁/N unseen MASS
    * into an unseen TYPE count: Ĉhao1 = V + F₁(F₁−1)/(2(F₂+1)) (finite
    * even when no doubletons exist), coverage Ĉ = 1 − F₁/N. The pair a
    * data-collection plan reads together: low coverage + large unseen
    * estimate ⇒ more acquisition moves the vocabulary; high coverage ⇒
    * the tail is closed and further scale buys repetition, not novelty.
    *
    * Scale shape: rides [[bigramCounts]] (map-side-combinable; text
    * never shuffles) then ONE combinable conditional aggregate to a
    * 1-row frame — no joins, no windows. Determinism: V/N/F₁/F₂ exact
    * integers; the estimator is one shared IEEE chain rounded 6 (F₁²
    * would overflow int64 at vocabulary scale, so the chain runs in
    * double from the first multiply — q_stat_ad lint class respected).
    */
  def chao1Q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bigramCounts(s, dir)
      .agg(count(lit(1)).as("v_obs"),
        sum($"r").as("n_tokens"),
        sum(when($"r" === 1, 1L).otherwise(0L)).as("f1"),
        sum(when($"r" === 2, 1L).otherwise(0L)).as("f2"))
      .select($"v_obs".cast("long").as("v_obs"),
        $"n_tokens".cast("long").as("n_tokens"),
        $"f1".cast("long").as("f1"), $"f2".cast("long").as("f2"),
        round($"v_obs" + $"f1".cast("double") * ($"f1" - 1) /
          (lit(2.0) * ($"f2" + 1)), 6).as("chao1"),
        round($"f1".cast("double") * ($"f1" - 1) /
          (lit(2.0) * ($"f2" + 1)), 6).as("unseen_est"),
        round(lit(1.0) - $"f1".cast("double") / $"n_tokens", 6)
          .as("coverage"))
  }

  val chao1Sql: String =
    """WITH tok AS (
      |  SELECT string_split(lower(text), ' ') AS toks FROM documents),
      |cnt AS (
      |  SELECT p.w1, p.w2, COUNT(*) AS r FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |    FROM tok) WHERE len(p.w1) > 0 AND len(p.w2) > 0 GROUP BY 1, 2),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v_obs,
      |    CAST(SUM(r) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM cnt)
      |SELECT v_obs, n_tokens, f1, f2,
      |  ROUND(v_obs + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6)
      |    AS chao1,
      |  ROUND(CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6)
      |    AS unseen_est,
      |  ROUND(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS coverage
      |FROM a""".stripMargin

  /** q_text_hapax entry: per-source hapax accounting over word bigrams
    * — occurrences, distinct bigrams, hapax count (bigrams seen exactly
    * once WITHIN the source), hapax ratio, and each source's share of
    * the corpus-wide hapax mass. The per-slice diversity/novelty
    * indicator behind [[freqFreqQ]]'s global N₁: a source whose hapax
    * ratio spikes is novel (or corrupted); one whose ratio collapses is
    * boilerplate.
    *
    * Scale shape: (source, bigram) counts are one map-side-combinable
    * groupBy; the per-source rollup runs on the distinct-bigram frame;
    * the corpus hapax total rides a broadcast 1-row frame. */
  def hapaxQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = t(s, dir, "documents")
      .select($"source", split(lower($"text"), " ").as("toks"))
      .filter(size($"toks") >= 2)
      .select($"source", explode(expr(
        "filter(transform(sequence(1, size(toks) - 1)," +
          " i -> struct(toks[i-1] AS w1, toks[i] AS w2))," +
          " p -> length(p.w1) > 0 AND length(p.w2) > 0)")).as("p"))
      .groupBy($"source", $"p.w1", $"p.w2").agg(count(lit(1)).as("c"))
    val perSource = counts.groupBy($"source")
      .agg(sum($"c").as("n_occurrences"),
        count(lit(1)).as("n_distinct"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("n_hapax"))
    val total = perSource.agg(sum($"n_hapax").as("tot_hapax"))
    perSource.crossJoin(broadcast(total))
      .select($"source", $"n_occurrences", $"n_distinct", $"n_hapax",
        round($"n_hapax".cast("double") / $"n_distinct", 6).as("hapax_ratio"),
        round($"n_hapax".cast("double") / $"tot_hapax", 6).as("hapax_share"))
      .orderBy($"source")
  }

  val hapaxSql: String =
    """WITH tok AS (
      |  SELECT source, string_split(lower(text), ' ') AS toks FROM documents),
      |cnt AS (
      |  SELECT source, p.w1, p.w2, COUNT(*) AS c FROM (
      |    SELECT source, unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |    FROM tok) WHERE len(p.w1) > 0 AND len(p.w2) > 0 GROUP BY 1, 2, 3),
      |ps AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_occurrences,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |  FROM cnt GROUP BY 1),
      |t AS (SELECT SUM(n_hapax) AS tot_hapax FROM ps)
      |SELECT source, n_occurrences, n_distinct, n_hapax,
      |  ROUND(CAST(n_hapax AS DOUBLE) / n_distinct, 6) AS hapax_ratio,
      |  ROUND(CAST(n_hapax AS DOUBLE) / tot_hapax, 6) AS hapax_share
      |FROM ps, t ORDER BY source""".stripMargin

  /** q_text_ctfidf entry: class-based TF-IDF (c-TF-IDF, the BERTopic
    * cluster-characterization statistic — Grootendorst 2022,
    * arXiv:2203.05794) — each SOURCE slice's top-5 most-distinctive
    * terms by W(t,c) = tf(t,c) · ln(1 + A/f(t)), where tf counts the
    * term in the class, f(t) is its corpus frequency, and A is the
    * average class size in tokens: the "what characterizes this
    * slice/cluster" readout a curation run prints per source, domain,
    * or embedding cluster before rebalancing the mix.
    *
    * Scale shape: the corpus collapses to (class, term) counts and a
    * corpus term-frequency frame (both map-side-combinable,
    * vocab-bounded); the weight is one shared IEEE expression over
    * exact integers (rounded 6 dp before ranking, term tiebreak); the
    * top-5 cut is a class-partition-bounded rank window over the
    * vocabulary-sized frame. Corpus text never shuffles. */
  def ctfidfQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"source", explode(split(lower($"text"), " ")).as("term"))
    val tf = toks.groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val f = toks.groupBy($"term").agg(count(lit(1)).as("f"))
    val a = toks.agg((count(lit(1)).cast("double") /
      countDistinct($"source")).as("avg_class"))
    tf.join(f, "term").crossJoin(broadcast(a))
      .withColumn("w", round($"tf".cast("double") *
        log(lit(1.0) + $"avg_class" / $"f".cast("double")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"w".desc, $"term")))
      .filter($"rk" <= 5)
      .select($"source", $"term", $"tf".cast("long").as("tf"),
        $"w".as("ctfidf"), $"rk".cast("int").as("rk"))
      .orderBy($"source", $"rk")
  }

  val ctfidfSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |f AS (SELECT term, COUNT(*) AS f FROM toks GROUP BY term),
      |a AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT source)
      |    AS avg_class
      |  FROM toks),
      |w AS (
      |  SELECT source, term, tf,
      |    ROUND(CAST(tf AS DOUBLE)
      |      * ln(1.0 + avg_class / CAST(f AS DOUBLE)), 6) AS w
      |  FROM tf JOIN f USING (term), a),
      |r AS (
      |  SELECT source, term, tf, w,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY w DESC, term) AS rk
      |  FROM w)
      |SELECT source, term, CAST(tf AS BIGINT) AS tf, w AS ctfidf,
      |  CAST(rk AS INT) AS rk
      |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin

  /** q_text_kneser_ney entry: interpolated KNESER–NEY smoothed bigram
    * probabilities (d = 0.75) for the corpus's top bigrams — the
    * language-model smoothing that made n-gram LMs competitive
    * (Kneser & Ney 1995; Chen & Goodman 1999's benchmark winner) and
    * the natural upgrade to the suite's raw-MLE bigram scorer: the
    * continuation probability P_cont(w₂) = N₁₊(·w₂)/N₁₊(··) backs off
    * to "how many contexts does w₂ follow?" rather than raw frequency
    * (the classic "San Francisco" → "Francisco" artifact), and the
    * absolute-discount interpolation
    * P(w₂|w₁) = (c₁₂ − d)/c(w₁) + d·N₁₊(w₁·)/c(w₁) · P_cont(w₂)
    * redistributes exactly the discounted mass.
    *
    * Scale shape: the corpus collapses to bigram counts in one
    * combinable groupBy (the only corpus-sized exchange); context,
    * continuation, and type-total frames all derive from that
    * vocabulary-bounded table and broadcast. Determinism: every count
    * is an exact integer; p_kn is one fixed IEEE tree over them. */
  def kneserNeyQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = t(s, dir, "documents")
      .select(split(lower($"text"), " ").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(expr(
        "filter(transform(sequence(1, size(toks) - 1)," +
          " i -> struct(toks[i-1] AS w1, toks[i] AS w2))," +
          " p -> length(p.w1) > 0 AND length(p.w2) > 0)")).as("p"))
      .select($"p.w1", $"p.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val ctx = pairs.groupBy($"w1")
      .agg(sum($"c12").as("c_ctx"), count(lit(1)).as("n_fwd"))
    val back = pairs.groupBy($"w2").agg(count(lit(1)).as("n_back"))
    val types = pairs.agg(count(lit(1)).as("n_types"))
    val d = lit(0.75d)
    pairs
      .join(broadcast(ctx), "w1")
      .join(broadcast(back), "w2")
      .crossJoin(broadcast(types))
      .select($"w1", $"w2", $"c12", $"c_ctx", $"n_fwd", $"n_back",
        round(($"c12".cast("double") - d) / $"c_ctx" +
          d * $"n_fwd".cast("double") / $"c_ctx" *
            ($"n_back".cast("double") / $"n_types"), 6).as("p_kn"))
      .orderBy($"c12".desc, $"w1", $"w2")
      .limit(20)
  }

  val kneserNeySql: String =
    """WITH tok AS (
      |  SELECT string_split(lower(text), ' ') AS toks FROM documents),
      |pairs AS (
      |  SELECT p.w1, p.w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |    FROM tok) WHERE len(p.w1) > 0 AND len(p.w2) > 0 GROUP BY 1, 2),
      |ctx AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c_ctx,
      |    CAST(COUNT(*) AS BIGINT) AS n_fwd
      |  FROM pairs GROUP BY w1),
      |back AS (
      |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_back FROM pairs GROUP BY w2),
      |ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM pairs)
      |SELECT p.w1, p.w2, p.c12, c.c_ctx, c.n_fwd, b.n_back,
      |  ROUND((CAST(p.c12 AS DOUBLE) - 0.75) / c.c_ctx
      |    + 0.75 * CAST(c.n_fwd AS DOUBLE) / c.c_ctx
      |      * (CAST(b.n_back AS DOUBLE) / t.n_types), 6) AS p_kn
      |FROM pairs p JOIN ctx c USING (w1) JOIN back b USING (w2), ty t
      |ORDER BY p.c12 DESC, p.w1, p.w2 LIMIT 20""".stripMargin

  /** q_text_burstiness entry: per-term BURSTINESS of the top-15 terms —
    * the Fano factor (variance/mean of the per-document term count,
    * zeros included) plus the Church–Gale within-document rate
    * E[tf | tf>0] / E[tf]. Burstiness separates topical content words
    * (arrive in clumps: Fano ≫ 1) from function words (Poisson-like:
    * Fano ≈ 1) — the lexical statistic behind stopword induction and
    * keyword weighting that raw frequency cannot see.
    *
    * Scale shape: one combinable (term, doc) tf collapse, then a
    * vocabulary-bounded per-term aggregate carrying exact Σtf and Σtf²;
    * the doc total is a broadcast 1-row frame. All moments from exact
    * integers; ratios are one IEEE tree. */
  def burstinessQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = t(s, dir, "documents")
      .select($"doc_id", explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w", $"doc_id").agg(count(lit(1)).as("tf"))
    val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
    val n = $"nd".cast("double")
    val mean = $"t_total".cast("double") / n
    val variance = ($"sum_tf2".cast("double") -
      $"t_total".cast("double") * $"t_total".cast("double") / n) / n
    tf.groupBy($"w")
      .agg(count(lit(1)).as("df"), sum($"tf").as("t_total"),
        sum($"tf" * $"tf").as("sum_tf2"))
      .crossJoin(broadcast(nDocs))
      .select($"w".as("term"), $"df", $"t_total",
        round(variance / mean, 6).as("fano"),
        round(($"t_total".cast("double") / $"df") / mean, 6).as("burstiness"))
      .orderBy($"t_total".desc, $"term")
      .limit(15)
  }

  val burstinessSql: String =
    """WITH tf AS (
      |  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM
      |    (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |     FROM documents)
      |  WHERE length(w) > 0 GROUP BY 1, 2),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
      |per AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(SUM(tf) AS BIGINT) AS t_total,
      |    CAST(SUM(tf * tf) AS BIGINT) AS sum_tf2
      |  FROM tf GROUP BY w)
      |SELECT w AS term, df, t_total,
      |  ROUND(((CAST(sum_tf2 AS DOUBLE) - CAST(t_total AS DOUBLE)
      |      * CAST(t_total AS DOUBLE) / CAST(nd AS DOUBLE)) / CAST(nd AS DOUBLE))
      |    / (CAST(t_total AS DOUBLE) / CAST(nd AS DOUBLE)), 6) AS fano,
      |  ROUND((CAST(t_total AS DOUBLE) / df)
      |    / (CAST(t_total AS DOUBLE) / CAST(nd AS DOUBLE)), 6) AS burstiness
      |FROM per, nd ORDER BY t_total DESC, term LIMIT 15""".stripMargin

  /** q_text_rake entry: RAKE keyphrase extraction (Rose, Engel, Cramer
    * & Cowley 2010) — candidate phrases are the maximal stopword-free
    * token runs (the gaps-and-islands split every phrase miner uses);
    * each word scores degree/frequency, where degree sums the lengths
    * of every phrase containing the word (rewarding words that live in
    * long collocations); a phrase scores the sum of its words. The
    * corpus-level top-30 is the keyword list a topic-labeling or
    * index-building pass feeds on — unsupervised, language-agnostic,
    * and one of the few keyphrase methods that needs no model.
    *
    * Scale shape: the islands trick is one window per document
    * (position − rank over non-stop tokens — group size bounded by doc
    * length), word statistics collapse to the VOCABULARY (Heaps-law
    * bounded, broadcastable), and phrase scoring joins phrase words
    * against that frame. Determinism: degree and freq are exact
    * integers; word scores round to 9 dp as decimals and phrase scores
    * sum exactly; ties order by phrase text. */
  /** q_text_textrank entry: TEXTRANK keyword extraction (Mihalcea &
    * Tarau, EMNLP 2004) — PageRank over the word CO-OCCURRENCE graph:
    * non-stopword tokens within distance ≤ 2 share an undirected edge
    * weighted by co-occurrence count; 4 damped rank iterations; the
    * top-20 words are the corpus keywords. [[rakeQ]]'s graph-based
    * complement — RAKE scores words by their phrase neighborhoods,
    * TextRank by global recommendation flow (a word matters when
    * well-connected words co-occur with it), which is why the two
    * survive together in production keyphrase stacks.
    *
    * Scale shape: the pair build is a per-document position self-join
    * with 0 < Δpos ≤ 2 — O(corpus × window) rows, one exchange — and
    * everything after collapses to the co-occurrence graph, FLOORED
    * (r10 verdict item 4): pair types grow faster than the corpus
    * under Heaps-law vocabulary growth (measured 3.7×/decade wall at
    * sf1 before the floor), so edges below [[textrankFloor]] — a
    * corpus-proportional count, ~"co-occurs once per thousand docs" —
    * are dropped BEFORE the graph build, exactly the df floor
    * production TextRank runs. The floor is mirrored literally in the
    * oracle (`GREATEST(2, CEIL(COUNT(*)/1000.0))` over documents —
    * the [[Similarity.adaptiveBits]] twin-contract pattern), so both
    * engines rank the identical floored graph. The graph is
    * checkpointed; the rank loop re-reads the tiny frame (the
    * [[graft.ops.Graph.pagerankQ]] lineage lesson). Determinism: the
    * pagerank contract verbatim — exact integer weights, 9-dp rounded
    * DECIMAL(28,9) contribution merges, re-round per iteration, dyadic
    * start 0.125. */
  private[ops] def textrankFloor(nDocs: Long): Long =
    math.max(2L, math.ceil(nDocs.toDouble / 1000.0).toLong)

  def textrankQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    val floor = textrankFloor(t(s, dir, "documents").count())
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val tk = Text.withToks(s, dir, spread = true)
      .select($"doc_id", posexplode($"toks").as(Seq("pos", "term")))
      .filter(!$"term".isin(stops: _*) && length($"term") >= 1)
    val edges = tk.as("x").join(tk.as("y"),
        $"x.doc_id" === $"y.doc_id" &&
          $"y.pos" > $"x.pos" && $"y.pos" - $"x.pos" <= 2 &&
          $"x.term" =!= $"y.term")
      .select(least($"x.term", $"y.term").as("src"),
        greatest($"x.term", $"y.term").as("dst"))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= floor)
      .checkpoint()
    val und = edges.unionByName(
      edges.select($"dst".as("src"), $"src".as("dst"), $"w"))
    val outw = und.groupBy($"src").agg(sum($"w").as("outw"))
    val nodes = und.select($"src".as("node")).distinct()
    var pr = nodes.withColumn("pr", lit(0.125)) // dyadic start
    for (_ <- 1 to 4) {
      val contribs = und
        .join(outw, "src")
        .join(pr.withColumnRenamed("node", "src"), "src")
        .select($"dst",
          round($"pr" * $"w".cast("double") / $"outw".cast("double"), 9)
            .cast("decimal(28,9)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("mass"))
      pr = nodes
        .join(contribs, $"node" === $"dst", "left")
        .select($"node",
          round(lit(0.15) +
            lit(0.85) * coalesce($"mass", lit(0)).cast("double"), 9)
            .as("pr"))
    }
    val deg = und.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("degree"), sum($"w").as("cooc"))
    pr.join(deg, "node")
      .orderBy($"pr".desc, $"node")
      .limit(20)
      .select($"node".as("term"), $"pr".cast("double").as("textrank"),
        $"degree".cast("long").as("degree"),
        $"cooc".cast("long").as("n_cooc"))
  }

  val textrankSql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.node,
         |    ROUND(0.15 + 0.85 * CAST(COALESCE(m.mass, 0) AS DOUBLE), 9)
         |      AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT u.dst,
         |      SUM(CAST(ROUND(p.pr * CAST(u.w AS DOUBLE)
         |        / CAST(o.outw AS DOUBLE), 9) AS DECIMAL(28,9))) AS mass
         |    FROM und u
         |    JOIN outw o ON o.src = u.src
         |    JOIN $prev p ON p.node = u.src
         |    GROUP BY u.dst) m ON n.node = m.dst)""".stripMargin
    s"""WITH dtok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, p.pos AS pos, p.term AS term FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
      |      i -> {'pos': i, 'term': toks[i]})) AS p
      |    FROM dtok)
      |  WHERE term NOT IN ('the', 'a', 'of', 'and', 'to', 'in')
      |    AND length(term) >= 1),
      |fl AS (
      |  SELECT GREATEST(2, CAST(CEIL(COUNT(*) / 1000.0) AS BIGINT)) AS f
      |  FROM documents),
      |edges AS (
      |  SELECT LEAST(x.term, y.term) AS src,
      |    GREATEST(x.term, y.term) AS dst, COUNT(*) AS w
      |  FROM tk x JOIN tk y ON x.doc_id = y.doc_id
      |    AND y.pos > x.pos AND y.pos - x.pos <= 2
      |    AND x.term <> y.term
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= (SELECT f FROM fl)),
      |und AS (
      |  SELECT src, dst, w FROM edges
      |  UNION ALL SELECT dst, src, w FROM edges),
      |outw AS (SELECT src, SUM(w) AS outw FROM und GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS node FROM und),
      |p0 AS (SELECT node, 0.125::DOUBLE AS pr FROM nodes),
      |${iter("p0", "p1")},
      |${iter("p1", "p2")},
      |${iter("p2", "p3")},
      |${iter("p3", "p4")},
      |deg AS (SELECT src AS node, COUNT(*) AS degree, SUM(w) AS cooc
      |  FROM und GROUP BY 1)
      |SELECT p.node AS term, p.pr AS textrank,
      |  CAST(d.degree AS BIGINT) AS degree,
      |  CAST(d.cooc AS BIGINT) AS n_cooc
      |FROM p4 p JOIN deg d ON p.node = d.node
      |ORDER BY p.pr DESC, p.node LIMIT 20""".stripMargin
  }

  /** q_text_burrows entry: BURROWS' DELTA stylometric distance between
    * sources (Burrows, LLC 2002; Argamon's probabilistic reading) —
    * z-score each source's relative frequency of the 20 most frequent
    * corpus words against the across-source distribution, and Delta =
    * mean |z_a − z_b| over the word panel. The standard authorship /
    * style-drift measure: function-word profiles are topic-independent
    * fingerprints, so two "sources" with near-zero Delta are one
    * upstream generator in disguise — a provenance audit for crawl
    * dedup ([[graft.ops.Dedup]] finds copied TEXT; Delta finds copied
    * STYLE). Output: every source pair ordered by Delta.
    *
    * Scale shape: relative frequencies need ONE combinable
    * (source, word) count; everything after lives on the
    * |sources| × 20 panel (window z-scores, a bounded pair join).
    *
    * Exactness: frequencies round to 12 dp off exact integer ratios;
    * panel moments merge as DECIMAL(38,12); z and Delta are shared
    * IEEE shapes with 9-dp term rounds. */
  def burrowsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val toks = Text.withToks(s, dir)
      .select($"source", explode($"toks").as("w"))
      .filter(length($"w") >= 1)
    val mfw = toks.groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(20).select($"w")
    val totals = toks.groupBy($"source").agg(count(lit(1)).as("tot"))
    val counts = toks.join(broadcast(mfw), Seq("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val grid = totals.select($"source", $"tot")
      .crossJoin(broadcast(mfw))
      .join(counts, Seq("source", "w"), "left")
      .select($"source", $"w",
        round(coalesce($"c", lit(0L)).cast("double") / $"tot", 12)
          .as("f"))
    val wW = Window.partitionBy($"w")
    val z = grid
      .withColumn("n", count(lit(1)).over(wW))
      .withColumn("sf", sum(round($"f", 12).cast("decimal(38,12)")).over(wW)
        .cast("double"))
      .withColumn("sf2",
        sum(round($"f" * $"f", 12).cast("decimal(38,12)")).over(wW)
          .cast("double"))
      .withColumn("mu", $"sf" / $"n")
      .withColumn("sd", sqrt(($"n" * $"sf2" - $"sf" * $"sf")
        / ($"n" * ($"n" - lit(1)).cast("double"))))
      .select($"source", $"w", (($"f" - $"mu") / $"sd").as("z"))
    z.as("a").join(z.as("b"),
        $"a.w" === $"b.w" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(sum(round(abs($"a.z" - $"b.z"), 9).cast("decimal(28,9)"))
        .as("sd"), count(lit(1)).as("n_words"))
      .select($"source_a", $"source_b",
        $"n_words".cast("long").as("n_words"),
        round($"sd".cast("double") / $"n_words", 6).as("delta"))
      .orderBy($"delta", $"source_a", $"source_b")
  }

  val burrowsSql: String =
    """WITH tok AS (
      |  SELECT source, w FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) WHERE length(w) >= 1),
      |mfw AS (
      |  SELECT w FROM (
      |    SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
      |    ORDER BY c DESC, w LIMIT 20)),
      |totals AS (SELECT source, COUNT(*) AS tot FROM tok GROUP BY 1),
      |cnt AS (
      |  SELECT source, w, COUNT(*) AS c
      |  FROM tok JOIN mfw USING (w) GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.source, m.w,
      |    ROUND(CAST(COALESCE(c.c, 0) AS DOUBLE) / t.tot, 12) AS f
      |  FROM totals t CROSS JOIN mfw m
      |  LEFT JOIN cnt c ON c.source = t.source AND c.w = m.w),
      |z AS (
      |  SELECT source, w, (f - mu) / sd AS z FROM (
      |    SELECT *, sf / n AS mu,
      |      SQRT((n * sf2 - sf * sf) / (n * CAST(n - 1 AS DOUBLE))) AS sd
      |    FROM (
      |      SELECT source, w, f,
      |        COUNT(*) OVER (PARTITION BY w) AS n,
      |        CAST(SUM(CAST(ROUND(f, 12) AS DECIMAL(38,12)))
      |          OVER (PARTITION BY w) AS DOUBLE) AS sf,
      |        CAST(SUM(CAST(ROUND(f * f, 12) AS DECIMAL(38,12)))
      |          OVER (PARTITION BY w) AS DOUBLE) AS sf2
      |      FROM grid)))
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  ROUND(CAST(SUM(CAST(ROUND(ABS(a.z - b.z), 9) AS DECIMAL(28,9)))
      |    AS DOUBLE) / COUNT(*), 6) AS delta
      |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY delta, source_a, source_b""".stripMargin

  def rakeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val tk = Text.withToks(s, dir)
      .select($"doc_id", posexplode($"toks").as(Seq("pos", "term")))
    val nonStop = tk.filter(!$"term".isin(stops: _*))
      .withColumn("grp", $"pos" - row_number().over(
        Window.partitionBy($"doc_id").orderBy($"pos")))
    val phrases = nonStop.groupBy($"doc_id", $"grp")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, term))), x -> x.term)"),
        " ").as("phrase"),
        count(lit(1)).as("plen"))
    // word statistics over ALL phrase occurrences: freq = appearances,
    // degree = Σ lengths of containing phrases
    val words = phrases
      .select($"phrase", $"plen", explode(split($"phrase", " ")).as("term"))
    val wordScore = words.groupBy($"term")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("degree"))
      .select($"term",
        round($"degree".cast("double") / $"freq", 9)
          .cast("decimal(18,9)").as("wscore"))
    // a DISTINCT phrase scores the sum of its words' scores (with
    // within-phrase multiplicity); occurrences counted separately
    val pw = phrases.select($"phrase").distinct()
      .select($"phrase", explode(split($"phrase", " ")).as("term"))
    val score = pw.join(wordScore, "term")
      .groupBy($"phrase")
      .agg(sum($"wscore").as("score"), count(lit(1)).as("n_words"))
    val occ = phrases.groupBy($"phrase").agg(count(lit(1)).as("n_occ"))
    score.join(occ, "phrase")
      .orderBy($"score".desc, $"phrase")
      .limit(30)
      .select($"phrase", $"n_words".cast("long").as("n_words"), $"n_occ",
        round($"score".cast("double"), 6).as("score"))
  }

  val rakeSql: String =
    """WITH dtok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |tk AS (
      |  SELECT doc_id, p.pos AS pos, p.term AS term FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
      |      i -> {'pos': i, 'term': toks[i]})) AS p
      |    FROM dtok)),
      |ns AS (
      |  SELECT doc_id, pos, term,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM tk WHERE term NOT IN ('the', 'a', 'of', 'and', 'to', 'in')),
      |ph AS MATERIALIZED (
      |  SELECT doc_id, grp, string_agg(term, ' ' ORDER BY pos) AS phrase,
      |    CAST(COUNT(*) AS BIGINT) AS plen
      |  FROM ns GROUP BY 1, 2),
      |w AS (
      |  SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS term FROM ph),
      |ws AS MATERIALIZED (
      |  SELECT term, CAST(ROUND(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 9)
      |    AS DECIMAL(18,9)) AS wscore
      |  FROM w GROUP BY 1),
      |pw AS (
      |  SELECT phrase, unnest(string_split(phrase, ' ')) AS term
      |  FROM (SELECT DISTINCT phrase FROM ph)),
      |sc AS (
      |  SELECT phrase, CAST(SUM(wscore) AS DECIMAL(38,9)) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS n_words
      |  FROM pw JOIN ws USING (term) GROUP BY 1),
      |occ AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
      |        FROM ph GROUP BY 1)
      |SELECT sc.phrase, n_words, n_occ,
      |  ROUND(CAST(score AS DOUBLE), 6) AS score
      |FROM sc JOIN occ USING (phrase)
      |ORDER BY sc.score DESC, sc.phrase LIMIT 30""".stripMargin

  /** q_text_dice entry: DICE / JACCARD / OCHIAI association scores for
    * the top-20 adjacent bigrams by raw count (count floor 5, the
    * [[pmiQ]] Manning–Schütze guard) — the SET-OVERLAP collocation
    * family beside PMI's information-theoretic score: Dice =
    * 2f₁₂/(f₁+f₂), Jaccard = f₁₂/(f₁+f₂−f₁₂), Ochiai = f₁₂/√(f₁f₂).
    * PMI over-rewards rare pairs; Dice/Jaccard are frequency-robust,
    * which is why lexicon-induction and phrase-table pruning use them.
    *
    * Scale shape: identical to [[pmiQ]] — pair + unigram counts are
    * map-side-combinable collapses of the token stream (text never
    * shuffles); the score join is pair-frame × two broadcast
    * vocabulary frames. Counts exact integers; each score is one IEEE
    * division rounded 6; ties order (c12 desc, w1, w2). */
  def diceQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"doc_id", split(lower($"text"), " ").as("toks"))
    val uni = toks
      .select(explode($"toks").as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val pairs = toks
      .filter(size($"toks") >= 2)
      .select(explode(expr(
        "filter(transform(sequence(1, size(toks) - 1)," +
          " i -> struct(toks[i-1] AS w1, toks[i] AS w2))," +
          " p -> length(p.w1) > 0 AND length(p.w2) > 0)")).as("p"))
      .select($"p.w1", $"p.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    pairs.filter($"c12" >= 5)
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c1")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "c2")), "w2")
      .select($"w1", $"w2", $"c12".cast("long").as("c12"),
        $"c1".cast("long").as("c1"), $"c2".cast("long").as("c2"),
        round(lit(2.0) * $"c12" / ($"c1" + $"c2").cast("double"), 6)
          .as("dice"),
        round($"c12".cast("double") /
          ($"c1" + $"c2" - $"c12").cast("double"), 6).as("jaccard"),
        round($"c12".cast("double") /
          sqrt($"c1".cast("double") * $"c2".cast("double")), 6).as("ochiai"))
      .orderBy($"c12".desc, $"w1", $"w2")
      .limit(20)
  }

  val diceSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |uni AS (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT unnest(toks) AS w FROM tok) WHERE len(w) > 0 GROUP BY 1),
      |pr AS (
      |  SELECT p.w1, p.w2, COUNT(*) AS c12 FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |    FROM tok) WHERE len(p.w1) > 0 AND len(p.w2) > 0 GROUP BY 1, 2)
      |SELECT pr.w1, pr.w2, CAST(c12 AS BIGINT) AS c12,
      |  CAST(u1.c AS BIGINT) AS c1, CAST(u2.c AS BIGINT) AS c2,
      |  ROUND(2.0 * c12 / CAST(u1.c + u2.c AS DOUBLE), 6) AS dice,
      |  ROUND(CAST(c12 AS DOUBLE) / CAST(u1.c + u2.c - c12 AS DOUBLE), 6)
      |    AS jaccard,
      |  ROUND(CAST(c12 AS DOUBLE)
      |    / SQRT(CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS ochiai
      |FROM pr JOIN uni u1 ON pr.w1 = u1.w JOIN uni u2 ON pr.w2 = u2.w
      |WHERE c12 >= 5
      |ORDER BY c12 DESC, pr.w1, pr.w2
      |LIMIT 20""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_dice" -> diceQ,
    "q_text_rake" -> rakeQ,
    "q_text_textrank" -> textrankQ,
    "q_text_burrows" -> burrowsQ,
    "q_text_burstiness" -> burstinessQ,
    "q_text_kneser_ney" -> kneserNeyQ,
    "q_text_ctfidf" -> ctfidfQ,
    "q_text_pmi" -> pmiQ,
    "q_text_freqfreq" -> freqFreqQ,
    "q_text_chao1" -> chao1Q,
    "q_text_hapax" -> hapaxQ)

  def oracle: Map[String, String] = Map(
    "q_text_dice" -> diceSql,
    "q_text_rake" -> rakeSql,
    "q_text_textrank" -> textrankSql,
    "q_text_burrows" -> burrowsSql,
    "q_text_burstiness" -> burstinessSql,
    "q_text_kneser_ney" -> kneserNeySql,
    "q_text_ctfidf" -> ctfidfSql,
    "q_text_pmi" -> pmiSql,
    "q_text_freqfreq" -> freqFreqSql,
    "q_text_chao1" -> chao1Sql,
    "q_text_hapax" -> hapaxSql)
}
