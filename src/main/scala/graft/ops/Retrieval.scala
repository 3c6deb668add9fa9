package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Retrieval-quality evaluation and re-ranking beyond [[Text.ndcgQ]]:
  * per-query MRR / recall@k (the eval grid every retrieval change ships
  * against) and Maximal Marginal Relevance re-ranking (Carbonell &
  * Goldstein, SIGIR 1998 — the standard diversity pass between a
  * retriever and a RAG context window, where near-duplicate top hits
  * waste the token budget).
  *
  * Both share [[Text]]'s BM25 machinery and its determinism contract:
  * per-term weights round to 9 dp and merge as DECIMAL(28,9); every
  * ordering breaks ties on doc_id.
  */
object Retrieval {

  private val QTerms = Seq("dup", "vector", "spark")
  private val RelTf = 3   // single-term relevance: doc mentions term ≥ 3×
  private val TopN = 20   // MMR candidate pool
  private val Select = 5  // MMR picks
  private val Lambda = 0.7

  /** Single-term BM25 postings: (term, doc_id, score DECIMAL(18,9),
    * tf) for the three query terms. */
  private def postings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Text.withToks(s, dir).select($"doc_id", $"toks")
    Text.bm25Weights(docs, Text.queryTf(docs, QTerms))
      .select($"term", $"doc_id", $"tf",
        round($"w", 9).cast("decimal(18,9)").as("score"))
  }

  private val postingsSql: String =
    s"""tk AS MATERIALIZED (SELECT doc_id, ${Text.toksSql} AS toks FROM documents),
       |dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
       |st AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
       |tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf FROM
       |  (SELECT doc_id, unnest(toks) AS term FROM tk)
       |  WHERE term IN ('dup', 'vector', 'spark') GROUP BY 1, 2),
       |docf AS MATERIALIZED (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |po AS MATERIALIZED (
       |  SELECT term, tf.doc_id, tf,
       |    CAST(ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)
       |      AS DECIMAL(18,9)) AS score
       |  FROM tf JOIN docf USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st)"""
      .stripMargin

  /** q_eval_mrr entry: per-query-term reciprocal rank, recall@10, and
    * precision@10 of the single-term BM25 ranking, with relevance =
    * "mentions the term ≥ [[RelTf]] times". The spec asserts the MRR
    * mean identity over the three rows. */
  def mrrQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = postings(s, dir)
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"term").orderBy($"score".desc, $"doc_id")))
      .withColumn("rel", ($"tf" >= RelTf).cast("long"))
    ranked.groupBy($"term")
      .agg(count(lit(1)).as("n_ranked"),
        sum($"rel").as("n_relevant"),
        min(when($"rel" === 1, $"rnk")).as("first_rank"),
        sum(when($"rel" === 1 && $"rnk" <= 10, 1L).otherwise(0L)).as("hits10"))
      .select($"term", $"n_ranked", $"n_relevant",
        coalesce($"first_rank", lit(0L)).cast("long").as("first_rank"),
        round(coalesce(lit(1.0) / $"first_rank", lit(0.0)), 6).as("rr"),
        round(when($"n_relevant" > 0,
          $"hits10".cast("double") / $"n_relevant").otherwise(0.0), 6)
          .as("r_at_10"),
        round($"hits10".cast("double") / least(lit(10L), $"n_ranked"), 6)
          .as("p_at_10"))
      .orderBy($"term")
  }

  val mrrSql: String =
    s"""WITH $postingsSql,
       |rk AS (
       |  SELECT term, doc_id, tf, score,
       |    ROW_NUMBER() OVER (PARTITION BY term
       |      ORDER BY score DESC, doc_id) AS rnk,
       |    CASE WHEN tf >= $RelTf THEN 1 ELSE 0 END AS rel
       |  FROM po),
       |a AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_ranked,
       |    CAST(SUM(rel) AS BIGINT) AS n_relevant,
       |    MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rank,
       |    CAST(SUM(CASE WHEN rel = 1 AND rnk <= 10 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits10
       |  FROM rk GROUP BY term)
       |SELECT term, n_ranked, n_relevant,
       |  CAST(COALESCE(first_rank, 0) AS BIGINT) AS first_rank,
       |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / first_rank, 0.0), 6) AS rr,
       |  ROUND(CASE WHEN n_relevant > 0
       |    THEN CAST(hits10 AS DOUBLE) / n_relevant ELSE 0.0 END, 6) AS r_at_10,
       |  ROUND(CAST(hits10 AS DOUBLE) / LEAST(10, n_ranked), 6) AS p_at_10
       |FROM a ORDER BY term""".stripMargin

  /** q_search_mmr entry: MMR re-ranking of the top-[[TopN]] multi-term
    * BM25 pool down to [[Select]] diverse picks — greedy
    * argmax λ·score_norm − (1−λ)·max-Jaccard-to-selected over the
    * candidates' token sets.
    *
    * Scale shape: the candidate pool is top-N-bounded BEFORE any
    * pairwise work, so the similarity join is ≤ N² rows regardless of
    * corpus size, and the greedy loop solves in one bounded task (the
    * [[Graph.mstQ]] filter-then-solve discipline — no per-pick Spark
    * round). Determinism: scores and Jaccards are 9-dp decimals; the
    * MMR objective recomputes identically from them in both engines;
    * all argmaxes tie-break on doc_id. */
  def mmrQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = Rank.topK(
      postings(s, dir).groupBy($"doc_id").agg(sum($"score").as("sc")),
      Seq($"sc".desc, $"doc_id"), TopN, "rnk")
    val smax = cand.agg(max($"sc").as("smax"))
    // rounded DOUBLES, not round→decimal casts: nothing downstream sums
    // these (they feed the bounded greedy solve and 6-dp output), and
    // keeping them double keeps the output path clean for tools.Lint —
    // the decimal cast here was a value-preserving round-trip anyway.
    val scored = cand.crossJoin(broadcast(smax))
      .select($"doc_id",
        round($"sc".cast("double") / $"smax".cast("double"), 9).as("s"))
    val ctoks = scored.select($"doc_id")
      .join(Text.withToks(s, dir).select($"doc_id",
        array_distinct($"toks").as("ts")), "doc_id")
      .select($"doc_id", explode($"ts").as("tok"))
    val sizes = ctoks.groupBy($"doc_id").agg(count(lit(1)).as("nt"))
    val sims = ctoks.as("x").join(ctoks.as("y"),
        $"x.tok" === $"y.tok" && $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("a"), $"y.doc_id".as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("a"), $"nt".as("na")), "a")
      .join(sizes.select($"doc_id".as("b"), $"nt".as("nb")), "b")
      .select($"a", $"b",
        round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 9).as("j"))
    // bounded greedy solve over N candidates + ≤N² sims in one task
    val tagged = scored.select(lit(0).as("kind"), $"doc_id".as("a"),
        lit(-1L).as("b"), $"s".cast("double").as("v"))
      .unionByName(sims.select(lit(1).as("kind"), $"a", $"b",
        $"j".cast("double").as("v")))
    tagged.as[(Int, Long, Long, Double)].coalesce(1)
      .mapPartitions { it =>
        val rows = it.toArray
        val s = rows.filter(_._1 == 0).map(r => r._2 -> r._4).toMap
        val jm = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
          .withDefaultValue(0.0)
        rows.filter(_._1 == 1).foreach { r =>
          jm((r._2, r._3)) = r._4; jm((r._3, r._2)) = r._4 }
        def r9(d: Double): Double =
          java.math.BigDecimal.valueOf(d).setScale(9,
            java.math.RoundingMode.HALF_UP).doubleValue
        var selected = Vector.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Double, Double, Double)]
        for (step <- 1 to Select) {
          val best = s.keys.filter(d => !selected.contains(d)).map { d =>
            val msim = if (selected.isEmpty) 0.0
              else selected.map(x => jm((d, x))).max
            val mmr = r9(Lambda * s(d) - (1 - Lambda) * msim)
            (d, msim, mmr)
          }.minBy { case (d, _, m) => (-m, d) }
          selected :+= best._1
          out += ((step, best._1, s(best._1), best._2, best._3))
        }
        out.iterator
      }
      .toDF("step", "doc_id", "s_norm", "max_sim", "mmr")
      .select($"step".cast("long").as("step"), $"doc_id",
        round($"s_norm", 6).as("s_norm"), round($"max_sim", 6).as("max_sim"),
        round($"mmr", 6).as("mmr"))
      .orderBy($"step")
  }

  val mmrSql: String = {
    val lam = Lambda
    val picks = (1 to Select).map { k =>
      val prev = s"sel${k - 1}"
      s"""pick$k AS MATERIALIZED (
         |  SELECT c.doc_id, c.s,
         |    COALESCE((SELECT MAX(sm.j) FROM sym sm JOIN $prev p
         |      ON sm.a = c.doc_id AND sm.b = p.doc_id), 0.0) AS msim
         |  FROM scored c
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM $prev)),
         |best$k AS MATERIALIZED (
         |  SELECT $k AS step, doc_id, s, msim,
         |    ROUND($lam * CAST(s AS DOUBLE) - ${1 - lam} * msim, 9) AS mmr
         |  FROM pick$k
         |  ORDER BY mmr DESC, doc_id LIMIT 1),
         |sel$k AS MATERIALIZED (
         |  SELECT doc_id FROM $prev UNION ALL SELECT doc_id FROM best$k)"""
        .stripMargin
    }.mkString(",\n")
    val union = (1 to Select).map(k => s"SELECT * FROM best$k").mkString("\n  UNION ALL ")
    s"""WITH $postingsSql,
       |cand AS MATERIALIZED (
       |  SELECT doc_id, sc FROM (
       |    SELECT doc_id, SUM(score) AS sc,
       |      ROW_NUMBER() OVER (ORDER BY SUM(score) DESC, doc_id) AS rnk
       |    FROM po GROUP BY doc_id)
       |  WHERE rnk <= $TopN),
       |scored AS MATERIALIZED (
       |  SELECT doc_id, ROUND(CAST(sc AS DOUBLE)
       |    / (SELECT CAST(MAX(sc) AS DOUBLE) FROM cand), 9) AS s
       |  FROM cand),
       |ct AS MATERIALIZED (
       |  SELECT c.doc_id, unnest(list_distinct(tk.toks)) AS tok
       |  FROM scored c JOIN tk ON tk.doc_id = c.doc_id),
       |sz AS MATERIALIZED (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM ct GROUP BY 1),
       |sims AS MATERIALIZED (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |    ROUND(CAST(COUNT(*) AS DOUBLE)
       |      / (MIN(sa.nt) + MIN(sb.nt) - COUNT(*)), 9) AS j
       |  FROM ct x JOIN ct y ON x.tok = y.tok AND x.doc_id < y.doc_id
       |    JOIN sz sa ON sa.doc_id = x.doc_id
       |    JOIN sz sb ON sb.doc_id = y.doc_id
       |  GROUP BY 1, 2),
       |sym AS MATERIALIZED (
       |  SELECT a, b, CAST(j AS DOUBLE) AS j FROM sims
       |  UNION ALL SELECT b, a, CAST(j AS DOUBLE) AS j FROM sims),
       |sel0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0),
       |$picks
       |SELECT CAST(step AS BIGINT) AS step, doc_id,
       |  ROUND(CAST(s AS DOUBLE), 6) AS s_norm,
       |  ROUND(msim, 6) AS max_sim, ROUND(mmr, 6) AS mmr
       |FROM ($union)
       |ORDER BY step""".stripMargin
  }

  private val PrfDocs = 5    // pseudo-relevant pool
  private val PrfTerms = 3   // expansion terms
  private val Beta = 0.5     // expansion-term weight (Rocchio β)

  /** q_search_rocchio entry: PSEUDO-RELEVANCE-FEEDBACK query expansion
    * (Rocchio, 1971 — the classical relevance-feedback operator, run
    * in its blind/PRF form): take the original query's BM25 top-5 as
    * assumed-relevant, mine their [[PrfTerms]] strongest non-query
    * terms by summed TF-IDF, re-score the corpus with the expanded
    * weighted query (original terms weight 1, expansion terms
    * [[Beta]]), and emit the new top-10 with each doc's original rank
    * — the recall-rescue pass a lexical retrieval stack runs when the
    * user's three words under-specify the need.
    *
    * Scale shape: both scoring passes are postings-bounded (the term
    * `isin` filter rides the token explode); the feedback pool is
    * top-5-bounded before any term mining, and the mined vocabulary
    * frame is ≤ pool×doc-length rows collapsing to [[PrfTerms]]. All
    * the [[Text]] BM25 determinism contracts apply; expansion-term
    * selection orders by (tfidf DESC, term) on 9-dp decimals. */
  def rocchioQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Text.withToks(s, dir).select($"doc_id", $"toks")
    val dl = docs.select($"doc_id", size($"toks").cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg($"dl").as("avgdl"))
    // pass 1: original-query BM25 -> top-PrfDocs pseudo-relevant pool
    // only ranks <= 10 are ever read (pool <= PrfDocs, display <= 10):
    // a distributed top-10 replaces the full-frame rank
    val orig = Rank.topK(
      postings(s, dir).groupBy($"doc_id").agg(sum($"score").as("sc")),
      Seq($"sc".desc, $"doc_id"), 10, "rn_orig")
    val pool = orig.filter($"rn_orig" <= PrfDocs).select($"doc_id")
    // expansion mining: summed TF-IDF of non-query terms inside the pool
    val poolTerms = docs.join(broadcast(pool), "doc_id")
      .select($"doc_id", explode($"toks").as("term"))
      .filter(!$"term".isin(QTerms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val docFreqAll = docs.select($"doc_id", explode($"toks").as("term"))
      .filter(!$"term".isin(QTerms: _*)).distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val expansion = poolTerms.join(docFreqAll, "term")
      .crossJoin(broadcast(stats))
      .groupBy($"term")
      .agg(sum(round($"tf" * log(($"n_docs" + 1.0) / ($"df" + 1.0)), 9)
        .cast("decimal(28,9)")).as("tfidf"))
      .orderBy($"tfidf".desc, $"term")
      .limit(PrfTerms)
      .select($"term", lit(Beta).as("qw"))
    val expanded = expansion
      .unionByName(QTerms.toDF("term").withColumn("qw", lit(1.0)))
    // pass 2: weighted BM25 over the expanded term set
    val tf2 = docs.select($"doc_id", explode($"toks").as("term"))
      .join(broadcast(expanded), "term")
      .groupBy($"doc_id", $"term", $"qw").agg(count(lit(1)).as("tf"))
    // qw is 1 or Beta = 0.5, a power of two: qw · w is bit-identical to
    // folding qw into the weight's numerator
    val rescored = Text.bm25Weights(docs, tf2)
      .groupBy($"doc_id")
      .agg(sum(round($"qw" * $"w", 9).cast("decimal(28,9)")).as("sc2"),
        count(lit(1)).cast("int").as("n_terms_hit"))
    val rescoredTop = Rank.topK(rescored,
      Seq($"sc2".desc, $"doc_id"), 10, "rn")
    rescoredTop.join(orig.select($"doc_id", $"rn_orig"), Seq("doc_id"), "left")
      .select($"rn".cast("long").as("rn"), $"doc_id",
        round($"sc2".cast("double"), 6).as("score"), $"n_terms_hit",
        coalesce(when($"rn_orig" <= 10, $"rn_orig"), lit(0L)).cast("long")
          .as("rn_orig_top10"))
      .orderBy($"rn")
  }

  val rocchioSql: String =
    s"""WITH $postingsSql,
       |orig AS MATERIALIZED (
       |  SELECT doc_id, SUM(score) AS sc,
       |    ROW_NUMBER() OVER (ORDER BY SUM(score) DESC, doc_id) AS rn_orig
       |  FROM po GROUP BY doc_id),
       |pool AS MATERIALIZED (SELECT doc_id FROM orig WHERE rn_orig <= $PrfDocs),
       |pterms AS MATERIALIZED (
       |  SELECT t.doc_id, t.term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) t
       |  JOIN pool USING (doc_id)
       |  WHERE t.term NOT IN ('dup', 'vector', 'spark')
       |  GROUP BY 1, 2),
       |dfall AS MATERIALIZED (
       |  SELECT term, COUNT(*) AS df FROM (
       |    SELECT DISTINCT doc_id, unnest(toks) AS term FROM tk)
       |  WHERE term NOT IN ('dup', 'vector', 'spark') GROUP BY 1),
       |expansion AS MATERIALIZED (
       |  SELECT term, $Beta AS qw FROM (
       |    SELECT p.term,
       |      SUM(CAST(ROUND(p.tf * LN((n_docs + 1.0) / (df + 1.0)), 9)
       |        AS DECIMAL(28,9))) AS tfidf
       |    FROM pterms p JOIN dfall USING (term), st
       |    GROUP BY p.term ORDER BY tfidf DESC, p.term LIMIT $PrfTerms)),
       |expanded AS MATERIALIZED (
       |  SELECT * FROM expansion
       |  UNION ALL SELECT unnest(['dup', 'vector', 'spark']), 1.0),
       |tf2 AS MATERIALIZED (
       |  SELECT t.doc_id, t.term, e.qw, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) t
       |  JOIN expanded e USING (term)
       |  GROUP BY 1, 2, 3),
       |df2 AS MATERIALIZED (SELECT term, COUNT(*) AS df FROM tf2 GROUP BY 1),
       |re AS MATERIALIZED (
       |  SELECT tf2.doc_id,
       |    SUM(CAST(ROUND(qw * LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)
       |      AS DECIMAL(28,9))) AS sc2,
       |    CAST(COUNT(*) AS INT) AS n_terms_hit
       |  FROM tf2 JOIN df2 USING (term)
       |    JOIN dl ON tf2.doc_id = dl.doc_id, st
       |  GROUP BY tf2.doc_id),
       |rk AS (
       |  SELECT doc_id, sc2, n_terms_hit,
       |    ROW_NUMBER() OVER (ORDER BY sc2 DESC, doc_id) AS rn
       |  FROM re)
       |SELECT CAST(rk.rn AS BIGINT) AS rn, rk.doc_id,
       |  ROUND(CAST(sc2 AS DOUBLE), 6) AS score, n_terms_hit,
       |  CAST(COALESCE(CASE WHEN o.rn_orig <= 10 THEN o.rn_orig END, 0)
       |    AS BIGINT) AS rn_orig_top10
       |FROM rk LEFT JOIN orig o ON o.doc_id = rk.doc_id
       |WHERE rk.rn <= 10 ORDER BY rn""".stripMargin

  private val Mu = 500 // Dirichlet pseudo-count (μ)

  /** q_search_qlm entry: DIRICHLET-SMOOTHED QUERY-LIKELIHOOD retrieval
    * (Zhai & Lafferty, SIGIR 2001) — the language-modeling ranking
    * function next to BM25: score(d) = Σ_t ln((tf + μ·cf_t/|C|) / (dl + μ)).
    * Decomposed into its rank-equivalent postings form (Zhai's eq. 6,
    * dropping the doc-independent Σ_t ln(μ·cf_t/|C|) constant):
    * Σ_{t: tf>0} ln(1 + tf·|C|/(μ·cf_t)) − |q|·ln(dl + μ), so only
    * posting hits and one doc-length term contribute — a doc with zero
    * hits still scores (its length prior), which is what separates QLM
    * from BM25's hits-only scoring and why μ doubles as the length
    * normalizer. Emits the top-10 with per-doc hit counts.
    *
    * Scale shape: postings ∝ query hits ride the token explode's
    * `isin` filter; the length term is a map-stage expression over the
    * doc-length frame; top-10 is a distributed TakeOrdered, not a
    * global window. Determinism: every ln argument is an exact
    * integer-derived rational (one correctly-rounded double division),
    * ln rounds to 9 dp before the DECIMAL(28,9) sum — the BM25
    * contract. */
  def qlmQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Text.withToks(s, dir).select($"doc_id", $"toks")
    val dl = docs.select($"doc_id", size($"toks").cast("long").as("dl"))
    val terms = docs.select($"doc_id", explode($"toks").as("term"))
    val coll = terms.agg(count(lit(1)).as("c_total"))
    val qterms = terms.filter($"term".isin(QTerms: _*))
    val cf = qterms.groupBy($"term").agg(count(lit(1)).as("cf"))
    val hits = qterms
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .join(broadcast(cf), "term").crossJoin(broadcast(coll))
      .groupBy($"doc_id")
      // tf·c_total in DOUBLE: c_total is the corpus token count, so the
      // int64 product wraps once tf·c_total passes 9.2·10¹⁸ (a ~100 TB
      // corpus × a long document) — the q_stat_ad overflow class. Both
      // factors are exact below 2⁵³, so the double product is the
      // correctly-rounded exact value in both engines.
      .agg(sum(round(log(lit(1.0) + $"tf".cast("double") * $"c_total"
          / (lit(Mu.toDouble) * $"cf")), 9)
        .cast("decimal(28,9)")).as("hit_score"),
        count(lit(1)).cast("int").as("n_terms_hit"))
    dl.join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"dl",
        coalesce($"n_terms_hit", lit(0)).as("n_terms_hit"),
        (coalesce($"hit_score", lit(BigDecimal(0)).cast("decimal(28,9)"))
          - lit(QTerms.size) * round(log($"dl" + Mu), 9).cast("decimal(28,9)"))
          .as("sc"))
      .orderBy($"sc".desc, $"doc_id").limit(10)
      .withColumn("rn", row_number().over(Window.orderBy($"sc".desc, $"doc_id")))
      .select($"rn".cast("long").as("rn"), $"doc_id", $"dl", $"n_terms_hit",
        round($"sc".cast("double"), 6).as("score"))
      .orderBy($"rn")
  }

  val qlmSql: String = {
    val terms = QTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, ${Text.toksSql} AS toks FROM documents),
       |te AS MATERIALIZED (SELECT doc_id, unnest(toks) AS term FROM tk),
       |dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
       |coll AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS c_total FROM te),
       |cf AS MATERIALIZED (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM te
       |  WHERE term IN ($terms) GROUP BY 1),
       |hits AS MATERIALIZED (
       |  SELECT doc_id,
       |    SUM(CAST(ROUND(LN(1.0 + CAST(tf AS DOUBLE) * c_total
       |      / ($Mu.0 * cf)), 9) AS DECIMAL(28,9))) AS hit_score,
       |    CAST(COUNT(*) AS INT) AS n_terms_hit
       |  FROM (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM te
       |        WHERE term IN ($terms) GROUP BY 1, 2)
       |  JOIN cf USING (term), coll
       |  GROUP BY doc_id),
       |sc AS (
       |  SELECT dl.doc_id, dl.dl, COALESCE(n_terms_hit, 0) AS n_terms_hit,
       |    COALESCE(hit_score, CAST(0 AS DECIMAL(28,9)))
       |      - ${QTerms.size} * CAST(ROUND(LN(dl.dl + $Mu), 9)
       |        AS DECIMAL(28,9)) AS sc
       |  FROM dl LEFT JOIN hits ON hits.doc_id = dl.doc_id)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS BIGINT)
       |    AS rn,
       |  doc_id, dl, n_terms_hit, ROUND(CAST(sc AS DOUBLE), 6) AS score
       |FROM sc ORDER BY sc DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q_eval_rbo entry: RANK-BIASED OVERLAP between the BM25 and
    * query-likelihood top-10 rankings for the shared query (Webber,
    * Moffat & Zobel, TOIS 2010 — the standard top-weighted similarity
    * between indefinite rankings; Kendall's τ needs conjoint domains,
    * RBO doesn't): RBO@k = (1−p)·Σ_{d≤k} p^{d−1}·|A_d ∩ B_d|/d with
    * persistence p = 0.9. The two rankers are this library's own
    * retrieval engines scoring the SAME query, so the number answers
    * the ranker-migration question — "how much does the served top-10
    * actually change if we swap scorers?" — that rank correlations on
    * full domains can't.
    *
    * Shape: both rankings are k-bounded frames; the depth×overlap
    * grid is ≤ k² rows (bounded theta join, audit-whitelisted); the
    * prefix-overlap counts come from the max-rank distribution of the
    * intersection — no per-depth re-ranking. Terms round to 12 dp and
    * merge as DECIMAL(38,12). */
  def rboQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val a = Rank.topK(graft.ops.Text.bm25(s, dir),
        Seq($"bm25".desc, $"doc_id"), 10, "ra")
      .select($"doc_id", $"ra")
    val b = qlmQ(s, dir).select($"doc_id", $"rn".as("rb"))
    val both = a.join(b, "doc_id")
      .select(greatest($"ra", $"rb".cast("int")).as("mx"))
    val depths = s.range(1, 11).select($"id".as("d"))
    val xd = depths.join(both, $"mx" <= $"d", "left")
      .groupBy($"d").agg(count($"mx").as("x_d"))
    xd
      .withColumn("term",
        round(pow(lit(0.9), $"d" - 1) * $"x_d" / $"d", 12)
          .cast("decimal(38,12)"))
      .agg(max(when($"d" === 10, $"x_d")).as("x_10"),
        sum($"term").as("terms"))
      .select(lit(10L).as("k"), lit(0.9).as("p"),
        $"x_10".cast("long").as("overlap_at_10"),
        round($"x_10" / lit(10.0), 6).as("overlap_frac_at_10"),
        round(lit(0.1) * $"terms".cast("double"), 6).as("rbo_at_10"))
  }

  val rboSql: String =
    s"""WITH a AS (
      |  SELECT doc_id, ra FROM (
      |    SELECT doc_id,
      |      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
      |    FROM (${graft.ops.Text.bm25Sql.replace("\n", "\n      |      ")}))
      |  WHERE ra <= 10),
      |b AS (
      |  SELECT doc_id, rn AS rb FROM (
      |    ${qlmSql.replace("\n", "\n      |    ")})),
      |bth AS (
      |  SELECT GREATEST(a.ra, CAST(b.rb AS INT)) AS mx
      |  FROM a JOIN b USING (doc_id)),
      |xd AS (
      |  SELECT d.range AS d, COUNT(bth.mx) AS x_d
      |  FROM range(1, 11) d LEFT JOIN bth ON bth.mx <= d.range
      |  GROUP BY 1),
      |tm AS (
      |  SELECT d, x_d,
      |    CAST(ROUND(POW(0.9, d - 1) * x_d / d, 12) AS DECIMAL(38,12))
      |      AS term
      |  FROM xd)
      |SELECT CAST(10 AS BIGINT) AS k, 0.9::DOUBLE AS p,
      |  CAST(MAX(CASE WHEN d = 10 THEN x_d END) AS BIGINT)
      |    AS overlap_at_10,
      |  ROUND(MAX(CASE WHEN d = 10 THEN x_d END) / 10.0, 6)
      |    AS overlap_frac_at_10,
      |  ROUND(0.1 * CAST(SUM(term) AS DOUBLE), 6) AS rbo_at_10
      |FROM tm""".stripMargin

  /** q_eval_rank_agreement entry: RANKER AGREEMENT between the BM25 and
    * Dirichlet-QLM top-20 lists for the shared 3-term query — overlap
    * (how much of each list the other covers), Kendall's τ and
    * Spearman's ρ on the INTERSECTION's rank pairs. The A/B readout
    * run before swapping rankers: high overlap + high τ means the swap
    * is a no-op; high overlap + low τ means the same documents in a
    * very different ORDER — exactly the case where an online
    * interleaving experiment is needed. Rank-fusion's sibling
    * diagnostic ([[rankFusionQ]] merges the lists; this measures
    * whether merging matters).
    *
    * Scale shape: both rankers are the library's existing
    * postings-bounded pipelines; the agreement math runs on ≤20-row
    * frames (the concordance pass is a ≤190-pair self-join of a
    * broadcast 20-row frame). Determinism: ranks are exact integers
    * (score ties broken by doc_id inside each ranker); τ and ρ are
    * integer-ratio one-step divisions. */
  def rankAgreementQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    // BM25 ranks from the EXACT decimal score: the 9-dp-rounded
    // [[Text.bm25Weights]] summed as DECIMAL(28,9), not the 6-dp display
    // value, so both engines order identically
    val docs = Text.withToks(s, dir).select($"doc_id", $"toks")
    val bm = Text.bm25Weights(docs, Text.queryTf(docs, QTerms))
      .groupBy($"doc_id")
      .agg(sum(round($"w", 9).cast("decimal(28,9)")).as("sc"))
    // compare at the shared depth k = 10 (QLM's contract depth);
    // distributed top-10, never a full-frame rank-then-filter
    val bmTop = Rank.topK(bm, Seq($"sc".desc, $"doc_id"), 10, "rb")
      .select($"doc_id", $"rb")
    val ql = qlmQ(s, dir).select($"doc_id", $"rn".as("rq"))
    val common = bmTop.join(ql, "doc_id")
    val pairs = common.as("a").join(broadcast(common.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(
        ((col("a.rb") < col("b.rb")) === (col("a.rq") < col("b.rq")))
          .cast("long").as("conc"),
        (col("a.rb") - col("b.rb")).as("db"),
        (col("a.rq") - col("b.rq")).as("dq"))
    val cstats = common.agg(count(lit(1)).as("n_common"),
      sum(($"rb" - $"rq") * ($"rb" - $"rq")).as("d2"))
    val pagg = pairs.agg(count(lit(1)).as("n_pairs"),
      sum($"conc").as("n_conc"))
    cstats.crossJoin(broadcast(pagg))
      .select($"n_common".cast("long").as("n_common"),
        expr("(10000 * n_common) div 10").as("overlap_bp"),
        round((lit(2.0) * $"n_conc" - $"n_pairs") /
          $"n_pairs".cast("double"), 6).as("kendall_tau"),
        round(lit(1.0) - lit(6.0) * $"d2" /
          ($"n_common".cast("double") *
            ($"n_common" * $"n_common" - 1)), 6).as("spearman_rho"))
  }

  val rankAgreementSql: String = {
    val terms = QTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, ${Text.toksSql} AS toks FROM documents),
       |dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
       |te AS MATERIALIZED (SELECT doc_id, unnest(toks) AS term FROM tk),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
       |  FROM dl),
       |coll AS (SELECT CAST(COUNT(*) AS BIGINT) AS c_total FROM te),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM te
       |  WHERE term IN ($terms) GROUP BY 1, 2),
       |docf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       |bm_sc AS (
       |  SELECT tf.doc_id,
       |    SUM(CAST(ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)
       |      AS DECIMAL(28,9))) AS sc
       |  FROM tf JOIN docf USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st
       |  GROUP BY tf.doc_id),
       |bm AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rb
       |  FROM bm_sc),
       |ql_hits AS (
       |  SELECT tf.doc_id,
       |    SUM(CAST(ROUND(LN(1.0 + CAST(tf AS DOUBLE) * c_total / ($Mu * cf)), 9)
       |      AS DECIMAL(28,9))) AS hit_score,
       |    COUNT(*) AS n_terms_hit
       |  FROM tf JOIN cf USING (term), coll
       |  GROUP BY tf.doc_id),
       |ql_sc AS (
       |  SELECT dl2.doc_id,
       |    COALESCE(h.hit_score, CAST(0 AS DECIMAL(28,9)))
       |      - ${QTerms.size} * CAST(ROUND(LN(dl2.dl + $Mu), 9)
       |        AS DECIMAL(28,9)) AS sc
       |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk) dl2
       |  LEFT JOIN ql_hits h ON h.doc_id = dl2.doc_id),
       |ql AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rq
       |  FROM ql_sc),
       |common AS (
       |  SELECT bm.doc_id, rb, rq FROM bm JOIN ql USING (doc_id)
       |  WHERE rb <= 10 AND rq <= 10),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
       |    SUM((rb - rq) * (rb - rq)) AS d2
       |  FROM common),
       |pairs AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    SUM(CASE WHEN (a.rb < b.rb) = (a.rq < b.rq) THEN 1 ELSE 0 END)
       |      AS n_conc
       |  FROM common a JOIN common b ON a.doc_id < b.doc_id)
       |SELECT n_common,
       |  CAST((10000 * n_common) // 10 AS BIGINT) AS overlap_bp,
       |  ROUND((2.0 * n_conc - n_pairs) / CAST(n_pairs AS DOUBLE), 6)
       |    AS kendall_tau,
       |  ROUND(1.0 - 6.0 * d2 / (CAST(n_common AS DOUBLE)
       |    * (n_common * n_common - 1)), 6) AS spearman_rho
       |FROM stats CROSS JOIN pairs""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eval_rank_agreement" -> rankAgreementQ,
    "q_eval_rbo" -> rboQ,
    "q_eval_mrr" -> mrrQ,
    "q_search_mmr" -> mmrQ,
    "q_search_qlm" -> qlmQ,
    "q_search_rocchio" -> rocchioQ)

  def oracle: Map[String, String] = Map(
    "q_eval_rank_agreement" -> rankAgreementSql,
    "q_eval_rbo" -> rboSql,
    "q_eval_mrr" -> mrrSql,
    "q_search_mmr" -> mmrSql,
    "q_search_qlm" -> qlmSql,
    "q_search_rocchio" -> rocchioSql)
}
