package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Classical statistical audits over corpus metadata — the hypothesis
  * tests a data-quality dashboard runs per batch: is language mix
  * independent of source (χ²), do transaction amounts follow Benford's
  * first-digit law (fabricated/synthetic-data alarm), and is a series
  * self-correlated at daily lag (ACF)?
  *
  * Scale shapes: every test collapses the corpus to a tiny frame FIRST
  * (contingency cells ≤ |langs|·|sources|, digit table ≤ 9 rows,
  * hourly grid = time-range-sized) with one combinable groupBy; the
  * test statistic is then arithmetic over that reduced frame with
  * broadcast 1-row totals. Nothing downstream of the first aggregate
  * ever sees corpus-sized data.
  *
  * Determinism: all counts are exact integers; per-cell float terms are
  * shared-order IEEE expressions rounded to 9 dp and summed as
  * DECIMAL(28,9) (order-independent), final statistics rounded to 6 dp.
  */
object Stats {

  // --- chi-square test of independence --------------------------------------

  /** q_stat_chi2 entry: χ² independence test of lang × source over
    * documents — one row: table shape, dof, χ² statistic. */
  def chi2Q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = t(s, dir, "documents")
      .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy($"lang").agg(sum($"o").as("r"))
    val cols = cells.groupBy($"source").agg(sum($"o").as("c"))
    val tot = cells.agg(sum($"o").as("n"),
      countDistinct($"lang").as("nr"), countDistinct($"source").as("nc"))
    cells
      .join(broadcast(rows), "lang")
      .join(broadcast(cols), "source")
      .crossJoin(broadcast(tot))
      .withColumn("e",
        $"r".cast("double") * $"c".cast("double") / $"n".cast("double"))
      .withColumn("term",
        round(($"o".cast("double") - $"e") * ($"o".cast("double") - $"e")
          / $"e", 9).cast("decimal(28,9)"))
      .groupBy($"n", $"nr", $"nc")
      .agg(round(sum($"term").cast("double"), 6).as("chi2"))
      .select($"n".cast("long").as("n"),
        $"nr".cast("long").as("n_langs"), $"nc".cast("long").as("n_sources"),
        (($"nr" - 1) * ($"nc" - 1)).cast("long").as("dof"), $"chi2")
  }

  val chi2Sql: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, SUM(o) AS r FROM cells GROUP BY 1),
      |c AS (SELECT source, SUM(o) AS c FROM cells GROUP BY 1),
      |t AS (SELECT SUM(o) AS n, COUNT(DISTINCT lang) AS nr,
      |  COUNT(DISTINCT source) AS nc FROM cells),
      |terms AS (
      |  SELECT n, nr, nc,
      |    CAST(ROUND((CAST(o AS DOUBLE) - CAST(r.r AS DOUBLE)
      |        * CAST(c.c AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(o AS DOUBLE) - CAST(r.r AS DOUBLE)
      |        * CAST(c.c AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)
      |        / CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9)) AS term
      |  FROM cells JOIN r USING (lang) JOIN c USING (source), t)
      |SELECT CAST(n AS BIGINT) AS n, CAST(nr AS BIGINT) AS n_langs,
      |  CAST(nc AS BIGINT) AS n_sources,
      |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
      |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2
      |FROM terms GROUP BY n, nr, nc""".stripMargin

  /** q_stat_mi entry: mutual information between lang and source over
    * documents, with its normalized form — the EFFECT-SIZE companion
    * to [[chi2Q]] (χ² says "dependence is statistically detectable";
    * MI in nats says HOW MUCH knowing the source tells you about the
    * language, and NMI = MI/min(H(lang), H(source)) rescales that to
    * [0,1] for cross-dataset comparison). The source-mix diagnostic a
    * curation pass reads before stratifying by one of the two.
    *
    * Same contingency collapse as chi2: cells → broadcast marginals →
    * per-cell p·ln(p/(pq)) terms rounded 9 dp, summed as
    * DECIMAL(28,9); entropies from the tiny marginal frames the same
    * way. Single corpus pass. */
  def miQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = t(s, dir, "documents")
      .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy($"lang").agg(sum($"o").as("r"))
    val cols = cells.groupBy($"source").agg(sum($"o").as("c"))
    val tot = cells.agg(sum($"o").as("n"))
    def entropy(m: DataFrame, cnt: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .select(round(lit(-1d) * (col(cnt).cast("double") / col("n")) *
          log(col(cnt).cast("double") / col("n")), 9)
          .cast("decimal(28,9)").as("t"))
        .agg(sum(col("t")).cast("double").as(s"h_$cnt"))
    val mi = cells
      .join(broadcast(rows), "lang")
      .join(broadcast(cols), "source")
      .crossJoin(broadcast(tot))
      .select(round(($"o".cast("double") / $"n") *
        log(($"o".cast("double") * $"n".cast("double")) /
          ($"r".cast("double") * $"c".cast("double"))), 9)
        .cast("decimal(28,9)").as("t"), $"n")
      .groupBy($"n").agg(sum($"t").cast("double").as("mi"))
    mi.crossJoin(broadcast(entropy(rows, "r")))
      .crossJoin(broadcast(entropy(cols, "c")))
      .select($"n".cast("long").as("n"),
        round($"mi", 6).as("mi_nats"),
        round($"h_r", 6).as("h_lang"),
        round($"h_c", 6).as("h_source"),
        round($"mi" / least($"h_r", $"h_c"), 6).as("nmi"))
  }

  val miSql: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, SUM(o) AS r FROM cells GROUP BY 1),
      |c AS (SELECT source, SUM(o) AS c FROM cells GROUP BY 1),
      |t AS (SELECT SUM(o) AS n FROM cells),
      |mi AS (
      |  SELECT n, CAST(SUM(CAST(ROUND((CAST(o AS DOUBLE) / n)
      |    * ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
      |      / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE))), 9)
      |    AS DECIMAL(28,9))) AS DOUBLE) AS mi
      |  FROM cells JOIN r USING (lang) JOIN c USING (source), t GROUP BY n),
      |hr AS (SELECT CAST(SUM(CAST(ROUND(-(CAST(r AS DOUBLE) / n)
      |  * ln(CAST(r AS DOUBLE) / n), 9) AS DECIMAL(28,9))) AS DOUBLE) AS h_r
      |  FROM r, t),
      |hc AS (SELECT CAST(SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / n)
      |  * ln(CAST(c AS DOUBLE) / n), 9) AS DECIMAL(28,9))) AS DOUBLE) AS h_c
      |  FROM c, t)
      |SELECT CAST(n AS BIGINT) AS n, ROUND(mi, 6) AS mi_nats,
      |  ROUND(h_r, 6) AS h_lang, ROUND(h_c, 6) AS h_source,
      |  ROUND(mi / LEAST(h_r, h_c), 6) AS nmi
      |FROM mi, hr, hc""".stripMargin

  /** q_stat_ab_lift entry: two-proportion z-test on conversion — users
    * split into deterministic A/B cohorts (user_id parity: the
    * assignment a real experiment platform would hash), conversion =
    * "at least the median per-user purchase count" — the threshold is
    * DERIVED from the data (lower median via a bounded count histogram),
    * not hard-coded, so a regenerated fixture with a different value
    * distribution cannot silently saturate the rate to 0 or 1 (a
    * has-any-purchase definition saturates to p = 1 here, which zeroes
    * the pooled variance). The z statistic is additionally null-guarded
    * on 0 < p < 1 in both engines, so a degenerate pooled rate yields
    * NULL rather than an engine-dependent inf/error serialization.
    * Report per-cohort rates, the absolute lift, and the pooled-SE z
    * statistic — the experiment readout every event pipeline ends at.
    *
    * Scale shape: conversion collapses per USER first (one combinable
    * groupBy over user_id — a conditional count, never a distinct over
    * raw events); the median comes from a histogram over the tiny
    * purchase-count domain (a bounded window, never a global sort over
    * users), then a 2-group conditional aggregate; all counts exact
    * integers, one IEEE formula at the end. */
  def abLiftQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val perUser = t(s, dir, "events")
      .groupBy($"user_id")
      .agg(sum(($"event_type" === "purchase").cast("long")).as("pc"))
    // lower median of pc: smallest count whose cumulative user tally
    // reaches half — the histogram has ≤ max(pc) rows, so the
    // unpartitioned window is bounded by the count DOMAIN, not by users
    val hist = perUser.groupBy($"pc").agg(count(lit(1)).as("c"))
    val thr = hist
      .withColumn("cum", sum($"c").over(
        Window.orderBy($"pc").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nu", sum($"c").over(
        Window.orderBy($"pc").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter($"cum" * 2 >= $"nu")
      .agg(min($"pc").as("thr"))
    val users = perUser.crossJoin(broadcast(thr))
      .select($"user_id", ($"pc" >= $"thr").cast("long").as("converted"))
      .withColumn("cohort", ($"user_id" % 2 === 0).cast("int"))
    users.agg(
      sum(when($"cohort" === 1, 1L).otherwise(0L)).as("n_a"),
      sum(when($"cohort" === 1, $"converted").otherwise(0L)).as("conv_a"),
      sum(when($"cohort" === 0, 1L).otherwise(0L)).as("n_b"),
      sum(when($"cohort" === 0, $"converted").otherwise(0L)).as("conv_b"))
      .select($"n_a", $"conv_a", $"n_b", $"conv_b",
        ($"conv_a".cast("double") / $"n_a").as("ra"),
        ($"conv_b".cast("double") / $"n_b").as("rb"),
        (($"conv_a" + $"conv_b").cast("double") / ($"n_a" + $"n_b")).as("p"))
      .select($"n_a", $"conv_a", round($"ra", 6).as("rate_a"),
        $"n_b", $"conv_b", round($"rb", 6).as("rate_b"),
        round($"rb" - $"ra", 6).as("lift"),
        when($"p" > 0d && $"p" < 1d,
          round(($"rb" - $"ra") /
            sqrt($"p" * (lit(1d) - $"p") *
              (lit(1d) / $"n_a" + lit(1d) / $"n_b")), 6)).as("z"))
  }

  val abLiftSql: String =
    """WITH u0 AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pc
      |  FROM events GROUP BY user_id),
      |hist AS (SELECT pc, COUNT(*) AS c FROM u0 GROUP BY pc),
      |cum AS (
      |  SELECT pc,
      |    SUM(c) OVER (ORDER BY pc ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS cum,
      |    SUM(c) OVER () AS nu
      |  FROM hist),
      |thr AS (SELECT MIN(pc) AS thr FROM cum WHERE cum * 2 >= nu),
      |u AS (
      |  SELECT user_id,
      |    CASE WHEN pc >= (SELECT thr FROM thr) THEN 1 ELSE 0 END AS converted,
      |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS cohort
      |  FROM u0),
      |a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN cohort = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN cohort = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u),
      |m AS (
      |  SELECT n_a, conv_a, n_b, conv_b,
      |    CAST(conv_a AS DOUBLE) / n_a AS ra,
      |    CAST(conv_b AS DOUBLE) / n_b AS rb,
      |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p
      |  FROM a)
      |SELECT n_a, conv_a, ROUND(ra, 6) AS rate_a,
      |  n_b, conv_b, ROUND(rb, 6) AS rate_b,
      |  ROUND(rb - ra, 6) AS lift,
      |  CASE WHEN p > 0 AND p < 1 THEN
      |    ROUND((rb - ra) / sqrt(p * (1 - p) * (1.0 / n_a + 1.0 / n_b)), 6)
      |  END AS z
      |FROM m""".stripMargin

  // --- Benford first-digit audit --------------------------------------------

  /** q_profile_benford entry: first-significant-digit distribution of
    * order totals vs Benford's log₁₀(1 + 1/d) expectation — the
    * classic fabricated-numbers alarm; per digit: count, observed
    * share, expected share, deviation. */
  def benfordQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val digits = t(s, dir, "orders")
      .select($"o_totalprice".as("v"))
      .filter($"v" >= 1)
      .withColumn("d",
        floor($"v" / pow(lit(10d), floor(log10($"v")))).cast("int"))
      .groupBy($"d").agg(count(lit(1)).as("n_orders"))
    val tot = digits.agg(sum($"n_orders").as("n"))
    digits.crossJoin(broadcast(tot))
      .withColumn("share", round($"n_orders".cast("double") / $"n", 6))
      .withColumn("benford",
        round(log10(lit(1d) + lit(1d) / $"d".cast("double")), 6))
      .select($"d", $"n_orders".cast("long").as("n_orders"),
        $"share", $"benford",
        round($"share" - $"benford", 6).as("deviation"))
      .orderBy($"d")
  }

  val benfordSql: String =
    """WITH digits AS (
      |  SELECT CAST(FLOOR(o_totalprice
      |      / POWER(10, FLOOR(LOG10(o_totalprice)))) AS INT) AS d,
      |    COUNT(*) AS n_orders
      |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
      |t AS (SELECT SUM(n_orders) AS n FROM digits)
      |SELECT d, CAST(n_orders AS BIGINT) AS n_orders,
      |  ROUND(CAST(n_orders AS DOUBLE) / n, 6) AS share,
      |  ROUND(LOG10(1 + 1 / CAST(d AS DOUBLE)), 6) AS benford,
      |  ROUND(ROUND(CAST(n_orders AS DOUBLE) / n, 6)
      |    - ROUND(LOG10(1 + 1 / CAST(d AS DOUBLE)), 6), 6) AS deviation
      |FROM digits, t ORDER BY d""".stripMargin

  // --- autocorrelation at lag k ---------------------------------------------

  /** q_ts_acf entry: autocorrelation of each event type's hourly count
    * series at lag 1 and lag 24 — the numeric detector for the daily
    * cycle [[TimeSeries.seasonalQ]] visualizes. ACF over the DENSIFIED
    * grid (missing hours are true zeros), computed from exact integer
    * sums (Σx, Σx², Σxy, n per lag) via the regression-sums shape of
    * [[TimeSeries.trendQ]] — the only doubles are the final quotient's
    * operands, identical in both engines. */
  /** q_ts_period entry: PERIOD DETECTION by full-correlogram argmax —
    * the ACF of [[acfQ]] computed at EVERY lag 2..36 over each event
    * type's dense hourly grid, with the dominant period = the lag of
    * maximal autocorrelation (tie → smallest lag) and the lag-24
    * reference value alongside (the daily rhythm the fixture should
    * rediscover). This is how a pipeline DISCOVERS the seasonality that
    * [[graft.ops.TimeSeries.holtWintersQ]] and the seasonal decompose
    * assume as given.
    *
    * Scale shape: one dense calendar grid per series (bounded dim),
    * lag pairs via ONE integer-index self-join against the 35-row lag
    * dimension (no 35 window passes), per-(series, lag) exact integer
    * power sums, then the argmax runs on a ≤ series×35 frame.
    * Determinism: moments are exact integers; one sqrt + one division
    * per cell rounded to 6 dp; argmax tie-breaks on the smaller lag
    * over identical rounded values. */
  def periodQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dense = TimeSeries.denseCounts(t(s, dir, "events"), "hour")
      .withColumn("idx", row_number().over(
        Window.partitionBy($"event_type").orderBy($"hour")).cast("long"))
    val lags = (2 to 36).map(_.toLong).toDF("k")
    val acf = dense.as("a").crossJoin(broadcast(lags))
      .join(dense.as("b"),
        $"b.event_type" === $"a.event_type" && $"b.idx" === $"a.idx" + $"k")
      .groupBy($"a.event_type".as("event_type"), $"k")
      .agg(count(lit(1)).as("n"), sum($"a.x").as("sx"), sum($"b.x").as("sy"),
        sum($"a.x" * $"a.x").as("sxx"), sum($"b.x" * $"b.x").as("syy"),
        sum($"a.x" * $"b.x").as("sxy"))
      .select($"event_type", $"k",
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6).as("acf"))
    acf
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"acf".desc, $"k")))
      .withColumn("acf24", max(when($"k" === 24, $"acf")).over(
        Window.partitionBy($"event_type")))
      .filter($"rn" === 1)
      .select($"event_type", $"k".as("best_lag"), $"acf".as("best_acf"),
        $"acf24".as("acf_at_24"))
      .orderBy($"event_type")
  }

  val periodSql: String =
    """WITH grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT s.event_type, g.hour, COALESCE(h.cnt, 0) AS x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY g.hour)
      |      AS BIGINT) AS idx
      |  FROM grid g CROSS JOIN series s
      |  LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = s.event_type),
      |lags AS (SELECT unnest(range(2, 37)) AS k),
      |acf AS (
      |  SELECT event_type, k,
      |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
      |  FROM (
      |    SELECT a.event_type, l.k, COUNT(*) AS n,
      |      SUM(a.x) AS sx, SUM(b.x) AS sy,
      |      SUM(a.x * a.x) AS sxx, SUM(b.x * b.x) AS syy,
      |      SUM(a.x * b.x) AS sxy
      |    FROM dense a CROSS JOIN lags l
      |    JOIN dense b ON b.event_type = a.event_type AND b.idx = a.idx + l.k
      |    GROUP BY 1, 2)),
      |best AS (
      |  SELECT event_type, k, acf,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY acf DESC, k) AS rn,
      |    MAX(CASE WHEN k = 24 THEN acf END)
      |      OVER (PARTITION BY event_type) AS acf24
      |  FROM acf)
      |SELECT event_type, k AS best_lag, acf AS best_acf, acf24 AS acf_at_24
      |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin

  def acfQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dense = TimeSeries.denseCounts(t(s, dir, "events"), "hour")
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    def acfAt(lagK: Int): DataFrame = dense
      .withColumn("y", lag($"x", lagK).over(w))
      .filter($"y".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .select($"event_type", lit(lagK).as("lag"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6).as("acf"))
    acfAt(1).unionByName(acfAt(24))
      .orderBy($"event_type", $"lag")
  }

  val acfSql: String = {
    def at(k: Int): String =
      s"""SELECT event_type, $k AS lag,
         |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |    / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
         |      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
         |FROM (
         |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
         |  FROM (
         |    SELECT event_type, x,
         |      lag(x, $k) OVER (PARTITION BY event_type ORDER BY hour) AS y
         |    FROM dense) WHERE y IS NOT NULL GROUP BY event_type)""".stripMargin
    s"""WITH grid AS (
       |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
       |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
       |hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |series AS (SELECT DISTINCT event_type FROM events),
       |dense AS (
       |  SELECT s.event_type, g.hour, COALESCE(h.cnt, 0) AS x
       |  FROM grid g CROSS JOIN series s
       |  LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = s.event_type)
       |${at(1)}
       |UNION ALL
       |${at(24)}
       |ORDER BY event_type, lag""".stripMargin
  }

  /** q_stat_mannwhitney entry: Mann–Whitney U rank-sum test between the
    * `value` distributions of click vs view events — the NONPARAMETRIC
    * two-sample location test (t-tests assume normality; engagement
    * values are long-tailed, so rank statistics are the operational
    * choice for "did this cohort's metric shift?").
    *
    * Tied values get the average rank, computed WITHOUT materializing
    * per-row ranks: collapse to per-distinct-value pair counts first
    * (combinable groupBy, value-bounded), then avg rank of a value =
    * (cumulative count before it) + (its count + 1)/2 — one
    * distributed [[Rank.orderedPrefix]] pass over the reduced table.
    * Rank sums are exact in 0.5 units,
    * so they travel as DECIMAL(28,1) (order-independent merges); only
    * the final z-score divides doubles. The normal approximation is
    * reported WITHOUT the tie-correction term (documented; both engines
    * run the identical formula, and ties in a continuous double column
    * are measure-zero). */
  def mannWhitneyQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "events")
      .filter($"event_type".isin("click", "view"))
      .groupBy($"value".as("v"))
      .agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("c1"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("c2"))
    val ranked = Rank.orderedPrefix(d, order = Seq($"v"),
        cums = Seq(Rank.Cum($"c1" + $"c2", "before", exclusive = true)))
      .withColumn("avg_rank",
        ($"before".cast("decimal(18,1)") +
          ($"c1" + $"c2" + 1).cast("decimal(18,1)") / 2).cast("decimal(18,1)"))
    ranked
      .agg(
        sum($"c1").as("n1"), sum($"c2").as("n2"),
        sum(($"c1".cast("decimal(18,1)") * $"avg_rank").cast("decimal(28,1)"))
          .as("r1"))
      .select($"n1", $"n2",
        ($"r1".cast("double") - $"n1".cast("double") * ($"n1" + 1) / 2)
          .as("u1"), $"r1")
      .select($"n1".cast("long").as("n1"), $"n2".cast("long").as("n2"),
        round($"u1", 1).as("u1"),
        round($"n1" * $"n2" - $"u1", 1).as("u2"),
        round(($"u1" - $"n1".cast("double") * $"n2" / 2) /
          sqrt($"n1".cast("double") * $"n2" * ($"n1" + $"n2" + 1) / 12), 6)
          .as("z"))
  }

  val mannWhitneySql: String =
    """WITH d AS (
      |  SELECT value AS v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
      |r AS (
      |  SELECT c1, c2,
      |    CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS DECIMAL(18,1))
      |    + CAST(c1 + c2 + 1 AS DECIMAL(18,1)) / 2 AS avg_rank
      |  FROM d),
      |a AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |    SUM(CAST(CAST(c1 AS DECIMAL(18,1)) * avg_rank AS DECIMAL(28,1)))
      |      AS r1
      |  FROM r),
      |u AS (
      |  SELECT n1, n2,
      |    CAST(r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1
      |  FROM a)
      |SELECT n1, n2, ROUND(u1, 1) AS u1,
      |  ROUND(n1 * n2 - u1, 1) AS u2,
      |  ROUND((u1 - CAST(n1 AS DOUBLE) * n2 / 2)
      |    / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12), 6) AS z
      |FROM u""".stripMargin

  /** Number of bootstrap replicates; shared by query and oracle. */
  private val BootB = 32

  /** q_stat_bootstrap entry: a ONE-PASS deterministic half-sample
    * bootstrap CI for the mean order value — the error-bar machinery
    * for any corpus statistic when the analytic variance is untrusted
    * (skewed money / power-law token counts). Each of the B=32
    * replicates is the mean over a pseudo-random HALF of the rows
    * (double-or-nothing weights w ∈ {0,2}: E[w]=1, Var[w]=1 — the
    * generalized-bootstrap moment conditions), and the CI is read from
    * the order statistics of the replicate means (2nd smallest / 2nd
    * largest of 32 ≈ a 94% interval; the convention is pinned, not
    * estimated).
    *
    * Membership is ARITHMETIC, not random-state: row i joins replicate
    * b iff bit 16 of (i·B+b)·2654435761 mod 2³² is set — the same
    * Knuth multiplicative mixing as the JL matrix, exact in 64-bit
    * integer ops on both engines, so the "resamples" are identical
    * everywhere with zero shuffled state. Scale shape: all B replicate
    * (sum, count) pairs accumulate in ONE combinable aggregate over
    * ONE scan — adding replicates adds conditional sums, not passes;
    * money sums are exact DECIMAL(18,2), so each replicate mean is one
    * IEEE division. The order-statistics step runs on the 1-row, 2B-
    * column frame via array_sort. */
  def bootstrapQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = BootB
    def member(b: Int): Column = expr(
      s"((((o_orderkey * $B + $b) * 2654435761L) % 4294967296L) div 65536) % 2 = 1")
    val x = $"o_totalprice".cast("decimal(18,2)")
    val aggs =
      Seq(count(lit(1)).as("n"), sum(x).as("sx")) ++
      (0 until B).map(b => sum(when(member(b), x)).as(s"s_$b")) ++
      (0 until B).map(b => sum(when(member(b), 1L).otherwise(0L)).as(s"c_$b"))
    val one = t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
    val means = array((0 until B).map(b =>
      col(s"s_$b").cast("double") / col(s"c_$b")): _*)
    one
      .select($"n", ($"sx".cast("double") / $"n").as("mean_value"),
        array_sort(means).as("ms"))
      .select($"n".cast("long").as("n"),
        round($"mean_value", 6).as("mean_value"),
        lit(B.toLong).as("n_replicates"),
        round(element_at($"ms", 2), 6).as("boot_lo"),
        round(element_at($"ms", B - 1), 6).as("boot_hi"))
  }

  val bootstrapSql: String = {
    val B = BootB
    def member(b: Int): String =
      s"((((o_orderkey * $B + $b) * 2654435761) % 4294967296) // 65536) % 2 = 1"
    val sums = (0 until B).map(b =>
      s"SUM(CASE WHEN ${member(b)} THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s_$b")
    val cnts = (0 until B).map(b =>
      s"SUM(CASE WHEN ${member(b)} THEN 1 ELSE 0 END) AS c_$b")
    val meanList = (0 until B).map(b => s"CAST(s_$b AS DOUBLE) / c_$b")
      .mkString("list_sort([", ", ", "])")
    s"""WITH a AS (
       |  SELECT COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
       |    ${(sums ++ cnts).mkString(",\n    ")}
       |  FROM orders),
       |m AS (SELECT n, CAST(sx AS DOUBLE) / n AS mean_value,
       |  $meanList AS ms FROM a)
       |SELECT CAST(n AS BIGINT) AS n, ROUND(mean_value, 6) AS mean_value,
       |  CAST($B AS BIGINT) AS n_replicates,
       |  ROUND(ms[2], 6) AS boot_lo, ROUND(ms[${B - 1}], 6) AS boot_hi
       |FROM m""".stripMargin
  }

  /** q_stat_spearman entry: Spearman rank correlation between
    * `l_quantity` and `l_discount` per return flag — the monotone-
    * association test (Pearson on RANKS), the robust choice when a
    * pipeline asks "does metric A track metric B?" on long-tailed
    * columns. Both columns are heavily tied, so this is the
    * tie-correct form: Pearson over AVERAGE ranks, not the 6Σd²
    * shortcut (which is only valid tie-free).
    *
    * Exactness: average ranks are half-integers, so CENTERED DOUBLED
    * ranks c = 2·rank − (n+1) = 2·(count below) + (count equal) − n
    * are pure integers with Σc = 0 by construction; Σc_x c_y, Σc_x²,
    * Σc_y² are exact BIGINTs (|c| < n keeps them under n³ « 2⁶³), and
    * rho = S_xy / √S_xx / √S_yy is three correctly-rounded IEEE ops on
    * identical integers — deterministic cross-engine, emitted at 6 dp
    * alongside the exact ingredient sums.
    *
    * Scale: rank tables collapse to per-distinct-value counts first
    * (combinable; value-bounded for both columns), cumulate in a tiny
    * per-group window, and BROADCAST back onto the fact rows — the
    * 600k-row side never sorts globally. One combinable aggregate
    * finishes. */
  def spearmanQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val rows = t(s, dir, "lineitem")
      .select($"l_returnflag".as("g"), $"l_quantity".as("x"),
        $"l_discount".as("y"))
    // centered doubled average-ranks per distinct value of `c`
    def centered(src: DataFrame, v: String, out: String): DataFrame = {
      val byV = Window.partitionBy(col("g")).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)
      val all = Window.partitionBy(col("g"))
      src.groupBy(col("g"), col(v)).agg(count(lit(1)).as("cnt"))
        .withColumn("before", coalesce(sum($"cnt").over(byV), lit(0L)))
        .withColumn("n", sum($"cnt").over(all))
        .select(col("g"), col(v),
          ($"before" * 2 + $"cnt" - $"n").as(out))
    }
    rows
      .join(broadcast(centered(rows, "x", "cx")), Seq("g", "x"))
      .join(broadcast(centered(rows, "y", "cy")), Seq("g", "y"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"),
        sum($"cx" * $"cy").as("s_xy"),
        sum($"cx" * $"cx").as("s_xx"),
        sum($"cy" * $"cy").as("s_yy"))
      .select($"g", $"n", $"s_xy", $"s_xx", $"s_yy",
        // a constant column (zero rank variance) has no defined rho —
        // emit NULL, not a division-by-zero infinity (the
        // testdata-regeneration hardening stance, ADVICE r8)
        when($"s_xx" > 0L && $"s_yy" > 0L,
          round($"s_xy".cast("double") / sqrt($"s_xx".cast("double"))
            / sqrt($"s_yy".cast("double")), 6)).as("rho"))
      .orderBy($"g")
  }

  val spearmanSql: String = {
    def centered(v: String, out: String): String =
      s"""SELECT g, $v,
         |    2 * CAST(COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY $v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT)
         |    + cnt - CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS $out
         |  FROM (SELECT g, $v, COUNT(*) AS cnt FROM rows GROUP BY g, $v)"""
        .stripMargin
    s"""WITH rows AS (
      |  SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y
      |  FROM lineitem),
      |rx AS (${centered("x", "cx")}),
      |ry AS (${centered("y", "cy")}),
      |j AS (
      |  SELECT r.g, rx.cx, ry.cy
      |  FROM rows r
      |  JOIN rx ON r.g = rx.g AND r.x = rx.x
      |  JOIN ry ON r.g = ry.g AND r.y = ry.y)
      |SELECT g, COUNT(*) AS n,
      |  CAST(SUM(cx * cy) AS BIGINT) AS s_xy,
      |  CAST(SUM(cx * cx) AS BIGINT) AS s_xx,
      |  CAST(SUM(cy * cy) AS BIGINT) AS s_yy,
      |  CASE WHEN SUM(cx * cx) > 0 AND SUM(cy * cy) > 0 THEN
      |    ROUND(CAST(SUM(cx * cy) AS DOUBLE)
      |      / sqrt(CAST(SUM(cx * cx) AS DOUBLE))
      |      / sqrt(CAST(SUM(cy * cy) AS DOUBLE)), 6) END AS rho
      |FROM j GROUP BY g ORDER BY g""".stripMargin
  }

  /** q_stat_ttest entry: Welch's unequal-variance t-test between the
    * click and view cohorts' `value` distributions — the PARAMETRIC
    * twin of [[mannWhitneyQ]] on the same two cohorts, so the suite
    * demonstrates both halves of the standard two-sample toolkit on
    * identical data. Welch (not pooled Student) because cohort
    * variances are not assumed equal — the robust default.
    *
    * Exactness: per-cohort n, Σx, Σx² accumulate as DECIMAL(18,2)/
    * DECIMAL(38,4) — order-independent merges; `value` is a 2-dp
    * quantity ≤ ~10³, so the power sums stay far below 2⁵³ scaled
    * units and the decimal→double casts are exact on both engines.
    * t and the Welch–Satterthwaite df are then one fixed IEEE
    * expression tree over identical doubles, rounded 6 dp.
    *
    * Scale: ONE combinable aggregate over one scan — conditional sums
    * per cohort, the [[bootstrapQ]] shape; output is a single row. */
  def ttestQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = $"value".cast("decimal(18,2)")
    def member(tp: String): Column = $"event_type" === tp
    val one = t(s, dir, "events")
      .filter($"event_type".isin("click", "view"))
      .agg(
        sum(when(member("click"), 1L).otherwise(0L)).as("n1"),
        sum(when(member("click"), x)).as("sx1"),
        sum(when(member("click"), x * x)).as("sxx1"),
        sum(when(member("view"), 1L).otherwise(0L)).as("n2"),
        sum(when(member("view"), x)).as("sx2"),
        sum(when(member("view"), x * x)).as("sxx2"))
    one.select(
        $"n1", $"n2",
        ($"sx1".cast("double") / $"n1").as("m1"),
        ($"sx2".cast("double") / $"n2").as("m2"),
        (($"sxx1".cast("double") - $"sx1".cast("double")
          * $"sx1".cast("double") / $"n1") / ($"n1" - 1)).as("v1"),
        (($"sxx2".cast("double") - $"sx2".cast("double")
          * $"sx2".cast("double") / $"n2") / ($"n2" - 1)).as("v2"))
      .select($"n1", $"n2",
        round($"m1", 6).as("mean_click"),
        round($"m2", 6).as("mean_view"),
        // degenerate zero-variance cohorts → NULL, not an infinity
        // (testdata-regeneration hardening, ADVICE r8)
        when($"v1" + $"v2" > 0.0,
          round(($"m1" - $"m2") / sqrt($"v1" / $"n1" + $"v2" / $"n2"), 6))
          .as("t_welch"),
        when($"v1" + $"v2" > 0.0,
          round(pow($"v1" / $"n1" + $"v2" / $"n2", 2) /
            (pow($"v1" / $"n1", 2) / ($"n1" - 1)
              + pow($"v2" / $"n2", 2) / ($"n2" - 1)), 2)).as("df_welch"))
  }

  val ttestSql: String =
    """WITH a AS (
      |  SELECT
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
      |    SUM(CASE WHEN event_type = 'click'
      |        THEN CAST(value AS DECIMAL(18,2)) END) AS sx1,
      |    SUM(CASE WHEN event_type = 'click'
      |        THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
      |        END) AS sxx1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
      |    SUM(CASE WHEN event_type = 'view'
      |        THEN CAST(value AS DECIMAL(18,2)) END) AS sx2,
      |    SUM(CASE WHEN event_type = 'view'
      |        THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
      |        END) AS sxx2
      |  FROM events WHERE event_type IN ('click', 'view')),
      |m AS (
      |  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |    CAST(sx1 AS DOUBLE) / n1 AS m1, CAST(sx2 AS DOUBLE) / n2 AS m2,
      |    (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
      |      / n1) / (n1 - 1) AS v1,
      |    (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |      / n2) / (n2 - 1) AS v2
      |  FROM a)
      |SELECT n1, n2, ROUND(m1, 6) AS mean_click, ROUND(m2, 6) AS mean_view,
      |  CASE WHEN v1 + v2 > 0.0 THEN
      |    ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) END AS t_welch,
      |  CASE WHEN v1 + v2 > 0.0 THEN
      |    ROUND(pow(v1 / n1 + v2 / n2, 2) /
      |      (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 2)
      |  END AS df_welch
      |FROM m""".stripMargin

  /** q_stat_anova entry: one-way ANOVA F over the five event types'
    * `value` distributions — "does ANY cohort's mean differ?", the
    * k-group generalization of [[ttestQ]]. Group power sums accumulate
    * as exact decimals in ONE combinable aggregate (conditional sums
    * per type — the event-type domain is pinned, as throughout the
    * suite); SSB/SSW then combine the five groups' terms in FIXED
    * WRITTEN ORDER inside one expression, so no engine is free to
    * reassociate the double additions. */
  def anovaQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val x = $"value".cast("decimal(18,2)")
    val aggs = types.flatMap { tp =>
      val m = $"event_type" === tp
      Seq(sum(when(m, 1L).otherwise(0L)).as(s"n_$tp"),
        sum(when(m, x)).as(s"s_$tp"),
        sum(when(m, x * x)).as(s"q_$tp"))
    }
    val one = t(s, dir, "events").agg(aggs.head, aggs.tail: _*)
    val n = types.map(tp => col(s"n_$tp")).reduce(_ + _)
    val sAll = types.map(tp => col(s"s_$tp").cast("double")).reduce(_ + _)
    val ssb = types.map(tp =>
      col(s"s_$tp").cast("double") * col(s"s_$tp").cast("double")
        / col(s"n_$tp")).reduce(_ + _) - sAll * sAll / n
    val ssw = types.map(tp =>
      col(s"q_$tp").cast("double") - col(s"s_$tp").cast("double")
        * col(s"s_$tp").cast("double") / col(s"n_$tp")).reduce(_ + _)
    one.select(
        n.cast("long").as("n"), lit(types.size.toLong).as("k"),
        round(ssb, 6).as("ss_between"),
        round(ssw, 6).as("ss_within"),
        // all-groups-constant degenerate case → NULL, not infinity
        when(ssw > 0.0,
          round((ssb / (types.size - 1)) / (ssw / (n - types.size)), 6))
          .as("f_stat"))
  }

  val anovaSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggs = types.flatMap { tp =>
      Seq(s"SUM(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS n_$tp",
        s"SUM(CASE WHEN event_type = '$tp' THEN CAST(value AS DECIMAL(18,2)) END) AS s_$tp",
        s"""SUM(CASE WHEN event_type = '$tp'
           | THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
           | END) AS q_$tp""".stripMargin.replace("\n", ""))
    }
    val n = types.map(tp => s"n_$tp").mkString(" + ")
    val sAll = types.map(tp => s"CAST(s_$tp AS DOUBLE)").mkString(" + ")
    val ssb = types.map(tp =>
      s"CAST(s_$tp AS DOUBLE) * CAST(s_$tp AS DOUBLE) / n_$tp")
      .mkString(" + ") + s" - ($sAll) * ($sAll) / ($n)"
    val ssw = types.map(tp =>
      s"CAST(q_$tp AS DOUBLE) - CAST(s_$tp AS DOUBLE) * CAST(s_$tp AS DOUBLE) / n_$tp")
      .mkString(" + ")
    s"""WITH a AS (
       |  SELECT ${aggs.mkString(",\n    ")}
       |  FROM events)
       |SELECT CAST($n AS BIGINT) AS n, CAST(${types.size} AS BIGINT) AS k,
       |  ROUND($ssb, 6) AS ss_between,
       |  ROUND($ssw, 6) AS ss_within,
       |  CASE WHEN ($ssw) > 0.0 THEN
       |    ROUND((($ssb) / ${types.size - 1}) / (($ssw) / (($n) - ${types.size})), 6)
       |  END AS f_stat
       |FROM a""".stripMargin
  }

  /** q_stat_wilson entry: Wilson score 95% confidence interval for each
    * event type's "high-value rate" (share of events with `value` at or
    * above the GLOBAL exact median — a data-derived success criterion,
    * the [[abLiftQ]] hardening applied from birth). Wilson is the
    * interval that stays sane at extreme rates and small n, which is
    * why proportion dashboards use it over the naive normal interval.
    *
    * The rate itself is integer basis points; lo/hi are one fixed IEEE
    * expression tree over (k, n) integers (z = 1.96 literal), rounded
    * 6 dp — the [[mannWhitneyQ]] determinism contract.
    *
    * Scale: the median threshold is an order-statistic SELECTION over
    * the value-bounded distinct frame (1-row broadcast); the per-type
    * rollup is one combinable conditional-sum aggregate. */
  def wilsonQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    // exact global median of `value` by selection over distinct values
    // (distributed prefix counts via Rank — no SinglePartition window)
    val med = Rank.orderedPrefix(
      ev.groupBy($"value").agg(count(lit(1)).as("c")),
      order = Seq($"value"),
      cums = Seq(Rank.Cum($"c", "before", exclusive = true)),
      totals = Seq(($"c", "n")))
      .filter($"before" < expr("(50 * n + 99) div 100") &&
        $"before" + $"c" >= expr("(50 * n + 99) div 100"))
      .select($"value".as("thr"))
    val z = 1.96
    val agg = ev.crossJoin(broadcast(med))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"value" >= $"thr", 1L).otherwise(0L)).as("k"))
    val nD = $"n".cast("double"); val p = $"k".cast("double") / nD
    val denom = lit(1.0) + lit(z * z) / nD
    val center = (p + lit(z * z) / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z * z) / (lit(4.0) * nD * nD)) / denom
    agg.select($"event_type", $"n", $"k",
        expr("(10000 * k) div n").as("rate_bp"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy($"event_type")
  }

  val wilsonSql: String =
    """WITH f AS (SELECT value AS v, COUNT(*) AS c FROM events GROUP BY 1),
      |m AS (
      |  SELECT v AS thr FROM (
      |    SELECT v, c,
      |      COALESCE(SUM(c) OVER (ORDER BY v
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS before,
      |      SUM(c) OVER () AS n
      |    FROM f)
      |  WHERE before < (50 * n + 99) // 100
      |    AND before + c >= (50 * n + 99) // 100),
      |a AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CASE WHEN value >= thr THEN 1 ELSE 0 END) AS k
      |  FROM events, m GROUP BY event_type),
      |w AS (
      |  SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |    CAST(k AS DOUBLE) / n AS p, CAST(n AS DOUBLE) AS nd
      |  FROM a)
      |SELECT event_type, n, k, (10000 * k) // n AS rate_bp,
      |  ROUND((p + 1.96 * 1.96 / (2.0 * nd))
      |    / (1.0 + 1.96 * 1.96 / nd)
      |    - 1.96 * sqrt(p * (1.0 - p) / nd
      |        + 1.96 * 1.96 / (4.0 * nd * nd))
      |      / (1.0 + 1.96 * 1.96 / nd), 6) AS wilson_lo,
      |  ROUND((p + 1.96 * 1.96 / (2.0 * nd))
      |    / (1.0 + 1.96 * 1.96 / nd)
      |    + 1.96 * sqrt(p * (1.0 - p) / nd
      |        + 1.96 * 1.96 / (4.0 * nd * nd))
      |      / (1.0 + 1.96 * 1.96 / nd), 6) AS wilson_hi
      |FROM w ORDER BY event_type""".stripMargin

  /** q_sample_neyman entry: Neyman-optimal sample allocation — split a
    * fixed budget of B=1000 draws across the customer market segments
    * proportionally to n_h·s_h (stratum size × stddev of account
    * balance), the variance-minimizing allocation for stratified
    * estimation; integerized by LARGEST-REMAINDER apportionment so the
    * allocations sum to exactly B. The eval-set / survey-sampling
    * planner: where to spend a labeling budget.
    *
    * Determinism: stddevs come from exact decimal power sums; the
    * weight total and the floor-sum are CUMULATIVE window folds in
    * segment order (sequential left folds — order-defined on both
    * engines, unlike a free-order aggregate over doubles); remainder
    * ranking ties break by segment name. Output is pure integers plus
    * the 6-dp stddev.
    *
    * Scale: one combinable power-sum aggregate over the fact table;
    * everything after runs on the ≤|strata| frame. */
  def neymanQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val B = 1000
    val x = $"c_acctbal".cast("decimal(18,2)")
    val per = t(s, dir, "customer")
      .groupBy($"c_mktsegment".as("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("s1"),
        sum(x * x).cast("double").as("s2"))
      .withColumn("sd",
        sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)))
      .withColumn("w", $"n" * $"sd")
    val ordered = Window.orderBy($"stratum")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy($"stratum")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sized = per
      // sequential fold in segment order — order-defined on both engines
      .withColumn("wtot", max(sum($"w").over(ordered)).over(full))
      .withColumn("exact", lit(B) * $"w" / $"wtot")
      .withColumn("base", floor($"exact").cast("long"))
      .withColumn("frac", $"exact" - floor($"exact"))
      .withColumn("base_tot", max(sum($"base").over(ordered)).over(full))
      .withColumn("rk", row_number().over(
        Window.orderBy($"frac".desc, $"stratum")))
    sized
      .select($"stratum", $"n".as("n_rows"),
        round($"sd", 6).as("sd_bal"),
        ($"base" + when($"rk" <= lit(B.toLong) - $"base_tot", 1L)
          .otherwise(0L)).as("alloc"))
      .orderBy($"stratum")
  }

  val neymanSql: String =
    """WITH per AS (
      |  SELECT c_mktsegment AS stratum, COUNT(*) AS n,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))
      |      * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s2
      |  FROM customer GROUP BY 1),
      |sd AS (
      |  SELECT stratum, n,
      |    sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd,
      |    n * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS w
      |  FROM per),
      |tot AS (
      |  SELECT *, MAX(cw) OVER () AS wtot FROM (
      |    SELECT *, SUM(w) OVER (ORDER BY stratum
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |    FROM sd)),
      |ex AS (
      |  SELECT stratum, n, sd,
      |    1000 * w / wtot AS exact,
      |    CAST(floor(1000 * w / wtot) AS BIGINT) AS base,
      |    1000 * w / wtot - floor(1000 * w / wtot) AS frac
      |  FROM tot),
      |bt AS (
      |  SELECT *, MAX(cb) OVER () AS base_tot FROM (
      |    SELECT *, SUM(base) OVER (ORDER BY stratum
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      |    FROM ex)),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY frac DESC, stratum) AS rk
      |  FROM bt)
      |SELECT stratum, CAST(n AS BIGINT) AS n_rows, ROUND(sd, 6) AS sd_bal,
      |  CAST(base + CASE WHEN rk <= 1000 - base_tot THEN 1 ELSE 0 END
      |    AS BIGINT) AS alloc
      |FROM rk ORDER BY stratum""".stripMargin

  // --- Cramér's V -----------------------------------------------------------

  /** q_stat_cramers entry: Cramér's V effect size for the lang × source
    * association — the THIRD leg of the dependence readout next to
    * [[chi2Q]] (detectability) and [[miQ]] (information): V rescales χ²
    * to [0,1] independent of n, so "is this association big enough to
    * stratify on?" compares across corpora of different sizes, which
    * raw χ² (∝ n) cannot. V = sqrt(χ² / (n · min(nr−1, nc−1))).
    *
    * Same contingency collapse as [[chi2Q]]; V is one extra IEEE
    * expression over the already-rounded 6-dp χ² (both engines divide
    * the identical rounded statistic, so no new float surface opens).
    * Single corpus pass, everything downstream ≤ |langs|·|sources|. */
  def cramersQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chi2Q(s, dir)
      .select($"n", $"dof", $"chi2",
        round(sqrt($"chi2" /
          ($"n".cast("double") *
            least($"n_langs" - 1, $"n_sources" - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  val cramersSql: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, SUM(o) AS r FROM cells GROUP BY 1),
      |c AS (SELECT source, SUM(o) AS c FROM cells GROUP BY 1),
      |t AS (SELECT SUM(o) AS n, COUNT(DISTINCT lang) AS nr,
      |  COUNT(DISTINCT source) AS nc FROM cells),
      |terms AS (
      |  SELECT n, nr, nc,
      |    CAST(ROUND((CAST(o AS DOUBLE) - CAST(r.r AS DOUBLE)
      |        * CAST(c.c AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(o AS DOUBLE) - CAST(r.r AS DOUBLE)
      |        * CAST(c.c AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)
      |        / CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9)) AS term
      |  FROM cells JOIN r USING (lang) JOIN c USING (source), t),
      |q AS (
      |  SELECT CAST(n AS BIGINT) AS n, nr, nc,
      |    CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
      |    ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2
      |  FROM terms GROUP BY n, nr, nc)
      |SELECT n, dof, chi2,
      |  ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
      |    * LEAST(nr - 1, nc - 1))), 6) AS cramers_v
      |FROM q""".stripMargin

  // --- Kendall tau-b --------------------------------------------------------

  /** q_stat_kendall entry: Kendall τ-b rank correlation between
    * l_quantity and l_discount — the concordance-based companion to
    * [[spearmanQ]]: τ counts pairwise order agreements instead of
    * correlating ranks, so it is robust to extreme rank ties and has a
    * direct probabilistic reading (P(concordant) − P(discordant)).
    * The tie-corrected τ-b form handles the heavily-tied discrete
    * domains an integer/decimal column audit actually meets.
    *
    * Scale shape: the corpus collapses to the (x, y) JOINT FREQUENCY
    * table first (one combinable groupBy, ≤ |x-domain|·|y-domain| ≈
    * 550 cells here) — concordant/discordant/tie pair counts are then
    * exact integer sums over the cell-pair grid (a broadcast NLJ on
    * the value-bounded cell table, audit-whitelisted; candidate volume
    * is domain², never rows²). All counts BIGINT-exact; τ divides
    * doubles once in a fixed written order. */
  def kendallQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = t(s, dir, "lineitem")
      .groupBy($"l_quantity".as("x"), $"l_discount".as("y"))
      .agg(count(lit(1)).as("c"))
    val a = cells.select($"x".as("xa"), $"y".as("ya"), $"c".as("ca"))
    val b = cells.select($"x".as("xb"), $"y".as("yb"), $"c".as("cb"))
    // each unordered x-differing cell pair counted once via xa < xb
    val pairs = a.join(broadcast(b), $"xa" < $"xb")
      .agg(
        sum(when($"ya" < $"yb", $"ca" * $"cb").otherwise(0L)).as("conc"),
        sum(when($"ya" > $"yb", $"ca" * $"cb").otherwise(0L)).as("disc"))
    val tx = cells.groupBy($"x").agg(sum($"c").as("t"))
      .agg(sum($"t" * ($"t" - 1) / 2).as("ties_x"), sum($"t").as("n"))
    val ty = cells.groupBy($"y").agg(sum($"c").as("t"))
      .agg(sum($"t" * ($"t" - 1) / 2).as("ties_y"))
    pairs.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .withColumn("n0", $"n" * ($"n" - 1) / 2)
      .select($"n".cast("long").as("n"),
        $"conc".cast("long").as("concordant"),
        $"disc".cast("long").as("discordant"),
        $"ties_x".cast("long").as("ties_x"),
        $"ties_y".cast("long").as("ties_y"),
        round(($"conc" - $"disc").cast("double") /
          sqrt(($"n0" - $"ties_x").cast("double") *
            ($"n0" - $"ties_y").cast("double")), 6).as("tau_b"))
  }

  val kendallSql: String =
    """WITH cells AS (
      |  SELECT l_quantity AS x, l_discount AS y, COUNT(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT
      |    SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS conc,
      |    SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS disc
      |  FROM cells a JOIN cells b ON a.x < b.x),
      |tx AS (
      |  SELECT SUM(t * (t - 1) // 2) AS ties_x, SUM(t) AS n
      |  FROM (SELECT x, SUM(c) AS t FROM cells GROUP BY x)),
      |ty AS (
      |  SELECT SUM(t * (t - 1) // 2) AS ties_y
      |  FROM (SELECT y, SUM(c) AS t FROM cells GROUP BY y))
      |SELECT CAST(n AS BIGINT) AS n, CAST(conc AS BIGINT) AS concordant,
      |  CAST(disc AS BIGINT) AS discordant,
      |  CAST(ties_x AS BIGINT) AS ties_x, CAST(ties_y AS BIGINT) AS ties_y,
      |  ROUND(CAST(conc - disc AS DOUBLE)
      |    / sqrt(CAST(n * (n - 1) // 2 - ties_x AS DOUBLE)
      |      * CAST(n * (n - 1) // 2 - ties_y AS DOUBLE)), 6) AS tau_b
      |FROM p, tx, ty""".stripMargin

  // --- Kruskal–Wallis H -----------------------------------------------------

  /** q_stat_kruskal entry: Kruskal–Wallis H rank test of the `value`
    * distributions across ALL five event types — the k-group
    * generalization of [[mannWhitneyQ]] exactly as [[anovaQ]] is of
    * [[ttestQ]], and the nonparametric member of that pair: "does ANY
    * event type's engagement distribution sit elsewhere?", asked
    * without the normality assumption long-tailed values break.
    *
    * Rank machinery inherited from Mann–Whitney: collapse to
    * per-distinct-value per-group counts (one combinable groupBy),
    * tie-averaged ranks from one distributed [[Rank.orderedPrefix]]
    * pass over the reduced frame, per-group rank sums exact in 0.5
    * units as DECIMAL(28,1).
    * H and its tie correction CT = 1 − Σ(t³−t)/(N³−N) are assembled on
    * the 5-row group frame in a fixed IEEE order, rounded 6 dp. */
  def kruskalQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "events")
      .groupBy($"value".as("v"), $"event_type".as("g"))
      .agg(count(lit(1)).as("c"))
    val tv = d.groupBy($"v").agg(sum($"c").as("t"))
    val ranked = Rank.orderedPrefix(tv, order = Seq($"v"),
        cums = Seq(Rank.Cum($"t", "before", exclusive = true)))
      .withColumn("avg_rank",
        ($"before".cast("decimal(18,1)") +
          ($"t" + 1).cast("decimal(18,1)") / 2).cast("decimal(18,1)"))
    val groups = d.join(ranked.select($"v", $"avg_rank"), "v")
      .groupBy($"g")
      .agg(sum($"c").as("nj"),
        sum(($"c".cast("decimal(18,1)") * $"avg_rank").cast("decimal(28,1)"))
          .as("rj"))
    val ties = tv.agg(sum($"t" * $"t" * $"t" - $"t").as("tsum"),
      sum($"t").as("n"))
    groups.crossJoin(broadcast(ties))
      .select($"nj", $"rj", $"n", $"tsum",
        round($"rj".cast("double") * $"rj".cast("double") /
          $"nj".cast("double"), 9).cast("decimal(28,9)").as("term"))
      .groupBy($"n", $"tsum")
      .agg(count(lit(1)).as("k"), sum($"term").as("ssum"))
      .select($"n", $"tsum", $"k",
        (lit(12d) / ($"n".cast("double") * ($"n" + 1)) *
          $"ssum".cast("double") - lit(3d) * ($"n" + 1)).as("h"))
      .select($"n".cast("long").as("n"), $"k".cast("long").as("k"),
        ($"k" - 1).cast("long").as("dof"),
        round($"h", 6).as("h"),
        round($"h" / (lit(1d) - $"tsum".cast("double") /
          ($"n".cast("double") * $"n" * $"n" - $"n")), 6).as("h_tie_adj"))
  }

  val kruskalSql: String =
    """WITH d AS (
      |  SELECT value AS v, event_type AS g, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |tv AS (SELECT v, SUM(c) AS t FROM d GROUP BY v),
      |r AS (
      |  SELECT v,
      |    CAST(COALESCE(SUM(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS DECIMAL(18,1))
      |    + CAST(t + 1 AS DECIMAL(18,1)) / 2 AS avg_rank
      |  FROM tv),
      |grp AS (
      |  SELECT g, SUM(c) AS nj,
      |    SUM(CAST(CAST(c AS DECIMAL(18,1)) * avg_rank AS DECIMAL(28,1)))
      |      AS rj
      |  FROM d JOIN r USING (v) GROUP BY g),
      |ties AS (SELECT SUM(t * t * t - t) AS tsum, SUM(t) AS n FROM tv),
      |terms AS (
      |  SELECT n, tsum,
      |    CAST(ROUND(CAST(rj AS DOUBLE) * CAST(rj AS DOUBLE)
      |      / CAST(nj AS DOUBLE), 9) AS DECIMAL(28,9)) AS term
      |  FROM grp, ties),
      |agg AS (
      |  SELECT n, tsum, COUNT(*) AS k, SUM(term) AS ssum
      |  FROM terms GROUP BY n, tsum),
      |h AS (
      |  SELECT n, tsum, k,
      |    12.0 / (CAST(n AS DOUBLE) * (n + 1)) * CAST(ssum AS DOUBLE)
      |      - 3.0 * (n + 1) AS h
      |  FROM agg)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  CAST(k - 1 AS BIGINT) AS dof, ROUND(h, 6) AS h,
      |  ROUND(h / (1.0 - CAST(tsum AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_tie_adj
      |FROM h""".stripMargin

  // --- two-feature OLS ------------------------------------------------------

  /** q_stat_ols entry: closed-form two-feature ordinary least squares —
    * lineitem extended price regressed on quantity and discount percent
    * via the normal equations, with R². The multivariate step past
    * [[graft.ops.TimeSeries]]'s single-series trend line: effect
    * attribution ("how much of price moves with quantity vs discount")
    * is the workhorse audit before anyone fits an actual model, and
    * at 100 TB it must come out of sufficient statistics, not a
    * solver library.
    *
    * Scale shape: ONE combinable aggregate computes all nine
    * sufficient statistics (n, Σq, Σd, Σq², Σd², Σqd, Σy, Σqy, Σdy,
    * plus Σy² for R²) in a single scan; the 3×3 solve is Cramer's rule
    * on the 1-row frame. Determinism: discount is quantized to exact
    * integer percent (its domain is 0.00–0.10 in cents), money rides
    * DECIMAL(18,2)/(28,2|38,4) sums, so every sufficient statistic is
    * EXACT and the centered S-terms + solve are one shared IEEE
    * expression tree on identical inputs. */
  def olsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "lineitem").select(
      $"l_quantity".cast("long").as("q"),
      round($"l_discount" * 100).cast("long").as("d"),
      $"l_extendedprice".cast("decimal(18,2)").as("y"))
    val a = rows.agg(
      count(lit(1)).as("n"), sum($"q").as("sq"), sum($"d").as("sd"),
      sum($"q" * $"q").as("sqq"), sum($"d" * $"d").as("sdd"),
      sum($"q" * $"d").as("sqd"),
      sum($"y").as("sy"),
      sum(($"q".cast("decimal(18,1)") * $"y").cast("decimal(28,2)")).as("sqy"),
      sum(($"d".cast("decimal(18,1)") * $"y").cast("decimal(28,2)")).as("sdy"),
      sum(($"y" * $"y").cast("decimal(38,4)")).as("syy"))
    a.select($"n".cast("double").as("n"), $"sq".cast("double").as("sq"),
        $"sd".cast("double").as("sd"), $"sqq".cast("double").as("sqq"),
        $"sdd".cast("double").as("sdd"), $"sqd".cast("double").as("sqd"),
        $"sy".cast("double").as("sy"), $"sqy".cast("double").as("sqy"),
        $"sdy".cast("double").as("sdy"), $"syy".cast("double").as("syy"))
      .withColumn("s11", $"n" * $"sqq" - $"sq" * $"sq")
      .withColumn("s22", $"n" * $"sdd" - $"sd" * $"sd")
      .withColumn("s12", $"n" * $"sqd" - $"sq" * $"sd")
      .withColumn("sy1", $"n" * $"sqy" - $"sq" * $"sy")
      .withColumn("sy2", $"n" * $"sdy" - $"sd" * $"sy")
      .withColumn("syc", $"n" * $"syy" - $"sy" * $"sy")
      .withColumn("det", $"s11" * $"s22" - $"s12" * $"s12")
      .withColumn("b1", ($"sy1" * $"s22" - $"sy2" * $"s12") / $"det")
      .withColumn("b2", ($"sy2" * $"s11" - $"sy1" * $"s12") / $"det")
      .select($"n".cast("long").as("n"),
        round(($"sy" - $"b1" * $"sq" - $"b2" * $"sd") / $"n", 6)
          .as("intercept"),
        round($"b1", 6).as("b_quantity"),
        round($"b2", 6).as("b_discount_pct"),
        round(($"b1" * $"sy1" + $"b2" * $"sy2") / $"syc", 6).as("r2"))
  }

  val olsSql: String =
    """WITH r AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
      |  FROM lineitem),
      |a AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(d) AS DOUBLE) AS sd,
      |    CAST(SUM(q * q) AS DOUBLE) AS sqq,
      |    CAST(SUM(d * d) AS DOUBLE) AS sdd,
      |    CAST(SUM(q * d) AS DOUBLE) AS sqd,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(CAST(q AS DECIMAL(18,1)) * y AS DECIMAL(28,2)))
      |      AS DOUBLE) AS sqy,
      |    CAST(SUM(CAST(CAST(d AS DECIMAL(18,1)) * y AS DECIMAL(28,2)))
      |      AS DOUBLE) AS sdy,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM r),
      |c AS (
      |  SELECT n, sq, sd, sy,
      |    n * sqq - sq * sq AS s11,
      |    n * sdd - sd * sd AS s22,
      |    n * sqd - sq * sd AS s12,
      |    n * sqy - sq * sy AS sy1,
      |    n * sdy - sd * sy AS sy2,
      |    n * syy - sy * sy AS syc
      |  FROM a),
      |b AS (
      |  SELECT n, sq, sd, sy, sy1, sy2, syc,
      |    (sy1 * s22 - sy2 * s12) / (s11 * s22 - s12 * s12) AS b1,
      |    (sy2 * s11 - sy1 * s12) / (s11 * s22 - s12 * s12) AS b2
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND((sy - b1 * sq - b2 * sd) / n, 6) AS intercept,
      |  ROUND(b1, 6) AS b_quantity,
      |  ROUND(b2, 6) AS b_discount_pct,
      |  ROUND((b1 * sy1 + b2 * sy2) / syc, 6) AS r2
      |FROM b""".stripMargin

  // --- Wald–Wolfowitz runs test ---------------------------------------------

  /** q_stat_runs entry: Wald–Wolfowitz runs test for randomness of the
    * click / non-click arrival sequence in global (ts, event_id) order
    * — too FEW runs means the binary symbol clusters (bursty bot
    * traffic, batched replays, sessionized clumping), too many means
    * alternation (interleaved dedup artifacts); the sequencing
    * companion to the distributional tests ([[mannWhitneyQ]] and
    * friends see the same counts in any order and can't tell).
    *
    * Scale shape: the global run count decomposes exactly into
    * within-day boundaries + cross-day boundaries (days are contiguous
    * prefixes of the ts order) — so the corpus pass is a DAY-keyed
    * window (the two-level sweep-line idiom of the concurrency query),
    * never a single global sort; per-day first/last symbols come from
    * one combinable min/max-struct aggregate and the cross-day lag
    * runs over the ≤observed-days frame. Exact integers until the
    * final z, which is null-guarded against the degenerate one-symbol
    * sequence. */
  def runsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"ts", $"event_id", to_date($"ts").as("day"),
        ($"event_type" === "click").cast("long").as("x"))
    val wDay = Window.partitionBy($"day").orderBy($"ts", $"event_id")
    val within = ev
      .withColumn("px", lag($"x", 1).over(wDay))
      .agg(sum(when($"px".isNotNull && $"px" =!= $"x", 1L).otherwise(0L))
          .as("wb"),
        sum($"x").as("n1"), count(lit(1)).as("n"))
    val days = ev.groupBy($"day").agg(
      min(struct($"ts", $"event_id", $"x")).getField("x").as("first_x"),
      max(struct($"ts", $"event_id", $"x")).getField("x").as("last_x"))
    val wD = Window.orderBy($"day")
    val cross = days
      .withColumn("pl", lag($"last_x", 1).over(wD))
      .agg(sum(when($"pl".isNotNull && $"pl" =!= $"first_x", 1L).otherwise(0L))
        .as("cb"))
    within.crossJoin(broadcast(cross))
      .select($"n", $"n1", ($"n" - $"n1").as("n2"),
        ($"wb" + $"cb" + 1).as("runs"))
      .select($"n".cast("long").as("n"), $"n1".cast("long").as("n1"),
        $"n2".cast("long").as("n2"), $"runs".cast("long").as("runs"),
        when($"n1" > 0 && $"n2" > 0 && $"n" > 1,
          round(($"runs".cast("double") -
            (lit(1d) + lit(2d) * $"n1" * $"n2" / $"n")) /
            sqrt(lit(2d) * $"n1" * $"n2" *
              (lit(2d) * $"n1" * $"n2" - $"n") /
              ($"n".cast("double") * $"n" * ($"n" - 1))), 6)).as("z"))
  }

  val runsSql: String =
    """WITH s AS (
      |  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS x,
      |    LAG(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      OVER (ORDER BY ts, event_id) AS px
      |  FROM events),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN px IS NOT NULL AND px <> x THEN 1 ELSE 0 END)
      |      + 1 AS BIGINT) AS runs
      |  FROM s)
      |SELECT n, n1, n - n1 AS n2, runs,
      |  CASE WHEN n1 > 0 AND n - n1 > 0 AND n > 1 THEN
      |    ROUND((CAST(runs AS DOUBLE)
      |        - (1.0 + 2.0 * n1 * (n - n1) / n))
      |      / sqrt(2.0 * n1 * (n - n1) * (2.0 * n1 * (n - n1) - n)
      |        / (CAST(n AS DOUBLE) * n * (n - 1))), 6)
      |  END AS z
      |FROM a""".stripMargin

  /** Two-sided normal p-value `2(1 − Φ(|z|))` as ONE SQL expression
    * string — Abramowitz & Stegun 26.2.17 (|ε| < 7.5e-8, far inside the
    * 8 dp the output pins). The SAME string evaluates on Spark (via
    * `expr`) and DuckDB (spliced into the oracle), so both engines run
    * the identical IEEE tree — the trick that lets a p-value be
    * hash-compared at all. */
  private[ops] def normP2(z: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * abs($z)))"
    val poly = s"($t * (0.319381530 + $t * (-0.356563782 + $t * " +
      s"(1.781477937 + $t * (-1.821255978 + $t * 1.330274429)))))"
    s"(2.0 * ((exp(-(($z) * ($z)) / 2.0) / 2.5066282746310002) * $poly))"
  }

  /** q_stat_bh entry: BENJAMINI–HOCHBERG FDR control over the
    * per-event-type high-value-rate tests — the missing meta-layer
    * above the suite's individual tests: run one two-proportion z test
    * per type (its rate of value > 100 vs all OTHER types pooled), then
    * apply the BH step-up at α = 0.05: reject the k smallest p-values
    * where k = max{i : p_(i) ≤ i·α/m}. Without multiplicity control a
    * dashboard of m monitors fires a false alarm ~mα of the time; BH is
    * the standard fix, and it is pure rank arithmetic — exactly the
    * kind of post-processing that belongs in-plan rather than in a
    * notebook.
    *
    * Exactness: counts are integers; z and p are one fixed IEEE tree
    * over them ([[normP2]] runs verbatim on both engines); the BH
    * cutoff compares p against i·α/m in DOUBLE on both sides. The
    * step-up MAX runs over the m-row (|types|-bounded) frame. */
  def bhQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val per = t(s, dir, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(($"value" > 100.0).cast("long")).as("x"))
    val tot = per.agg(sum($"n").as("nn"), sum($"x").as("xx")) // 1 row
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("z", expr(
        """((CAST(x AS DOUBLE) / n) - (CAST(xx - x AS DOUBLE) / (nn - n)))
          | / sqrt((CAST(xx AS DOUBLE) / nn) * (1.0 - CAST(xx AS DOUBLE) / nn)
          |        * (1.0 / n + 1.0 / (nn - n)))""".stripMargin))
      .withColumn("p", expr(normP2("z")))
    val wOrd = Window.partitionBy(lit(1)).orderBy($"p", $"event_type")
    val wAll = Window.partitionBy(lit(1))
    scored
      .withColumn("p_rank", row_number().over(wOrd))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("kstar", max(when(
        $"p" <= $"p_rank".cast("double") * 0.05 / $"m".cast("double"),
        $"p_rank").otherwise(0)).over(wAll))
      .select($"event_type", $"n".cast("long").as("n"),
        $"x".cast("long").as("n_high"),
        round($"z", 6).as("z"),
        round($"p", 8).as("p_value"),
        $"p_rank".cast("int").as("p_rank"),
        ($"p_rank" <= $"kstar").cast("int").as("rejected"))
      .orderBy($"event_type")
  }

  val bhSql: String = {
    val z =
      """((CAST(x AS DOUBLE) / n) - (CAST(xx - x AS DOUBLE) / (nn - n)))
        | / sqrt((CAST(xx AS DOUBLE) / nn) * (1.0 - CAST(xx AS DOUBLE) / nn)
        |        * (1.0 / n + 1.0 / (nn - n)))""".stripMargin
    s"""WITH per AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS x
      |  FROM events GROUP BY event_type),
      |tot AS (SELECT SUM(n) AS nn, SUM(x) AS xx FROM per),
      |scored AS (
      |  SELECT event_type, n, x, $z AS z
      |  FROM per CROSS JOIN tot),
      |pv AS (
      |  SELECT event_type, n, x, z, ${normP2("z")} AS p FROM scored),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY p, event_type) AS p_rank,
      |    COUNT(*) OVER () AS m
      |  FROM pv),
      |ks AS (
      |  SELECT *, MAX(CASE WHEN p <= CAST(p_rank AS DOUBLE) * 0.05
      |      / CAST(m AS DOUBLE) THEN p_rank ELSE 0 END) OVER () AS kstar
      |  FROM rk)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS n_high,
      |  ROUND(z, 6) AS z, ROUND(p, 8) AS p_value,
      |  CAST(p_rank AS INT) AS p_rank,
      |  CAST(CASE WHEN p_rank <= kstar THEN 1 ELSE 0 END AS INT) AS rejected
      |FROM ks ORDER BY event_type""".stripMargin
  }

  /** q_stat_dispersion entry: Poisson overdispersion index of the DAILY
    * arrival counts per event type — the standard "is a Poisson rate
    * model even tenable?" audit before any rate-based alerting. For
    * daily counts c₁…c_n: D = s²/c̄ (variance-to-mean ratio, 1 under
    * Poisson) and the dispersion statistic χ² = (n−1)·D ~ χ²(n−1).
    * D ≫ 1 (bursty users, campaign spikes) means Poisson thresholds
    * under-alarm and a negative-binomial model is needed.
    *
    * Scale shape: two nested combinable aggregations — events collapse
    * to (type, day) counts (calendar-bounded), then to one row per type
    * carrying Σc and Σc² as EXACT integers. Determinism: mean/var/D are
    * one fixed IEEE tree over those integers, identical on both
    * engines; s² uses the numerically-exact (Σc² − (Σc)²/n)/(n−1) form
    * which is safe here because counts are small integers. */
  def dispersionQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("c"))
    val mean = $"sum_c".cast("double") / $"n_days".cast("double")
    val variance = ($"sum_c2".cast("double") -
      $"sum_c".cast("double") * $"sum_c".cast("double") /
        $"n_days".cast("double")) / ($"n_days".cast("double") - lit(1d))
    daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"c").as("sum_c"),
        sum($"c" * $"c").as("sum_c2"))
      .select($"event_type", $"n_days", $"sum_c".as("total"),
        round(mean, 6).as("daily_mean"),
        round(variance / mean, 6).as("dispersion"),
        round(($"n_days".cast("double") - lit(1d)) * variance / mean, 6)
          .as("chi2"))
      .orderBy($"event_type")
  }

  val dispersionSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS sum_c,
      |    CAST(SUM(c * c) AS BIGINT) AS sum_c2
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, sum_c AS total,
      |  ROUND(CAST(sum_c AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS daily_mean,
      |  ROUND(((CAST(sum_c2 AS DOUBLE) - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE)
      |      / CAST(n_days AS DOUBLE)) / (CAST(n_days AS DOUBLE) - 1.0))
      |    / (CAST(sum_c AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) AS dispersion,
      |  ROUND((CAST(n_days AS DOUBLE) - 1.0)
      |    * ((CAST(sum_c2 AS DOUBLE) - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE)
      |      / CAST(n_days AS DOUBLE)) / (CAST(n_days AS DOUBLE) - 1.0))
      |    / (CAST(sum_c AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) AS chi2
      |FROM a ORDER BY event_type""".stripMargin

  /** q_stat_logrank entry: the LOG-RANK test comparing the survival of
    * two user cohorts (even vs odd user_id) — the inferential companion
    * to the q_survival_km life table: KM DESCRIBES each curve, log-rank
    * answers "do the cohorts retain differently?" At each distinct
    * lifetime t with d total endings (d₁ in cohort 1) and n at risk (n₁
    * in cohort 1): O−E accumulates d₁ − d·n₁/n and the hypergeometric
    * variance d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1); z = (O−E)/√ΣV.
    *
    * Scale shape: users collapse to one lifetime row each (combinable
    * groupBy over user), the event-time table is groupBy(lifetime) —
    * calendar-bounded — and the at-risk sets are one DESCENDING
    * cumulative window over it; no self-join against the user table.
    * Determinism: d/n counts are exact integers; each time-point's
    * O−E and V terms round to 9 dp and sum as DECIMAL(28,9) (order-
    * independent), and z is one IEEE tree over the two exact sums. */
  def logrankQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val life = t(s, dir, "events")
      .select($"user_id", expr("unix_micros(ts)").as("tus"))
      .groupBy($"user_id")
      .agg(expr("(max(tus) - min(tus)) div 86400000000").as("lt"),
        (max($"user_id") % 2).as("grp"))
    val byT = life.groupBy($"lt")
      .agg(count(lit(1)).as("d"),
        sum(when($"grp" === 1, 1L).otherwise(0L)).as("d1"))
    val wRisk = Window.orderBy($"lt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = byT
      .withColumn("n", sum($"d").over(wRisk))
      .withColumn("n1", sum($"d1").over(wRisk))
      .select(
        round($"d1".cast("double") -
          $"d".cast("double") * $"n1" / $"n", 9)
          .cast("decimal(28,9)").as("oe"),
        when($"n" > 1,
          round($"d".cast("double") * ($"n1".cast("double") / $"n") *
            (lit(1d) - $"n1".cast("double") / $"n") *
            ($"n" - $"d").cast("double") / ($"n".cast("double") - lit(1d)), 9))
          .otherwise(lit(0d)).cast("decimal(28,9)").as("v"))
    terms.agg(
      round(sum($"oe").cast("double"), 6).as("o_minus_e"),
      round(sum($"v").cast("double"), 6).as("variance"),
      round(sum($"oe").cast("double") /
        sqrt(sum($"v").cast("double")), 6).as("z"))
  }

  val logrankSql: String =
    """WITH life AS (
      |  SELECT user_id,
      |    (CAST(epoch_us(MAX(ts)) AS BIGINT) - CAST(epoch_us(MIN(ts)) AS BIGINT))
      |      // 86400000000 AS lt,
      |    MAX(user_id) % 2 AS grp
      |  FROM events GROUP BY user_id),
      |byt AS (
      |  SELECT lt, CAST(COUNT(*) AS BIGINT) AS d,
      |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1
      |  FROM life GROUP BY lt),
      |risk AS (
      |  SELECT d, d1,
      |    SUM(d) OVER (ORDER BY lt DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
      |    SUM(d1) OVER (ORDER BY lt DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
      |  FROM byt),
      |terms AS (
      |  SELECT
      |    CAST(ROUND(CAST(d1 AS DOUBLE)
      |      - CAST(d AS DOUBLE) * n1 / n, 9) AS DECIMAL(28,9)) AS oe,
      |    CAST(CASE WHEN n > 1 THEN
      |      ROUND(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
      |        * (1.0 - CAST(n1 AS DOUBLE) / n)
      |        * CAST(n - d AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0), 9)
      |      ELSE 0.0 END AS DECIMAL(28,9)) AS v
      |  FROM risk)
      |SELECT
      |  ROUND(CAST(SUM(oe) AS DOUBLE), 6) AS o_minus_e,
      |  ROUND(CAST(SUM(v) AS DOUBLE), 6) AS variance,
      |  ROUND(CAST(SUM(oe) AS DOUBLE) / sqrt(CAST(SUM(v) AS DOUBLE)), 6) AS z
      |FROM terms""".stripMargin

  /** q_stat_power entry: A/B-test POWER ANALYSIS — given the observed
    * cohort conversion rates of q_stat_ab_lift's design, the required
    * per-arm sample size to detect that lift at α = 0.05 (two-sided)
    * with 80% power:
    * n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₁q₁ + p₂q₂))² / (p₂ − p₁)² —
    * the planning arithmetic every experimentation platform runs
    * BEFORE a test ships ("how long must this run?"), emitted next to
    * the n actually available so `powered` is a one-glance verdict.
    *
    * Determinism: rates come from exact integer counts; the z
    * constants are shared double literals; the whole n formula is one
    * IEEE tree, ceil'd to an exact integer on both engines. */
  def powerQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val perUser = t(s, dir, "events")
      .groupBy($"user_id")
      .agg(sum(($"event_type" === "purchase").cast("long")).as("pc"))
    val hist = perUser.groupBy($"pc").agg(count(lit(1)).as("c"))
    val thr = hist
      .withColumn("cum", sum($"c").over(
        Window.orderBy($"pc").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nu", sum($"c").over(
        Window.orderBy($"pc").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter($"cum" * 2 >= $"nu")
      .agg(min($"pc").as("thr"))
    val za = lit(1.959963984540054d) // z_{0.975}
    val zb = lit(0.8416212335729143d) // z_{0.80}
    perUser.crossJoin(broadcast(thr))
      .select($"user_id", ($"pc" >= $"thr").cast("long").as("conv"),
        ($"user_id" % 2 === 0).cast("int").as("cohort"))
      .agg(
        sum(when($"cohort" === 1, 1L).otherwise(0L)).as("n_a"),
        sum(when($"cohort" === 1, $"conv").otherwise(0L)).as("conv_a"),
        sum(when($"cohort" === 0, 1L).otherwise(0L)).as("n_b"),
        sum(when($"cohort" === 0, $"conv").otherwise(0L)).as("conv_b"))
      .select($"n_a", $"n_b",
        ($"conv_a".cast("double") / $"n_a").as("p1"),
        ($"conv_b".cast("double") / $"n_b").as("p2"),
        (($"conv_a" + $"conv_b").cast("double") / ($"n_a" + $"n_b")).as("pb"))
      .select($"n_a", $"n_b",
        round($"p1", 6).as("rate_a"), round($"p2", 6).as("rate_b"),
        round($"p2" - $"p1", 6).as("lift"),
        ceil(pow(za * sqrt(lit(2d) * $"pb" * (lit(1d) - $"pb")) +
          zb * sqrt($"p1" * (lit(1d) - $"p1") + $"p2" * (lit(1d) - $"p2")),
          2d) / pow($"p2" - $"p1", 2d)).cast("long").as("n_required"))
      .select($"rate_a", $"rate_b", $"lift", $"n_required",
        least($"n_a", $"n_b").as("n_have"),
        (least($"n_a", $"n_b") >= $"n_required").cast("long").as("powered"))
  }

  val powerSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pc
      |  FROM events GROUP BY user_id),
      |h AS (SELECT pc, COUNT(*) AS c FROM pu GROUP BY pc),
      |thr AS (
      |  SELECT MIN(pc) AS thr FROM (
      |    SELECT pc,
      |      SUM(c) OVER (ORDER BY pc
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      SUM(c) OVER () AS nu
      |    FROM h) WHERE cum * 2 >= nu),
      |u AS (
      |  SELECT CASE WHEN pu.pc >= thr.thr THEN 1 ELSE 0 END AS conv,
      |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS cohort
      |  FROM pu, thr),
      |a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN cohort = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN cohort = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u),
      |r AS (
      |  SELECT n_a, n_b,
      |    CAST(conv_a AS DOUBLE) / n_a AS p1,
      |    CAST(conv_b AS DOUBLE) / n_b AS p2,
      |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pb
      |  FROM a)
      |SELECT ROUND(p1, 6) AS rate_a, ROUND(p2, 6) AS rate_b,
      |  ROUND(p2 - p1, 6) AS lift,
      |  CAST(CEIL(POWER(1.959963984540054 * SQRT(2 * pb * (1 - pb))
      |      + 0.8416212335729143 * SQRT(p1 * (1 - p1) + p2 * (1 - p2)), 2)
      |    / POWER(p2 - p1, 2)) AS BIGINT) AS n_required,
      |  LEAST(n_a, n_b) AS n_have,
      |  CAST(LEAST(n_a, n_b) >= CEIL(POWER(1.959963984540054
      |      * SQRT(2 * pb * (1 - pb))
      |      + 0.8416212335729143 * SQRT(p1 * (1 - p1) + p2 * (1 - p2)), 2)
      |    / POWER(p2 - p1, 2)) AS BIGINT) AS powered
      |FROM r""".stripMargin

  /** q_eval_conformal entry: SPLIT-CONFORMAL prediction-interval
    * calibration — the distribution-free coverage guarantee every
    * deployed regressor can ship with regardless of how bad the model
    * is. Orders split 50/25/25 train/calibration/test on the pinned
    * md5 coin; the "model" is the per-priority floored-cents mean of
    * the TRAIN split; nonconformity is the absolute residual in
    * integer cents; q̂ is the ⌈0.9·(n_cal+1)⌉-th smallest calibration
    * residual (the finite-sample-corrected split-conformal quantile,
    * an exact integer order statistic — no FP quantile estimate); the
    * TEST split then reports empirical coverage of ŷ ± q̂, which the
    * conformal theorem guarantees ≥ 90% in expectation — the audit row
    * a training pipeline checks before trusting model error bars.
    *
    * Scale shape: the corpus collapses per (group, fold) in one
    * combinable pass except the calibration rank, a per-group window
    * over the CALIBRATION SAMPLE only (a fixed-rate subsample by
    * design — at 100 TB the calibration split is capped upstream, the
    * train/test sides stay pure aggregates); model and q̂ frames are
    * group-bounded broadcasts. Determinism: integer arithmetic
    * throughout — floored-cents mean, integer residuals, order-
    * statistic q̂; the only double is the final coverage ratio (6 dp).
    */
  def conformalQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    // checkpointed: five consumers (model/cal/calN/q-hat/test) would
    // otherwise each rescan parquet and recompute the md5 fold — the
    // r10 sf1 bench measured that recompute amplification at 6 scans
    // (29s vs ~5s); one narrow (key, prio, cents, fold) materialization
    // is what a production pipeline would persist anyway
    val o = t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("fold", Hashing.md5Long60(
        concat($"o_orderkey".cast("string"), lit(":conf"))) % 4)
      .checkpoint()
    val model = o.filter($"fold" <= 1).groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_train"),
        expr("sum(cents) div count(1)").as("yhat_cents"))
    val cal = o.filter($"fold" === 2).join(broadcast(model), "o_orderpriority")
      .select($"o_orderpriority", $"o_orderkey",
        abs($"cents" - $"yhat_cents").as("r"))
    val calN = cal.groupBy($"o_orderpriority").agg(count(lit(1)).as("n_cal"))
    val wR = Window.partitionBy($"o_orderpriority").orderBy($"r", $"o_orderkey")
    val qhat = cal.withColumn("rn", row_number().over(wR))
      .join(broadcast(calN), "o_orderpriority")
      .filter($"rn" === expr("(9 * (n_cal + 1) + 9) div 10"))
      .select($"o_orderpriority", $"n_cal", $"r".as("qhat_cents"))
    o.filter($"fold" === 3).join(broadcast(model), "o_orderpriority")
      .join(broadcast(qhat), "o_orderpriority")
      .groupBy($"o_orderpriority")
      .agg(min($"n_train").as("n_train"), min($"n_cal").as("n_cal"),
        count(lit(1)).as("n_test"),
        min($"yhat_cents").as("yhat_cents"),
        min($"qhat_cents").as("qhat_cents"),
        sum((abs($"cents" - $"yhat_cents") <= $"qhat_cents").cast("long"))
          .as("n_covered"))
      .select($"o_orderpriority", $"n_train", $"n_cal", $"n_test",
        $"yhat_cents", $"qhat_cents", $"n_covered",
        round($"n_covered".cast("double") / $"n_test", 6).as("coverage"))
      .orderBy($"o_orderpriority")
  }

  val conformalSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    ('0x' || substr(md5(o_orderkey::VARCHAR || ':conf'), 1, 15))
      |      ::UBIGINT::BIGINT % 4 AS fold
      |  FROM orders),
      |model AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_train,
      |    CAST(SUM(cents) // COUNT(*) AS BIGINT) AS yhat_cents
      |  FROM o WHERE fold <= 1 GROUP BY 1),
      |cal AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    ABS(cents - yhat_cents) AS r
      |  FROM o JOIN model USING (o_orderpriority) WHERE fold = 2),
      |caln AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_cal
      |  FROM cal GROUP BY 1),
      |rk AS (
      |  SELECT o_orderpriority, r,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY r, o_orderkey) AS rn
      |  FROM cal),
      |qh AS (
      |  SELECT o_orderpriority, n_cal, r AS qhat_cents
      |  FROM rk JOIN caln USING (o_orderpriority)
      |  WHERE rn = (9 * (n_cal + 1) + 9) // 10),
      |tst AS (
      |  SELECT o_orderpriority,
      |    CAST(COUNT(*) AS BIGINT) AS n_test,
      |    CAST(SUM(CASE WHEN ABS(cents - yhat_cents) <= qhat_cents
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      |  FROM o JOIN model USING (o_orderpriority)
      |    JOIN qh USING (o_orderpriority)
      |  WHERE fold = 3 GROUP BY 1)
      |SELECT o_orderpriority, n_train, n_cal, n_test,
      |  yhat_cents, qhat_cents, n_covered,
      |  ROUND(CAST(n_covered AS DOUBLE) / n_test, 6) AS coverage
      |FROM model JOIN qh USING (o_orderpriority)
      |  JOIN tst USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin

  private val SprtP0 = 0.25   // H0: high-value rate
  private val SprtP1 = 0.35   // H1: elevated rate
  private val SprtAlpha = 0.05
  private val SprtCut = 150.0 // "high-value" event threshold
  private def d12(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)
  private val SprtIncPos = d12(math.log(SprtP1 / SprtP0)).toPlainString
  private val SprtIncNeg = d12(math.log((1 - SprtP1) / (1 - SprtP0))).toPlainString
  private val SprtBound = d12(math.log((1 - SprtAlpha) / SprtAlpha)).toPlainString

  /** q_stat_sprt entry: Wald's SEQUENTIAL PROBABILITY RATIO TEST over
    * each event type's time-ordered stream — the early-stopping monitor
    * behind every "call the A/B test as soon as the evidence suffices"
    * readout (Wald 1945; the expected sample size is provably minimal
    * among all tests of the same error rates). Observation = event
    * value > [[SprtCut]]; the log-likelihood-ratio walk adds one of two
    * constants per event (H1 rate [[SprtP1]] vs H0 [[SprtP0]]) and the
    * test decides at the first crossing of ±ln((1−α)/α).
    *
    * Scale shape: one ranked window per series (the same shape as every
    * cumulative monitor here) and a 5-row first-crossing join. In a
    * production stream this is a running per-key state of ONE number —
    * the batch walk is its replayable anchor. Determinism: the two
    * increments and the boundary are 12-dp decimal LITERALS computed
    * once and baked into both plans; the walk is an exact decimal
    * cumulative sum, so crossings are integer-exact. */
  def sprtQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val walk = t(s, dir, "events")
      .select($"event_type", $"ts", $"event_id",
        ($"value" > SprtCut).as("x"))
      .withColumn("inc",
        when($"x", lit(SprtIncPos).cast("decimal(14,12)"))
          .otherwise(lit(SprtIncNeg).cast("decimal(14,12)")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"ts", $"event_id")))
      .withColumn("cum", sum($"inc").over(w))
    val bound = lit(SprtBound).cast("decimal(14,12)")
    val agg = walk.groupBy($"event_type")
      .agg(count(lit(1)).as("n_obs"),
        sum($"x".cast("long")).as("n_high"),
        min(when($"cum" >= bound || $"cum" <= -bound, $"rn")).as("dn"),
        round(sum($"inc").cast("double"), 6).as("llr_final"))
    agg.join(walk.select($"event_type", $"rn".as("dn"), $"cum"),
        Seq("event_type", "dn"), "left")
      .select($"event_type", $"n_obs", $"n_high",
        coalesce($"dn", lit(0L)).cast("long").as("decision_n"),
        when($"cum" >= bound, "accept_h1")
          .when($"cum" <= -bound, "accept_h0")
          .otherwise("continue").as("decision"),
        round(coalesce($"cum".cast("double"), lit(0.0)), 6)
          .as("llr_at_decision"),
        $"llr_final")
      .orderBy($"event_type")
  }

  val sprtSql: String =
    s"""WITH walk AS MATERIALIZED (
      |  SELECT event_type, ts, event_id,
      |    CASE WHEN value > $SprtCut THEN 1 ELSE 0 END AS x,
      |    CASE WHEN value > $SprtCut
      |      THEN CAST('$SprtIncPos' AS DECIMAL(14,12))
      |      ELSE CAST('$SprtIncNeg' AS DECIMAL(14,12)) END AS inc,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id) AS rn
      |  FROM events),
      |c AS MATERIALIZED (
      |  SELECT event_type, rn, x, inc,
      |    SUM(inc) OVER (PARTITION BY event_type ORDER BY rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM walk),
      |a AS MATERIALIZED (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
      |    CAST(SUM(x) AS BIGINT) AS n_high,
      |    MIN(CASE WHEN cum >= CAST('$SprtBound' AS DECIMAL(14,12))
      |      OR cum <= -CAST('$SprtBound' AS DECIMAL(14,12))
      |      THEN rn END) AS dn,
      |    ROUND(CAST(SUM(inc) AS DOUBLE), 6) AS llr_final
      |  FROM c GROUP BY 1)
      |SELECT a.event_type, n_obs, n_high,
      |  CAST(COALESCE(dn, 0) AS BIGINT) AS decision_n,
      |  CASE WHEN c.cum >= CAST('$SprtBound' AS DECIMAL(14,12))
      |    THEN 'accept_h1'
      |    WHEN c.cum <= -CAST('$SprtBound' AS DECIMAL(14,12))
      |    THEN 'accept_h0'
      |    ELSE 'continue' END AS decision,
      |  ROUND(COALESCE(CAST(c.cum AS DOUBLE), 0.0), 6) AS llr_at_decision,
      |  llr_final
      |FROM a LEFT JOIN c ON c.event_type = a.event_type AND c.rn = a.dn
      |ORDER BY a.event_type""".stripMargin

  /** q_stat_shrinkage entry: EMPIRICAL-BAYES beta-binomial shrinkage
    * of each nation's urgent-order rate toward the cross-nation prior
    * (Robbins 1956 / the Efron–Morris "batting average" estimator) —
    * the smoothing every per-source quality score, per-seller defect
    * rate, and per-slice toxicity rate needs before small-sample
    * groups are ranked: a 3-order nation with one urgent order is NOT
    * a 33% urgent source. Prior (α, β) by method of moments from the
    * unweighted raw-rate mean and variance; strength clamps at 0 when
    * the between-group variance exceeds the binomial ceiling (then the
    * posterior is the raw rate).
    *
    * Scale shape: one combinable (nation) aggregate → a 25-row frame;
    * the prior reduces to ONE row and broadcasts back. Determinism:
    * counts are exact integers; rates and moments are one shared IEEE
    * expression tree over them (6-dp rounding only at output), the
    * same contract as every closed-form statistic here. */
  def shrinkageQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perNation = t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(t(s, dir, "nation"), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"),
        sum(($"o_orderpriority" === "1-URGENT").cast("long")).as("k"))
      .withColumn("p", $"k".cast("double") / $"n")
    val prior = perNation
      .select(round($"p", 12).cast("decimal(28,12)").as("pr"),
        round($"p" * $"p", 12).cast("decimal(28,12)").as("pr2"))
      .agg(count(lit(1)).as("g"), sum($"pr").as("sp"), sum($"pr2").as("sp2"))
      .select($"g", ($"sp".cast("double") / $"g").as("pbar"),
        (($"sp2".cast("double") -
          $"sp".cast("double") * $"sp".cast("double") / $"g") /
          ($"g" - 1)).as("v"))
      .select($"pbar", $"v",
        greatest(lit(0.0),
          $"pbar" * (lit(1.0) - $"pbar") / $"v" - 1.0).as("strength"))
    perNation.crossJoin(broadcast(prior))
      .select($"n_name", $"n", $"k",
        round($"p", 6).as("raw_rate"),
        round($"pbar", 6).as("prior_rate"),
        round($"strength", 6).as("prior_strength"),
        round(($"k" + $"strength" * $"pbar") / ($"n" + $"strength"), 6)
          .as("shrunk_rate"),
        round($"n" / ($"n" + $"strength"), 6).as("self_weight"))
      .orderBy($"n_name")
  }

  val shrinkageSql: String =
    """WITH pn AS MATERIALIZED (
      |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |    JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name),
      |pr AS MATERIALIZED (
      |  SELECT COUNT(*) AS g,
      |    SUM(CAST(ROUND(CAST(k AS DOUBLE) / n, 12)
      |      AS DECIMAL(28,12))) AS sp,
      |    SUM(CAST(ROUND((CAST(k AS DOUBLE) / n) * (CAST(k AS DOUBLE) / n),
      |      12) AS DECIMAL(28,12))) AS sp2
      |  FROM pn),
      |mo AS (
      |  SELECT g, CAST(sp AS DOUBLE) / g AS pbar,
      |    (CAST(sp2 AS DOUBLE)
      |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / g) / (g - 1) AS v
      |  FROM pr),
      |st AS (
      |  SELECT pbar, v,
      |    GREATEST(0.0, pbar * (1.0 - pbar) / v - 1.0) AS strength
      |  FROM mo)
      |SELECT n_name, n, k,
      |  ROUND(CAST(k AS DOUBLE) / n, 6) AS raw_rate,
      |  ROUND(pbar, 6) AS prior_rate,
      |  ROUND(strength, 6) AS prior_strength,
      |  ROUND((k + strength * pbar) / (n + strength), 6) AS shrunk_rate,
      |  ROUND(n / (n + strength), 6) AS self_weight
      |FROM pn, st ORDER BY n_name""".stripMargin

  /** q_stat_levene entry: BROWN–FORSYTHE variance-equality test across
    * the five event types (Levene's test with the group MEDIAN as the
    * center — the robust form actually recommended since Brown &
    * Forsythe 1974). The test every pooled-variance procedure (ANOVA,
    * pooled t) should run first: W is the one-way ANOVA F statistic
    * computed on z_ij = |x_ij − med_j|.
    *
    * Exactness contract: centers are the LOWER MEDIAN (the
    * ⌈n/2⌉-th ordered value — `percentile_disc`' s choice), so med_j,
    * z_ij, and z² are exact cents/cent² decimals; the power sums merge
    * exactly and W reduces to a few correctly-rounded double ops at the
    * very end — the [[anovaQ]] discipline applied to deviations.
    *
    * Scale shape: one per-group ordered window for the median (5 keys —
    * at a real corpus this is the exact-percentile family's documented
    * n·log n pass; an approx-quantile center is the 100-TB variant),
    * medians broadcast back as a 5-row frame, then one combinable
    * conditional-sum pass. */
  def leveneQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = t(s, dir, "events")
      .select($"event_type", $"value".cast("decimal(18,2)").as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"x")
    val med = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
      .filter($"rn" === floor(($"cnt" + 1) / 2))
      .select($"event_type", $"x".as("med"))
    val z = ev.join(broadcast(med), "event_type")
      .select($"event_type", abs($"x" - $"med").as("z"), $"med")
    val aggs = types.flatMap { tp =>
      val m = $"event_type" === tp
      Seq(sum(when(m, 1L).otherwise(0L)).as(s"n_$tp"),
        sum(when(m, $"z")).as(s"s_$tp"),
        sum(when(m, $"z" * $"z")).as(s"q_$tp"),
        max(when(m, $"med")).as(s"med_$tp"))
    }
    val one = z.agg(aggs.head, aggs.tail: _*)
    val n = types.map(tp => col(s"n_$tp")).reduce(_ + _)
    val sAll = types.map(tp => col(s"s_$tp").cast("double")).reduce(_ + _)
    val ssb = types.map(tp =>
      col(s"s_$tp").cast("double") * col(s"s_$tp").cast("double")
        / col(s"n_$tp")).reduce(_ + _) - sAll * sAll / n
    val ssw = types.map(tp =>
      col(s"q_$tp").cast("double") - col(s"s_$tp").cast("double")
        * col(s"s_$tp").cast("double") / col(s"n_$tp")).reduce(_ + _)
    val medCols = types.map(tp =>
      col(s"med_$tp").cast("double").as(s"med_$tp"))
    one.select(Seq(
        n.cast("long").as("n"), lit(types.size.toLong).as("k"),
        round(ssb, 6).as("ss_between"),
        round(ssw, 6).as("ss_within"),
        when(ssw > 0.0,
          round((ssb / (types.size - 1)) / (ssw / (n - types.size)), 6))
          .as("w_stat")) ++ medCols: _*)
  }

  val leveneSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggs = types.flatMap { tp =>
      Seq(s"SUM(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS n_$tp",
        s"SUM(CASE WHEN event_type = '$tp' THEN z END) AS s_$tp",
        s"SUM(CASE WHEN event_type = '$tp' THEN z * z END) AS q_$tp",
        s"MAX(CASE WHEN event_type = '$tp' THEN med END) AS med_$tp")
    }
    val n = types.map(tp => s"n_$tp").mkString(" + ")
    val sAll = types.map(tp => s"CAST(s_$tp AS DOUBLE)").mkString(" + ")
    val ssb = types.map(tp =>
      s"CAST(s_$tp AS DOUBLE) * CAST(s_$tp AS DOUBLE) / n_$tp")
      .mkString(" + ") + s" - ($sAll) * ($sAll) / ($n)"
    val ssw = types.map(tp =>
      s"CAST(q_$tp AS DOUBLE) - CAST(s_$tp AS DOUBLE) * CAST(s_$tp AS DOUBLE) / n_$tp")
      .mkString(" + ")
    val medSel = types.map(tp =>
      s"CAST(med_$tp AS DOUBLE) AS med_$tp").mkString(", ")
    s"""WITH ev AS (
       |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x FROM events),
       |med AS MATERIALIZED (
       |  SELECT event_type, x AS med FROM (
       |    SELECT event_type, x,
       |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
       |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
       |    FROM ev)
       |  WHERE rn = (cnt + 1) // 2),
       |z AS (
       |  SELECT e.event_type, ABS(e.x - m.med) AS z, m.med
       |  FROM ev e JOIN med m USING (event_type)),
       |a AS (SELECT ${aggs.mkString(",\n    ")} FROM z)
       |SELECT CAST($n AS BIGINT) AS n, CAST(${types.size} AS BIGINT) AS k,
       |  ROUND($ssb, 6) AS ss_between,
       |  ROUND($ssw, 6) AS ss_within,
       |  CASE WHEN ($ssw) > 0.0 THEN
       |    ROUND((($ssb) / ${types.size - 1}) / (($ssw) / (($n) - ${types.size})), 6)
       |  END AS w_stat,
       |  $medSel
       |FROM a""".stripMargin
  }

  /** q_stat_meta entry: FIXED-EFFECT META-ANALYSIS of a replicated A/B
    * readout — the inverse-variance pooling (plus Cochran's Q and
    * Higgins' I² heterogeneity) every experimentation platform runs
    * when one treatment is measured across K independent strata and
    * the per-stratum estimates must be combined instead of pooled
    * raw (Simpson-safe). Strata = the five event types; within each,
    * cohort A/B = user-id parity, outcome = value > 50; effect
    * d = p_B − p_A with sampling variance v = p_A(1−p_A)/n_A +
    * p_B(1−p_B)/n_B; pooled = Σ(d/v)/Σ(1/v), SE = 1/√Σ(1/v),
    * Q = Σ w(d−pooled)², I² = max(0, (Q−(K−1))/Q).
    *
    * Determinism: per-stratum d and v are fixed-order IEEE chains
    * over exact integer counts; weights and weighted terms are
    * rounded to 9 dp and merged as DECIMAL(28,9) so the K-term sums
    * cannot drift with partitioning.
    *
    * Scale shape: ONE map-side-combinable groupBy(event_type) over
    * the corpus; everything downstream runs on the K-row stratum
    * frame with two 1-row broadcasts (pooled, Q). */
  def metaQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val strata = t(s, dir, "events")
      .select($"event_type", ($"user_id" % 2 === 1).cast("int").as("a"),
        ($"value" > 50.0).cast("long").as("hi"))
      .groupBy($"event_type")
      .agg(sum(when($"a" === 1, 1L).otherwise(0L)).as("na"),
        sum(when($"a" === 1, $"hi").otherwise(0L)).as("xa"),
        sum(when($"a" === 0, 1L).otherwise(0L)).as("nb"),
        sum(when($"a" === 0, $"hi").otherwise(0L)).as("xb"))
      .withColumn("pa", $"xa".cast("double") / $"na")
      .withColumn("pb", $"xb".cast("double") / $"nb")
      .withColumn("d", $"pb" - $"pa")
      .withColumn("v", expr("pa * (1 - pa) / na + pb * (1 - pb) / nb"))
      .filter($"v" > 0)
      .withColumn("w", expr("round(1 / v, 9)"))
      .withColumn("wd", expr("round(d / v, 9)"))
    val sums = strata.agg(count(lit(1)).as("k"),
      sum($"w".cast("decimal(28,9)")).as("sw"),
      sum($"wd".cast("decimal(28,9)")).as("swd"))
      .withColumn("pooled",
        expr("round(cast(swd as double) / cast(sw as double), 9)"))
    val qsum = strata.crossJoin(broadcast(sums.select($"pooled")))
      .agg(sum(expr(
        "cast(round(w * (d - pooled) * (d - pooled), 9) as decimal(28,9))"))
        .as("qsum"))
    sums.crossJoin(broadcast(qsum))
      .select($"k".cast("long").as("k"),
        round($"pooled", 6).as("pooled_lift"),
        expr("round(1 / sqrt(cast(sw as double)), 6)").as("se"),
        expr("round(cast(qsum as double), 6)").as("q_stat"),
        expr("""round(case when cast(qsum as double) > 0
          then greatest(0.0, (cast(qsum as double) - (k - 1))
            / cast(qsum as double)) else 0.0 end, 6)""").as("i2"))
  }

  val metaSql: String =
    """WITH strata AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN user_id % 2 = 1 AND value > 50.0 THEN 1 ELSE 0 END) AS xa,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS nb,
      |    SUM(CASE WHEN user_id % 2 = 0 AND value > 50.0 THEN 1 ELSE 0 END) AS xb
      |  FROM events GROUP BY 1),
      |eff AS (
      |  SELECT *,
      |    ROUND(1 / v, 9) AS w, ROUND(d / v, 9) AS wd
      |  FROM (
      |    SELECT event_type, pb - pa AS d,
      |      pa * (1 - pa) / na + pb * (1 - pb) / nb AS v
      |    FROM (
      |      SELECT event_type, na, nb,
      |        CAST(xa AS DOUBLE) / na AS pa,
      |        CAST(xb AS DOUBLE) / nb AS pb
      |      FROM strata))
      |  WHERE v > 0),
      |sums AS (
      |  SELECT COUNT(*) AS k,
      |    SUM(CAST(w AS DECIMAL(28,9))) AS sw,
      |    SUM(CAST(wd AS DECIMAL(28,9))) AS swd
      |  FROM eff),
      |pooledt AS (
      |  SELECT k, sw,
      |    ROUND(CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE), 9) AS pooled
      |  FROM sums),
      |qt AS (
      |  SELECT SUM(CAST(ROUND(e.w * (e.d - p.pooled) * (e.d - p.pooled), 9)
      |    AS DECIMAL(28,9))) AS qsum
      |  FROM eff e CROSS JOIN pooledt p)
      |SELECT CAST(p.k AS BIGINT) AS k,
      |  ROUND(p.pooled, 6) AS pooled_lift,
      |  ROUND(1 / SQRT(CAST(p.sw AS DOUBLE)), 6) AS se,
      |  ROUND(CAST(q.qsum AS DOUBLE), 6) AS q_stat,
      |  ROUND(CASE WHEN CAST(q.qsum AS DOUBLE) > 0
      |    THEN GREATEST(0.0, (CAST(q.qsum AS DOUBLE) - (p.k - 1))
      |      / CAST(q.qsum AS DOUBLE)) ELSE 0.0 END, 6) AS i2
      |FROM pooledt p CROSS JOIN qt q""".stripMargin

  /** q_ts_granger entry: GRANGER lead-lag screen at lag 1 over every
    * ordered pair of the five event-type hourly series — "does
    * knowing series B an hour ago improve the forecast of series A
    * beyond A's own history?", the standard causal-direction triage
    * for metric incident analysis and feature-lag selection
    * (Granger 1969). Run via the partial-correlation identity (no
    * matrix solve): with r₁ = corr(x, x₋₁), r₂ = corr(x, z₋₁),
    * r₃ = corr(x₋₁, z₋₁), the partial r_p = (r₂ − r₁r₃)/
    * √((1−r₁²)(1−r₃²)), and the incremental-regressor F(1, n−3) =
    * (n−3)·r_p²/(1−r_p²) — algebraically the RSS-ratio test without
    * ever fitting either regression.
    *
    * Determinism: the three Pearson terms come from exact integer
    * power sums over the dense grid (the [[periodQ]] estimator),
    * rounded to 6 dp; r_p and F are fixed-order scalar chains (9/6
    * dp). Significance pinned at the F(1, ∞) 5% critical value 3.84.
    *
    * Scale shape: one grid collapse per series; the pair frame is
    * ONE integer-index equi-join of the lagged frame against the
    * 5-series cause frame (≤ 720·20 rows), then a combinable
    * 10-sum aggregate per ordered pair — bounded by |types|², never
    * by event volume. */
  def grangerQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    val dense = TimeSeries.denseCounts(t(s, dir, "events"), "hour")
      .withColumn("idx", (row_number().over(w) - 1).cast("long"))
    val lagged = dense
      .withColumn("x1", lag($"x", 1).over(w))
      .filter($"x1".isNotNull)
      .select($"event_type".as("etype"), $"idx", $"x", $"x1")
    val cause = dense
      .select($"event_type".as("ctype"), ($"idx" + 1).as("idx"),
        $"x".as("z1"))
    def r(su: Column, sa: Column, sb: Column, saa: Column, sbb: Column,
          sab: Column): Column =
      round((su * sab - sa * sb).cast("double") /
        sqrt((su * saa - sa * sa).cast("double") *
          (su * sbb - sb * sb).cast("double")), 6)
    lagged.join(cause, Seq("idx"))
      .filter($"etype" =!= $"ctype")
      .groupBy($"etype", $"ctype")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"x1").as("sx1"), sum($"z1").as("sz1"),
        sum($"x" * $"x").as("sxx"), sum($"x1" * $"x1").as("sx1x1"),
        sum($"z1" * $"z1").as("sz1z1"),
        sum($"x" * $"x1").as("sxx1"), sum($"x" * $"z1").as("sxz1"),
        sum($"x1" * $"z1").as("sx1z1"))
      .select($"etype".as("effect_type"), $"ctype".as("cause_type"),
        $"n".cast("long").as("n"),
        r($"n", $"sx", $"sx1", $"sxx", $"sx1x1", $"sxx1").as("r1"),
        r($"n", $"sx", $"sz1", $"sxx", $"sz1z1", $"sxz1").as("r2"),
        r($"n", $"sx1", $"sz1", $"sx1x1", $"sz1z1", $"sx1z1").as("r3"))
      .withColumn("rp", expr(
        "round((r2 - r1 * r3) / sqrt((1 - r1 * r1) * (1 - r3 * r3)), 9)"))
      .select($"effect_type", $"cause_type", $"n",
        round($"rp", 6).as("r_partial"),
        expr("round((n - 3) * rp * rp / (1 - rp * rp), 6)").as("f_stat"),
        (expr("(n - 3) * rp * rp / (1 - rp * rp)") > 3.84)
          .as("significant"))
      .orderBy($"effect_type", $"cause_type")
  }

  val grangerSql: String = {
    def rs(su: String, sa: String, sb: String, saa: String, sbb: String,
           sab: String): String =
      s"""ROUND(CAST($su * $sab - $sa * $sb AS DOUBLE)
         | / SQRT(CAST($su * $saa - $sa * $sa AS DOUBLE)
         |   * CAST($su * $sbb - $sb * $sb AS DOUBLE)), 6)""".stripMargin
    s"""WITH grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT s.event_type, g.hour, COALESCE(h.cnt, 0) AS x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY g.hour)
      |      AS BIGINT) - 1 AS idx
      |  FROM grid g CROSS JOIN series s
      |  LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = s.event_type),
      |lagged AS (
      |  SELECT event_type AS etype, idx, x,
      |    LAG(x, 1) OVER (PARTITION BY event_type ORDER BY idx) AS x1
      |  FROM dense QUALIFY x1 IS NOT NULL),
      |cause AS (SELECT event_type AS ctype, idx + 1 AS idx, x AS z1 FROM dense),
      |sums AS (
      |  SELECT etype, ctype, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(x1) AS sx1, SUM(z1) AS sz1,
      |    SUM(x * x) AS sxx, SUM(x1 * x1) AS sx1x1, SUM(z1 * z1) AS sz1z1,
      |    SUM(x * x1) AS sxx1, SUM(x * z1) AS sxz1, SUM(x1 * z1) AS sx1z1
      |  FROM lagged JOIN cause USING (idx)
      |  WHERE etype <> ctype GROUP BY 1, 2),
      |rr AS (
      |  SELECT etype AS effect_type, ctype AS cause_type,
      |    CAST(n AS BIGINT) AS n,
      |    ${rs("n", "sx", "sx1", "sxx", "sx1x1", "sxx1")} AS r1,
      |    ${rs("n", "sx", "sz1", "sxx", "sz1z1", "sxz1")} AS r2,
      |    ${rs("n", "sx1", "sz1", "sx1x1", "sz1z1", "sx1z1")} AS r3
      |  FROM sums),
      |rp AS (
      |  SELECT effect_type, cause_type, n,
      |    ROUND((r2 - r1 * r3)
      |      / SQRT((1 - r1 * r1) * (1 - r3 * r3)), 9) AS rp
      |  FROM rr)
      |SELECT effect_type, cause_type, n,
      |  ROUND(rp, 6) AS r_partial,
      |  ROUND((n - 3) * rp * rp / (1 - rp * rp), 6) AS f_stat,
      |  (n - 3) * rp * rp / (1 - rp * rp) > 3.84 AS significant
      |FROM rp ORDER BY effect_type, cause_type""".stripMargin
  }

  /** q_stat_tost entry: EQUIVALENCE testing by TWO ONE-SIDED TESTS
    * (Schuirmann 1987) — the procedure for proving the ABSENCE of an
    * effect, which the ordinary z-test cannot do (failing to reject ≠
    * equivalence): the A/B high-value rate difference (user-parity
    * cohorts, value > 50) is declared equivalent iff BOTH one-sided
    * tests reject at 5% against the ±0.02 margin: z_low = (d+m)/se >
    * 1.644854 AND z_high = (d−m)/se < −1.644854. Emits both z's, the
    * classic difference z, and the equivalent/different verdicts —
    * the launch-review readout for "the cheaper variant is no worse".
    *
    * Determinism: counts are exact integers; d, se, and the three z's
    * are one fixed-order IEEE chain each, rounded at 6 dp; verdicts
    * compare the unrounded chain against literal constants —
    * identical text on both engines.
    *
    * Scale shape: ONE combinable global aggregate; everything else is
    * scalar arithmetic on a 1-row frame. */
  def tostQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select(($"user_id" % 2 === 1).cast("int").as("a"),
        ($"value" > 50.0).cast("long").as("hi"))
      .agg(sum(when($"a" === 1, 1L).otherwise(0L)).as("na"),
        sum(when($"a" === 1, $"hi").otherwise(0L)).as("xa"),
        sum(when($"a" === 0, 1L).otherwise(0L)).as("nb"),
        sum(when($"a" === 0, $"hi").otherwise(0L)).as("xb"))
      .withColumn("pa", $"xa".cast("double") / $"na")
      .withColumn("pb", $"xb".cast("double") / $"nb")
      .withColumn("d", $"pb" - $"pa")
      .withColumn("se",
        expr("sqrt(pa * (1 - pa) / na + pb * (1 - pb) / nb)"))
      .select($"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
        round($"pa", 6).as("rate_a"), round($"pb", 6).as("rate_b"),
        round($"d", 6).as("diff"),
        round(expr("d / se"), 6).as("z_diff"),
        round(expr("(d + 0.02) / se"), 6).as("z_low"),
        round(expr("(d - 0.02) / se"), 6).as("z_high"),
        (expr("(d + 0.02) / se") > 1.644854 &&
          expr("(d - 0.02) / se") < -1.644854).as("equivalent"),
        (abs(expr("d / se")) > 1.959964).as("different"))
  }

  val tostSql: String =
    """WITH c AS (
      |  SELECT
      |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN user_id % 2 = 1 AND value > 50.0 THEN 1 ELSE 0 END) AS xa,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS nb,
      |    SUM(CASE WHEN user_id % 2 = 0 AND value > 50.0 THEN 1 ELSE 0 END) AS xb
      |  FROM events),
      |e AS (
      |  SELECT na, nb, pa, pb, pb - pa AS d,
      |    SQRT(pa * (1 - pa) / na + pb * (1 - pb) / nb) AS se
      |  FROM (SELECT na, nb,
      |          CAST(xa AS DOUBLE) / na AS pa,
      |          CAST(xb AS DOUBLE) / nb AS pb
      |        FROM c))
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(pa, 6) AS rate_a, ROUND(pb, 6) AS rate_b,
      |  ROUND(d, 6) AS diff,
      |  ROUND(d / se, 6) AS z_diff,
      |  ROUND((d + 0.02) / se, 6) AS z_low,
      |  ROUND((d - 0.02) / se, 6) AS z_high,
      |  ((d + 0.02) / se > 1.644854 AND (d - 0.02) / se < -1.644854)
      |    AS equivalent,
      |  ABS(d / se) > 1.959964 AS different
      |FROM e""".stripMargin

  /** q_stat_fisher_exact entry: FISHER'S EXACT TEST (one-sided) on a
    * 2×2 per nation — the small-sample independence test the χ² family
    * ([[chi2Q]]) cannot replace when cell counts are single-digit: the
    * p-value is the exact hypergeometric tail, no asymptotic
    * approximation. Production shape: audit panels (human-labeled QA
    * samples, per-segment spot checks) are SMALL by construction even
    * when the corpus is 100 TB, and exact tests are the only honest
    * inference on them.
    *
    * Fixture: per nation, a fixed-SIZE panel — the 10 smallest-md5(key)
    * customers in each of two market segments (the [[Hashing]] panel
    * idiom: fixed size, never fixed stride — the q_label_noise lesson) —
    * tested for high account balance (> 5000) × segment association.
    * One-sided tail P(X ≥ k | margins): inclusion is determined by the
    * integer k alone (no FP pmf comparisons, which is why the one-sided
    * tail is the hash-exact choice over the two-sided test).
    *
    * Determinism contract: with N = 20 every binomial coefficient is
    * exact 64-bit integer arithmetic (20! < 2⁶³; `factorial` + integer
    * div), the tail numerator is an exact integer sum, and the p-value
    * is ONE IEEE division of exact integers — bit-identical across
    * engines, no rounding tolerance anywhere.
    *
    * Scale shape: panel selection is a per-(nation, segment) top-10
    * window over a column-pruned customer scan; the j-grid is ≤ 11
    * rows per nation. Everything after the scan is panel-bounded. */
  def fisherExactQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val base = t(s, dir, "customer")
      .filter($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"))
      .select($"c_nationkey", $"c_mktsegment".as("seg"), $"c_custkey",
        ($"c_acctbal" > 5000.0).cast("long").as("hi"))
    val w = Window.partitionBy($"c_nationkey", $"seg")
      .orderBy(Hashing.md5Long60($"c_custkey".cast("string")), $"c_custkey")
    val cells = base.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_panel"),
        sum($"hi").as("kk"),
        sum(when($"seg" === "BUILDING", $"hi").otherwise(0L)).as("k_obs"),
        sum(when($"seg" === "BUILDING", 1L).otherwise(0L)).as("n_a"))
      .filter($"n_panel" === 20 && $"n_a" === 10)
    val terms = cells
      .select($"c_nationkey", $"kk", $"k_obs",
        explode(expr("sequence(k_obs, 10)")).as("j"))
      .withColumn("t", expr(
        """CASE WHEN j <= kk AND 10 - j <= 20 - kk
          |THEN (factorial(cast(kk as int))
          |      div (factorial(cast(j as int))
          |           * factorial(cast(kk - j as int))))
          |   * (factorial(cast(20 - kk as int))
          |      div (factorial(cast(10 - j as int))
          |           * factorial(cast(20 - kk - 10 + j as int))))
          |ELSE 0 END""".stripMargin))
    terms.groupBy($"c_nationkey", $"kk", $"k_obs")
      .agg(sum($"t").as("num"))
      .join(broadcast(t(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"),
        $"kk".cast("long").as("k_total"),
        $"k_obs".cast("long").as("k_building"),
        ($"num".cast("double") / lit(184756.0)).as("p_one_sided"))
      .orderBy($"nation")
  }

  /** Oracle twin: identical exact-integer tail; C(20,10) = 184756. */
  val fisherExactSql: String =
    """WITH base AS (
      |  SELECT c_nationkey, c_mktsegment AS seg, c_custkey,
      |    CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END AS hi
      |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      |panel AS (
      |  SELECT * FROM (
      |    SELECT base.*, row_number() OVER (PARTITION BY c_nationkey, seg
      |      ORDER BY ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))
      |        ::UBIGINT::BIGINT, c_custkey) AS rn
      |    FROM base) WHERE rn <= 10),
      |cells AS (
      |  SELECT c_nationkey, SUM(hi) AS kk,
      |    SUM(CASE WHEN seg = 'BUILDING' THEN hi ELSE 0 END) AS k_obs
      |  FROM panel GROUP BY 1
      |  HAVING COUNT(*) = 20
      |     AND SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) = 10),
      |terms AS (
      |  SELECT c_nationkey, kk, k_obs, r.range AS j,
      |    CASE WHEN r.range <= kk AND 10 - r.range <= 20 - kk
      |    THEN CAST((factorial(kk::INT) // (factorial(r.range::INT)
      |           * factorial((kk - r.range)::INT)))
      |       * (factorial((20 - kk)::INT) // (factorial((10 - r.range)::INT)
      |           * factorial((20 - kk - 10 + r.range)::INT))) AS BIGINT)
      |    ELSE 0 END AS t
      |  FROM cells, range(0, 11) r WHERE r.range >= k_obs)
      |SELECT n.n_name AS nation, CAST(c.kk AS BIGINT) AS k_total,
      |  CAST(c.k_obs AS BIGINT) AS k_building,
      |  CAST(s.num AS DOUBLE) / 184756.0 AS p_one_sided
      |FROM (SELECT c_nationkey, SUM(t) AS num FROM terms GROUP BY 1) s
      |JOIN cells c USING (c_nationkey)
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |ORDER BY nation""".stripMargin

  /** q_stat_jackknife entry: DELETE-A-GROUP JACKKNIFE variance of a
    * ratio metric (Kott, "The delete-a-group jackknife", JOS 2001 —
    * the production variance estimator for ratio/regression metrics on
    * data too large to bootstrap: revenue-per-unit here, CTR /
    * cost-per-click / dedup-yield-per-source in pipeline dashboards).
    * Rows hash into G = 20 random groups BY ORDER KEY (the PSU — rows
    * of one order are correlated and must leave together, the
    * clustered-sampling correctness point a row-level jackknife gets
    * wrong); θ̂₍g₎ re-estimates the ratio with group g deleted, and
    * Var = (G−1)/G · Σ (θ̂₍g₎ − θ̂)².
    *
    * Scale shape: ONE map-side-combinable groupBy over the corpus
    * (G-bounded frame out), then all leave-one-out re-estimates are
    * arithmetic on the 20-row frame — the whole-corpus "recompute
    * without each group" is free because the ratio's sufficient
    * statistics subtract. This subtract-from-totals trick is why DAG
    * jackknife costs one pass at 100 TB while the bootstrap costs B.
    *
    * Determinism contract: group sums are exact (long quantity,
    * DECIMAL(38,2) revenue); each θ̂₍g₎ is one IEEE division of
    * exactly-representable operands, rounded to 9 dp; squared
    * deviations round to DECIMAL(38,15) before the order-independent
    * exact sum. */
  def jackknifeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val grp = t(s, dir, "lineitem")
      .select((Hashing.md5Long60($"l_orderkey".cast("string")) % 20).as("g"),
        $"l_quantity".cast("long").as("q"),
        $"l_extendedprice".cast("decimal(18,2)").as("r"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"q").as("qg"),
        sum($"r").cast("decimal(38,2)").as("rg"))
    val wAll = Window.partitionBy(lit(0))
    grp
      .withColumn("qt", sum($"qg").over(wAll))
      .withColumn("rt", sum($"rg").over(wAll))
      .withColumn("theta_hat", round($"rt".cast("double") / $"qt", 9))
      .withColumn("theta_loo",
        round(($"rt" - $"rg").cast("double") / ($"qt" - $"qg"), 9))
      .withColumn("term",
        round(pow($"theta_loo" - $"theta_hat", 2), 15)
          .cast("decimal(38,15)"))
      .withColumn("ssq", sum($"term").over(wAll))
      .select($"g".cast("long").as("g"), $"n".cast("long").as("n_rows"),
        $"theta_loo", $"theta_hat",
        round(sqrt(lit(19.0) / lit(20.0) * $"ssq".cast("double")), 9)
          .as("se_jack"))
      .orderBy($"g")
  }

  val jackknifeSql: String =
    """WITH grp AS (
      |  SELECT ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))
      |      ::UBIGINT::BIGINT % 20 AS g,
      |    COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS qg,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |      AS DECIMAL(38,2)) AS rg
      |  FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT g, n, qg, rg, SUM(qg) OVER () AS qt, SUM(rg) OVER () AS rt
      |  FROM grp),
      |loo AS (
      |  SELECT g, n,
      |    ROUND(CAST(rt AS DOUBLE) / qt, 9) AS theta_hat,
      |    ROUND(CAST(rt - rg AS DOUBLE) / (qt - qg), 9) AS theta_loo
      |  FROM tot),
      |dev AS (
      |  SELECT *, CAST(ROUND(POW(theta_loo - theta_hat, 2), 15)
      |    AS DECIMAL(38,15)) AS term FROM loo)
      |SELECT CAST(g AS BIGINT) AS g, CAST(n AS BIGINT) AS n_rows,
      |  theta_loo, theta_hat,
      |  ROUND(SQRT(19.0 / 20.0 * CAST(SUM(term) OVER () AS DOUBLE)), 9)
      |    AS se_jack
      |FROM dev ORDER BY g""".stripMargin

  /** q_stat_cuped entry: CUPED variance reduction (Deng, Xu, Kohavi &
    * Walker, WSDM 2013 — the standard pre-experiment-covariate
    * adjustment every large A/B platform runs): per user, the
    * post-period metric Y is adjusted to Y − θ(X − X̄) using the
    * pre-period covariate X, with θ = cov(X,Y)/var(X) fitted pooled;
    * Var(Ycv) shrinks by the squared X–Y correlation, turning weeks of
    * experiment runtime into days. Fixture: events value totals per
    * user, pre = Jan 1–15 / post = Jan 16–30, deterministic md5 split
    * into two arms. Reported per arm: user count, raw and adjusted
    * means; plus the pooled θ and achieved variance reduction.
    *
    * Distributed shape: ONE combinable per-user rollup over the corpus
    * (the only unbounded exchange), a 1-row pooled-moments frame
    * broadcast back for the per-user adjustment (audit-whitelisted),
    * then a combinable per-arm rollup whose sufficient statistics are
    * enough to reconstruct the POOLED variance on the 2-row arm frame —
    * no user-level window, so the plan survives 10⁹ users.
    *
    * Determinism contract: per-user totals are exact integer CENTS;
    * pooled moments are exact decimal sums cast once to double, θ and
    * each adjusted value are the same IEEE expression shape in both
    * engines, and all re-aggregated user-level quantities round to 6 dp
    * and sum as DECIMAL(38,6) — order-independent exact merges.
    *
    * Structure theorem visible in the output: var_reduction must equal
    * corr(X,Y)² (CUPED's defining identity). The synthetic users are
    * nearly homogeneous (corr ≈ 0.072), so the output shows a small
    * reduction of ≈ 0.0052 = 0.072² — the identity holding to the
    * printed precision IS the cross-check. */
  def cupedQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val users = t(s, dir, "events")
      .select($"user_id", $"ts",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy($"user_id")
      .agg(sum(when($"ts" < lit("2024-01-16").cast("timestamp"), $"vc")
          .otherwise(0L)).as("xc"),
        sum(when($"ts" >= lit("2024-01-16").cast("timestamp"), $"vc")
          .otherwise(0L)).as("yc"))
      .withColumn("arm", Hashing.md5Bucket($"user_id".cast("string"), 2))
    val mom = users.agg(count(lit(1)).as("n"),
      sum($"xc").as("sx"), sum($"yc").as("sy"),
      sum($"xc".cast("decimal(19,0)") * $"yc".cast("decimal(19,0)")).as("sxy"),
      sum($"xc".cast("decimal(19,0)") * $"xc".cast("decimal(19,0)")).as("sxx"))
    val adj = users.crossJoin(broadcast(mom))
      .withColumn("theta",
        ($"n".cast("double") * $"sxy".cast("double")
          - $"sx".cast("double") * $"sy".cast("double"))
        / ($"n".cast("double") * $"sxx".cast("double")
          - $"sx".cast("double") * $"sx".cast("double")))
      .withColumn("y", $"yc" / lit(100.0))
      .withColumn("ycv",
        ($"yc" - $"theta" * ($"xc" - $"sx".cast("double") / $"n"))
          / lit(100.0))
    val arms = adj.groupBy($"arm").agg(
      count(lit(1)).as("n_users"),
      sum(round($"y", 6).cast("decimal(38,6)")).as("s_y"),
      sum(round($"y" * $"y", 6).cast("decimal(38,6)")).as("s_y2"),
      sum(round($"ycv", 6).cast("decimal(38,6)")).as("s_cv"),
      sum(round($"ycv" * $"ycv", 6).cast("decimal(38,6)")).as("s_cv2"),
      max($"theta").as("theta"))
    val wAll = Window.partitionBy(lit(0))
    arms
      .withColumn("nn", sum($"n_users").over(wAll))
      .withColumn("ty", sum($"s_y").over(wAll))
      .withColumn("ty2", sum($"s_y2").over(wAll))
      .withColumn("tcv", sum($"s_cv").over(wAll))
      .withColumn("tcv2", sum($"s_cv2").over(wAll))
      .select($"arm".cast("long").as("arm"),
        $"n_users".cast("long").as("n_users"),
        round($"s_y".cast("double") / $"n_users", 6).as("mean_y"),
        round($"s_cv".cast("double") / $"n_users", 6).as("mean_ycv"),
        round($"theta", 6).as("theta"),
        round(lit(1.0)
          - ($"nn".cast("double") * $"tcv2".cast("double")
             - $"tcv".cast("double") * $"tcv".cast("double"))
          / ($"nn".cast("double") * $"ty2".cast("double")
             - $"ty".cast("double") * $"ty".cast("double")), 6)
          .as("var_reduction"))
      .orderBy($"arm")
  }

  val cupedSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS xc,
      |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
      |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS yc
      |  FROM events GROUP BY 1),
      |ua AS (
      |  SELECT *, ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
      |    ::UBIGINT::BIGINT % 2 AS arm FROM u),
      |mom AS (
      |  SELECT COUNT(*) AS n, SUM(xc) AS sx, SUM(yc) AS sy,
      |    SUM(CAST(xc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0))) AS sxy,
      |    SUM(CAST(xc AS DECIMAL(19,0)) * CAST(xc AS DECIMAL(19,0))) AS sxx
      |  FROM ua),
      |adj AS (
      |  SELECT arm, yc / 100.0 AS y,
      |    (yc - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |        * (xc - CAST(sx AS DOUBLE) / n)) / 100.0 AS ycv,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
      |  FROM ua CROSS JOIN mom),
      |arms AS (
      |  SELECT arm, COUNT(*) AS n_users,
      |    SUM(CAST(ROUND(y, 6) AS DECIMAL(38,6))) AS s_y,
      |    SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS s_y2,
      |    SUM(CAST(ROUND(ycv, 6) AS DECIMAL(38,6))) AS s_cv,
      |    SUM(CAST(ROUND(ycv * ycv, 6) AS DECIMAL(38,6))) AS s_cv2,
      |    MAX(theta) AS theta
      |  FROM adj GROUP BY 1)
      |SELECT CAST(arm AS BIGINT) AS arm, CAST(n_users AS BIGINT) AS n_users,
      |  ROUND(CAST(s_y AS DOUBLE) / n_users, 6) AS mean_y,
      |  ROUND(CAST(s_cv AS DOUBLE) / n_users, 6) AS mean_ycv,
      |  ROUND(theta, 6) AS theta,
      |  ROUND(1.0
      |    - (CAST(SUM(n_users) OVER () AS DOUBLE)
      |         * CAST(SUM(s_cv2) OVER () AS DOUBLE)
      |       - CAST(SUM(s_cv) OVER () AS DOUBLE)
      |         * CAST(SUM(s_cv) OVER () AS DOUBLE))
      |    / (CAST(SUM(n_users) OVER () AS DOUBLE)
      |         * CAST(SUM(s_y2) OVER () AS DOUBLE)
      |       - CAST(SUM(s_y) OVER () AS DOUBLE)
      |         * CAST(SUM(s_y) OVER () AS DOUBLE)), 6) AS var_reduction
      |FROM arms ORDER BY arm""".stripMargin

  /** q_stat_standardize entry: DIRECT STANDARDIZATION / stratified
    * treatment-effect estimate — the confounder-adjusted comparison
    * (classical epidemiology; equivalently the identity-weighted
    * stratified estimator behind covariate-adjusted A/B readouts):
    * within each stratum (customer nation) compare treated vs control
    * order values, then average the per-stratum differences weighted by
    * the stratum's share of ALL orders. The crude (unstratified)
    * difference is confounded by strata with skewed treatment shares;
    * the standardized estimate is the Σ wₛ·(mean_t,s − mean_c,s) that
    * removes it. Treatment here: urgent/high order priority.
    *
    * Scale shape: ONE combinable groupBy to the stratum grid (25 rows);
    * every derived quantity lives on that grid (window over the bounded
    * frame). Strata lacking either arm are excluded (documented
    * standard practice — no extrapolation into empty cells).
    *
    * Determinism: exact decimal sums; per-stratum means/diffs are
    * single IEEE divisions; the weighted terms round to 9 dp and sum as
    * DECIMAL(38,9). */
  def standardizeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH").cast("long")
          .as("tr"),
        $"o_totalprice".cast("decimal(18,2)").as("y"))
    val strata = o.groupBy($"nation").agg(
      count(lit(1)).as("n_s"),
      sum(when($"tr" === 1, $"y")).cast("decimal(38,2)").as("sy_t"),
      sum(when($"tr" === 1, 1L).otherwise(0L)).as("n_t"),
      sum(when($"tr" === 0, $"y")).cast("decimal(38,2)").as("sy_c"),
      sum(when($"tr" === 0, 1L).otherwise(0L)).as("n_c"))
      .filter($"n_t" > 0 && $"n_c" > 0)
    val wAll = Window.partitionBy(lit(0))
    strata
      .withColumn("nn", sum($"n_s").over(wAll))
      .withColumn("diff",
        $"sy_t".cast("double") / $"n_t" - $"sy_c".cast("double") / $"n_c")
      .withColumn("term",
        round($"diff" * $"n_s" / $"nn", 9).cast("decimal(38,9)"))
      .withColumn("ate", sum($"term").over(wAll))
      .select($"nation", $"n_s".cast("long").as("n_orders"),
        $"n_t".cast("long").as("n_treat"),
        round($"sy_t".cast("double") / $"n_t", 6).as("mean_treat"),
        round($"sy_c".cast("double") / $"n_c", 6).as("mean_ctrl"),
        round($"diff", 6).as("diff"),
        round($"ate".cast("double"), 6).as("ate_standardized"))
      .orderBy($"nation")
  }

  val standardizeSql: String =
    """WITH o AS (
      |  SELECT n.n_name AS nation,
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS tr,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS y
      |  FROM orders
      |  JOIN customer c ON o_custkey = c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |strata AS (
      |  SELECT nation, COUNT(*) AS n_s,
      |    CAST(SUM(CASE WHEN tr = 1 THEN y END) AS DECIMAL(38,2)) AS sy_t,
      |    SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS n_t,
      |    CAST(SUM(CASE WHEN tr = 0 THEN y END) AS DECIMAL(38,2)) AS sy_c,
      |    SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS n_c
      |  FROM o GROUP BY 1
      |  HAVING SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) > 0
      |     AND SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) > 0),
      |d AS (
      |  SELECT *, SUM(n_s) OVER () AS nn,
      |    CAST(sy_t AS DOUBLE) / n_t - CAST(sy_c AS DOUBLE) / n_c AS diff
      |  FROM strata),
      |dd AS (
      |  SELECT *, CAST(ROUND(diff * n_s / nn, 9) AS DECIMAL(38,9)) AS term
      |  FROM d)
      |SELECT nation, CAST(n_s AS BIGINT) AS n_orders,
      |  CAST(n_t AS BIGINT) AS n_treat,
      |  ROUND(CAST(sy_t AS DOUBLE) / n_t, 6) AS mean_treat,
      |  ROUND(CAST(sy_c AS DOUBLE) / n_c, 6) AS mean_ctrl,
      |  ROUND(diff, 6) AS diff,
      |  ROUND(CAST(SUM(term) OVER () AS DOUBLE), 6) AS ate_standardized
      |FROM dd ORDER BY nation""".stripMargin

  /** q_sample_pps entry: SYSTEMATIC PROBABILITY-PROPORTIONAL-TO-SIZE
    * sampling (the classical survey design — Madow 1949; the workhorse
    * for audit sampling and monetary-unit sampling): order the units by
    * a pinned hash (the "random order" systematic PPS requires), lay
    * n = 50 equally-spaced points over the cumulative size axis with a
    * pinned fractional start, and select every unit whose cumulative
    * interval contains a point — inclusion probability exactly
    * n·size/T with ZERO variance in the sample's size coverage, the
    * property iid weighted draws lack. Units larger than the step can
    * be hit multiple times (reported as multiplicity, the
    * monetary-unit-sampling convention). Sizes are per-customer order
    * revenue in whole dollars; zero-size units are excluded (PPS is
    * defined on positive sizes).
    *
    * Determinism/exactness: selection is PURE INTEGER arithmetic —
    * point k lands at (u0 + k·g)·T/(g·n) with the start u0 on a g=10⁴
    * md5 grid, and hit counting is the exact ceiling-division
    * #{k : (u0 + k·g)·T < c·g·n}, no FP anywhere (c·g·n ≤ T·5·10⁵
    * stays in int64 through ~sf10; the decimal(38,0) upgrade is a
    * one-line cast). Only the reported Horvitz–Thompson weight
    * divides, once, at display.
    *
    * Scale note: the cumulative axis is a global ordered prefix sum,
    * computed by [[Rank.orderedPrefix]] as the standard two-pass
    * distributed prefix sum (per-range running sums + broadcast
    * per-range offsets; the grand total rides the same offsets frame)
    * — no SinglePartition window; at 10⁹ units the shape is
    * unchanged. */
  def ppsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val sz = t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(expr(
        "CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT)")
        .as("size"))
      .filter($"size" > 0)
      .withColumn("h",
        Hashing.md5Long60(concat(lit("pps:"), $"o_custkey".cast("string"))))
    Rank.orderedPrefix(sz, order = Seq($"h", $"o_custkey"),
        cums = Seq(Rank.Cum($"size", "c")),
        totals = Seq(($"size", "tt")),
        uniform = Some((0.0, 1.152921504606846976e18)))
      .withColumn("u0", Hashing.md5Long60(lit("pps:start")) % 10000L)
      .withColumn("a_c", $"c" * lit(500000L) - $"u0" * $"tt")
      .withColumn("a_p", ($"c" - $"size") * lit(500000L) - $"u0" * $"tt")
      .withColumn("b", lit(10000L) * $"tt")
      .withColumn("fc", when($"a_c" <= 0, lit(0L))
        .otherwise(least(lit(50L), expr("(a_c + b - 1) div b"))))
      .withColumn("fp", when($"a_p" <= 0, lit(0L))
        .otherwise(least(lit(50L), expr("(a_p + b - 1) div b"))))
      .withColumn("n_hits", $"fc" - $"fp")
      .filter($"n_hits" > 0)
      .select($"o_custkey".as("custkey"), $"size".as("size_dollars"),
        $"n_hits".cast("long").as("n_hits"),
        round($"tt".cast("double") / (lit(50.0) * $"size"), 6)
          .as("ht_weight"))
      .orderBy($"custkey")
  }

  val ppsSql: String =
    """WITH sz AS (
      |  SELECT o_custkey,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT)
      |      AS size,
      |    ('0x' || substr(md5('pps:' || o_custkey::VARCHAR), 1, 15))
      |      ::UBIGINT::BIGINT AS h
      |  FROM orders GROUP BY 1
      |  HAVING CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))))
      |    AS BIGINT) > 0),
      |cum AS (
      |  SELECT *,
      |    SUM(size) OVER (ORDER BY h, o_custkey) AS c,
      |    SUM(size) OVER () AS tt,
      |    ('0x' || substr(md5('pps:start'), 1, 15))::UBIGINT::BIGINT
      |      % 10000 AS u0
      |  FROM sz),
      |f AS (
      |  SELECT *,
      |    c * 500000 - u0 * tt AS a_c,
      |    (c - size) * 500000 - u0 * tt AS a_p,
      |    10000 * tt AS b
      |  FROM cum),
      |hits AS (
      |  SELECT *,
      |    (CASE WHEN a_c <= 0 THEN 0
      |          ELSE LEAST(50, (a_c + b - 1) // b) END)
      |    - (CASE WHEN a_p <= 0 THEN 0
      |            ELSE LEAST(50, (a_p + b - 1) // b) END) AS n_hits
      |  FROM f)
      |SELECT o_custkey AS custkey, size AS size_dollars,
      |  CAST(n_hits AS BIGINT) AS n_hits,
      |  ROUND(CAST(tt AS DOUBLE) / (50.0 * size), 6) AS ht_weight
      |FROM hits WHERE n_hits > 0 ORDER BY custkey""".stripMargin

  /** q_stat_permutation entry: PAIRED PERMUTATION (sign-flip) TEST —
    * the assumption-free alternative to the paired t-test (Fisher
    * 1935; the randomization test every experimentation platform
    * reaches for when normality is dubious): under H₀ the sign of each
    * paired difference is exchangeable, so the null distribution of
    * the mean difference is generated by flipping signs. Pairs here:
    * per-day click − error counts over the 30-day calendar; B = 200
    * resamples with pinned md5 sign flips (the [[Pii.dpHistQ]]
    * pinned-uniform discipline — replayable in CI, swap a CSPRNG in
    * production); p = (1 + #{b : |T_b| ≥ |T_obs|}) / (B + 1), the
    * add-one convention that keeps p > 0.
    *
    * Exactness: T_b and T_obs share the denominator (n days), so the
    * tail comparison reduces to |Σ ±d| ≥ |Σ d| on EXACT INTEGERS — the
    * whole test is bit-exact across engines, no FP tolerance anywhere
    * (the [[fisherExactQ]] property, achieved the same way: keep the
    * decision arithmetic integral).
    *
    * Scale shape: the corpus collapses to the calendar grid in one
    * combinable pass; the resample grid is B × days ≤ 6000 rows, and
    * each resample is a combinable integer sum. B scales horizontally
    * (rows = B × days, never corpus × B). */
  def permutationQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = t(s, dir, "events")
      .filter($"event_type".isin("click", "error"))
      .groupBy(to_date($"ts").as("day"))
      .agg(sum(when($"event_type" === "click", 1L).otherwise(-1L))
        .as("d"))
    val obs = days.agg(count(lit(1)).as("n_days"), sum($"d").as("t_obs"))
    val resamples = days
      .select($"day", $"d", explode(expr("sequence(1, 200)")).as("b"))
      .withColumn("sgn",
        when(Hashing.md5Long60(concat(lit("perm:"), $"b", lit(":"),
          $"day".cast("string"))) % 2 === 0, 1L).otherwise(-1L))
      .groupBy($"b").agg(sum($"sgn" * $"d").as("tb"))
    resamples.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("bb"),
        sum((abs($"tb") >= abs($"t_obs")).cast("long")).as("n_extreme"),
        max($"n_days").as("n_days"), max($"t_obs").as("t_sum"))
      .select($"n_days".cast("long").as("n_days"),
        round($"t_sum".cast("double") / $"n_days", 6).as("mean_diff"),
        $"bb".cast("long").as("n_resamples"),
        $"n_extreme".cast("long").as("n_extreme"),
        (($"n_extreme" + 1).cast("double") / ($"bb" + 1)).as("p_value"))
  }

  val permutationSql: String =
    """WITH days AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE -1 END) AS d
      |  FROM events WHERE event_type IN ('click', 'error')
      |  GROUP BY 1),
      |obs AS (SELECT COUNT(*) AS n_days, SUM(d) AS t_obs FROM days),
      |res AS (
      |  SELECT b.range AS b,
      |    SUM(CASE WHEN ('0x' || substr(md5('perm:' || b.range::VARCHAR
      |        || ':' || day::VARCHAR), 1, 15))::UBIGINT::BIGINT % 2 = 0
      |      THEN d ELSE -d END) AS tb
      |  FROM days, range(1, 201) b GROUP BY 1),
      |agg AS (
      |  SELECT COUNT(*) AS bb,
      |    SUM(CASE WHEN ABS(tb) >= ABS(o.t_obs) THEN 1 ELSE 0 END)
      |      AS n_extreme,
      |    MAX(o.n_days) AS n_days, MAX(o.t_obs) AS t_sum
      |  FROM res, obs o)
      |SELECT CAST(n_days AS BIGINT) AS n_days,
      |  ROUND(CAST(t_sum AS DOUBLE) / n_days, 6) AS mean_diff,
      |  CAST(bb AS BIGINT) AS n_resamples,
      |  CAST(n_extreme AS BIGINT) AS n_extreme,
      |  CAST(n_extreme + 1 AS DOUBLE) / (bb + 1) AS p_value
      |FROM agg""".stripMargin

  /** q_stat_yuen entry: YUEN'S TRIMMED-MEAN t-TEST (Yuen, Biometrika
    * 1974 — the robust two-sample comparison recommended by Wilcox's
    * robust-statistics program): compare 10%-trimmed means using
    * winsorized variances, with Yuen's effective degrees of freedom.
    * Where [[ttestQ]] is wrecked by heavy tails and [[mannWhitneyQ]]
    * changes the hypothesis to stochastic dominance, Yuen keeps "do
    * central locations differ" while bounding any single point's
    * influence — the robust A/B readout for skewed value metrics.
    *
    * Determinism/exactness: trim boundaries are exact order statistics
    * (row_number over (value, key)); group sums are exact integer
    * CENTS of winsorized values; means/variances/t are the same IEEE
    * expression shape on identical operands in both engines.
    *
    * Scale shape: one ranked window per group (shards by group), then
    * a combinable groupBy of winsorized sufficient statistics; the
    * scalar chain runs on the 2-row group frame. */
  def yuenQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val base = t(s, dir, "customer")
      .filter($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"))
      .select($"c_mktsegment".as("grp"), $"c_custkey",
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val w = Window.partitionBy($"grp").orderBy($"vc", $"c_custkey")
    val ranked = base
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"grp")))
      .withColumn("g", expr("n div 10"))
    // winsorize: clamp rank ≤ g to the (g+1)-th value, rank > n−g to
    // the (n−g)-th; trimmed rows are the strict interior
    val bounds = ranked
      .withColumn("lo_v", max(when($"rn" === $"g" + 1, $"vc"))
        .over(Window.partitionBy($"grp")))
      .withColumn("hi_v", max(when($"rn" === $"n" - $"g", $"vc"))
        .over(Window.partitionBy($"grp")))
      .withColumn("wv",
        when($"rn" <= $"g", $"lo_v")
          .when($"rn" > $"n" - $"g", $"hi_v")
          .otherwise($"vc"))
    val stats = bounds.groupBy($"grp").agg(
      max($"n").as("n"), max($"g").as("g"),
      sum(when($"rn" > $"g" && $"rn" <= $"n" - $"g", $"vc")
        .otherwise(0L)).as("ts"),
      sum($"wv").as("ws"),
      sum(($"wv" * $"wv").cast("decimal(38,0)")).as("ws2"))
      .withColumn("h", $"n" - lit(2) * $"g")
      .withColumn("tmean", $"ts".cast("double") / $"h" / lit(100.0))
      .withColumn("wvar",
        ($"n".cast("double") * $"ws2".cast("double")
          - $"ws".cast("double") * $"ws".cast("double"))
        / ($"n".cast("double") * ($"n" - lit(1)).cast("double"))
        / lit(10000.0))
      .withColumn("d",
        $"wvar" * ($"n" - lit(1)).cast("double")
          / ($"h".cast("double") * ($"h" - lit(1)).cast("double")))
    val wide = stats.filter($"grp" === "BUILDING")
      .select($"n".as("n1"), $"h".as("h1"), $"tmean".as("tm1"),
        $"wvar".as("wv1"), $"d".as("d1"))
      .crossJoin(broadcast(stats.filter($"grp" === "AUTOMOBILE")
        .select($"n".as("n2"), $"h".as("h2"), $"tmean".as("tm2"),
          $"wvar".as("wv2"), $"d".as("d2"))))
    wide.select(
      $"n1".cast("long").as("n_building"),
      $"n2".cast("long").as("n_automobile"),
      round($"tm1", 6).as("tmean_building"),
      round($"tm2", 6).as("tmean_automobile"),
      round(($"tm1" - $"tm2") / sqrt($"d1" + $"d2"), 6).as("t_yuen"),
      round(pow($"d1" + $"d2", 2)
        / (pow($"d1", 2) / ($"h1" - lit(1)).cast("double")
           + pow($"d2", 2) / ($"h2" - lit(1)).cast("double")), 6)
        .as("df_yuen"),
      (abs(($"tm1" - $"tm2") / sqrt($"d1" + $"d2")) > lit(1.959964))
        .as("significant_05"))
  }

  val yuenSql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS grp, c_custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY grp
      |      ORDER BY vc, c_custkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY grp) AS n,
      |    COUNT(*) OVER (PARTITION BY grp) // 10 AS g
      |  FROM base),
      |bounds AS (
      |  SELECT *,
      |    MAX(CASE WHEN rn = g + 1 THEN vc END)
      |      OVER (PARTITION BY grp) AS lo_v,
      |    MAX(CASE WHEN rn = n - g THEN vc END)
      |      OVER (PARTITION BY grp) AS hi_v
      |  FROM ranked),
      |wz AS (
      |  SELECT *, CASE WHEN rn <= g THEN lo_v
      |                 WHEN rn > n - g THEN hi_v
      |                 ELSE vc END AS wv
      |  FROM bounds),
      |stats AS (
      |  SELECT grp, MAX(n) AS n, MAX(g) AS g,
      |    SUM(CASE WHEN rn > g AND rn <= n - g THEN vc ELSE 0 END) AS ts,
      |    SUM(wv) AS ws,
      |    SUM(CAST(wv * wv AS DECIMAL(38,0))) AS ws2
      |  FROM wz GROUP BY 1),
      |ext AS (
      |  SELECT *, n - 2 * g AS h,
      |    CAST(ts AS DOUBLE) / (n - 2 * g) / 100.0 AS tmean,
      |    (CAST(n AS DOUBLE) * CAST(ws2 AS DOUBLE)
      |      - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0
      |      AS wvar
      |  FROM stats),
      |dd AS (
      |  SELECT *, wvar * CAST(n - 1 AS DOUBLE)
      |    / (CAST(h AS DOUBLE) * CAST(h - 1 AS DOUBLE)) AS d
      |  FROM ext),
      |wide AS (
      |  SELECT b.n AS n1, b.h AS h1, b.tmean AS tm1, b.d AS d1,
      |    a.n AS n2, a.h AS h2, a.tmean AS tm2, a.d AS d2
      |  FROM (SELECT * FROM dd WHERE grp = 'BUILDING') b,
      |       (SELECT * FROM dd WHERE grp = 'AUTOMOBILE') a)
      |SELECT CAST(n1 AS BIGINT) AS n_building,
      |  CAST(n2 AS BIGINT) AS n_automobile,
      |  ROUND(tm1, 6) AS tmean_building,
      |  ROUND(tm2, 6) AS tmean_automobile,
      |  ROUND((tm1 - tm2) / SQRT(d1 + d2), 6) AS t_yuen,
      |  ROUND(POW(d1 + d2, 2)
      |    / (POW(d1, 2) / CAST(h1 - 1 AS DOUBLE)
      |       + POW(d2, 2) / CAST(h2 - 1 AS DOUBLE)), 6) AS df_yuen,
      |  ABS((tm1 - tm2) / SQRT(d1 + d2)) > 1.959964 AS significant_05
      |FROM wide""".stripMargin

  /** q_ts_pacf entry: PARTIAL AUTOCORRELATION at lags 1–5 per hourly
    * series via the DURBIN–LEVINSON recursion (Box–Jenkins model
    * identification: the PACF cutting off after lag p IS the AR(p)
    * signature — the ACF alone can't separate direct dependence from
    * propagated dependence, which is the whole point of partialling).
    * φ₁₁ = ρ₁; then φ_kk = (ρ_k − Σφ_{k−1,j}ρ_{k−j}) / (1 − Σφ_{k−1,j}ρ_j)
    * and φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j}. Complements [[acfQ]]
    * (which reports raw ρ) and [[Stats ar2]]'s fixed-order Yule–Walker
    * fit with the order-SELECTION diagnostic.
    *
    * Exactness: ρ_k comes from exact integer sufficient statistics in
    * closed form (the [[acfQ]] idiom) and rounds to 9 dp BEFORE the
    * recursion, so both engines run Durbin–Levinson on identical
    * numbers; every recursion quantity re-rounds to 9 dp with
    * DECIMAL(38,12) term merges.
    *
    * Scale shape: the corpus collapses once to the calendar-dense
    * (series × hour) grid; the 5 lag-statistic passes are windows over
    * that bounded grid; the recursion runs on ≤ series × 5 rows
    * (checkpointed per step — the frames are tiny but each step
    * branches on the previous one, the [[graft.ops.Pca.spectrumQ]]
    * lineage lesson). */
  def pacfQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    val dense = TimeSeries.denseCounts(t(s, dir, "events"), "hour")
    // r15 (guide §2.4 — remove shuffles outright): the five lag
    // windows share one spec, so ALL five lag columns ride ONE window
    // node; the whole-frame stats (tt/sx/sxx) fold into the SAME
    // per-series aggregate (the window's hash partitioning already
    // satisfies the groupBy distribution — zero extra exchange); and
    // because the ≤5-lag Durbin–Levinson recursion then lives on a
    // ONE-ROW-PER-SERIES frame, it unrolls into straight column
    // arithmetic — no per-step joins, no checkpoints (the 42-Exchange,
    // ~30-job plan this replaces). Every numeric chain is copied
    // verbatim from the stepwise form: ρ_k's xbar/c0/ck expressions,
    // the round(·,12) DECIMAL term merges (decimal(25,12): ≤4-term
    // chains stay exact within precision), and the round(·,9) at each
    // recursion quantity — so both engines still run Durbin–Levinson
    // on identical numbers.
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    var lagged = dense
    (1 to 5).foreach { k =>
      lagged = lagged.withColumn(s"y$k", lag($"x", k).over(w))
    }
    val lagAggs =
      Seq(count(lit(1)).as("tt"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx")) ++
      (1 to 5).flatMap { k =>
        Seq(sum(when(col(s"y$k").isNotNull, 1L)).as(s"nk$k"),
          sum($"x" * col(s"y$k")).as(s"sxy$k"),
          sum(when(col(s"y$k").isNotNull, $"x")).as(s"sxl$k"),
          sum(col(s"y$k")).as(s"slx$k"))
      }
    var g = lagged.groupBy($"event_type")
      .agg(lagAggs.head, lagAggs.tail: _*)
      .withColumn("xbar", $"sx".cast("double") / $"tt")
      .withColumn("c0",
        $"sxx".cast("double") - $"sx".cast("double") * $"xbar")
    (1 to 5).foreach { k =>
      val ck = col(s"sxy$k").cast("double") -
        $"xbar" * (col(s"sxl$k") + col(s"slx$k")).cast("double") +
        col(s"nk$k").cast("double") * $"xbar" * $"xbar"
      g = g.withColumn(s"rho$k", round(ck / $"c0", 9))
    }
    // unrolled recursion, one NAMED column per φ_{k,j}: composing raw
    // Column trees duplicated every prior level's subtree (≈2^k nodes
    // — measured 1.3 s of pure planning/codegen); named columns keep
    // each level's expression referencing attributes, and Catalyst's
    // CollapseProject declines to inline multi-referenced non-cheap
    // aliases, so the optimized plan stays linear in k.
    def dsum(terms: Seq[Column]): Column =
      terms.map(t => round(t, 12).cast("decimal(25,12)"))
        .reduce(_ + _).cast("double")
    def ph(k: Int, j: Int) = col(s"__phi_${k}_$j")
    g = g.withColumn("__phi_1_1", $"rho1")
    for (k <- 2 to 5) {
      val numS = dsum((1 until k).map(j => ph(k - 1, j) * col(s"rho${k - j}")))
      val denS = dsum((1 until k).map(j => ph(k - 1, j) * col(s"rho$j")))
      g = g.withColumn(s"__phi_${k}_$k",
        round((col(s"rho$k") - numS) / (lit(1.0) - denS), 9))
      for (j <- 1 until k)
        g = g.withColumn(s"__phi_${k}_$j",
          round(ph(k - 1, j) - ph(k, k) * ph(k - 1, k - j), 9))
    }
    (1 to 5).foreach { k => g = g.withColumn(s"pacf$k", ph(k, k)) }
    g.select($"event_type", explode(array((1 to 5).map(k =>
        struct(lit(k).cast("long").as("lag"), col(s"rho$k").as("acf"),
          col(s"pacf$k").as("pacf"))): _*)).as("e"))
      .select($"event_type", $"e.lag".as("lag"), $"e.acf".as("acf"),
        $"e.pacf".as("pacf"))
      .orderBy($"event_type", $"lag")
  }

  val pacfSql: String = {
    def ls(k: Int): String =
      s"""  SELECT event_type, $k AS k, COUNT(*) AS nk, SUM(x * y) AS sxy,
         |    SUM(x) AS sxl, SUM(y) AS slx
         |  FROM (
         |    SELECT event_type, x,
         |      lag(x, $k) OVER (PARTITION BY event_type ORDER BY hour) AS y
         |    FROM dense) WHERE y IS NOT NULL GROUP BY event_type"""
        .stripMargin
    def step(k: Int, pPrev: String): String =
      s"""s$k AS (
         |  SELECT p.event_type,
         |    CAST(SUM(CAST(ROUND(p.v * rn.rho, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS num_s,
         |    CAST(SUM(CAST(ROUND(p.v * rj.rho, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS den_s
         |  FROM $pPrev p
         |  JOIN rho rn ON rn.event_type = p.event_type AND rn.k = $k - p.j
         |  JOIN rho rj ON rj.event_type = p.event_type AND rj.k = p.j
         |  GROUP BY 1),
         |h$k AS (
         |  SELECT s.event_type,
         |    ROUND((r.rho - s.num_s) / (1.0 - s.den_s), 9) AS head
         |  FROM s$k s JOIN rho r ON r.event_type = s.event_type
         |    AND r.k = $k),
         |p$k AS (
         |  SELECT p.event_type, p.j, ROUND(p.v - h.head * m.v, 9) AS v
         |  FROM $pPrev p
         |  JOIN $pPrev m ON m.event_type = p.event_type AND m.j = $k - p.j
         |  JOIN h$k h ON h.event_type = p.event_type
         |  UNION ALL
         |  SELECT event_type, $k, head FROM h$k)""".stripMargin
    s"""WITH grid AS (
       |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
       |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
       |hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |series AS (SELECT DISTINCT event_type FROM events),
       |dense AS (
       |  SELECT s.event_type, g.hour, COALESCE(h.cnt, 0) AS x
       |  FROM grid g CROSS JOIN series s
       |  LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = s.event_type),
       |gstats AS (
       |  SELECT event_type, COUNT(*) AS tt, SUM(x) AS sx,
       |    SUM(x * x) AS sxx
       |  FROM dense GROUP BY 1),
       |lagstats AS (
       |${(1 to 5).map(ls).mkString("\n  UNION ALL\n")}),
       |rho AS (
       |  SELECT l.event_type, l.k,
       |    ROUND((CAST(l.sxy AS DOUBLE)
       |        - (CAST(g.sx AS DOUBLE) / g.tt)
       |          * CAST(l.sxl + l.slx AS DOUBLE)
       |        + CAST(l.nk AS DOUBLE) * (CAST(g.sx AS DOUBLE) / g.tt)
       |          * (CAST(g.sx AS DOUBLE) / g.tt))
       |      / (CAST(g.sxx AS DOUBLE)
       |        - CAST(g.sx AS DOUBLE) * (CAST(g.sx AS DOUBLE) / g.tt)),
       |      9) AS rho
       |  FROM lagstats l JOIN gstats g ON l.event_type = g.event_type),
       |p1 AS (SELECT event_type, 1 AS j, rho AS v FROM rho WHERE k = 1),
       |h1 AS (SELECT event_type, rho AS head FROM rho WHERE k = 1),
       |${step(2, "p1")},
       |${step(3, "p2")},
       |${step(4, "p3")},
       |${step(5, "p4")},
       |heads AS (
       |  SELECT event_type, 1 AS lag, head AS pacf FROM h1
       |  UNION ALL SELECT event_type, 2, head FROM h2
       |  UNION ALL SELECT event_type, 3, head FROM h3
       |  UNION ALL SELECT event_type, 4, head FROM h4
       |  UNION ALL SELECT event_type, 5, head FROM h5)
       |SELECT h.event_type, CAST(h.lag AS BIGINT) AS lag,
       |  r.rho AS acf, h.pacf
       |FROM heads h JOIN rho r
       |  ON r.event_type = h.event_type AND r.k = h.lag
       |ORDER BY h.event_type, h.lag""".stripMargin
  }

  /** q_stat_did entry: DIFFERENCE-IN-DIFFERENCES — the workhorse
    * quasi-experimental estimator (Card & Krueger 1994 canonically;
    * every staged rollout that can't randomize): with arm = pinned md5
    * user split and period = Jan 1–15 vs 16–30, the effect estimate is
    * (T,post − T,pre) − (C,post − C,pre), which cancels both the fixed
    * arm difference and the common time trend — the two confounders a
    * naive post-period comparison absorbs. The z-statistic uses the
    * four cells' user-level variances (unpaired form; the panel is
    * balanced by construction so this is conservative). [[cupedQ]]'s
    * sibling: CUPED reduces variance WITHIN a randomized experiment,
    * DiD removes bias when assignment isn't random over time.
    *
    * Scale shape: ONE combinable per-user rollup (the only corpus
    * exchange), then the four cells are conditional sums on the user
    * frame and the estimator is scalar arithmetic on a 1-row frame.
    *
    * Exactness: integer cents throughout; cell means/variances from
    * exact decimal sums; single IEEE divisions. */
  def didQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val users = t(s, dir, "events")
      .select($"user_id", $"ts",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy($"user_id")
      .agg(sum(when($"ts" < lit("2024-01-16").cast("timestamp"), $"vc")
          .otherwise(0L)).as("pre"),
        sum(when($"ts" >= lit("2024-01-16").cast("timestamp"), $"vc")
          .otherwise(0L)).as("post"))
      .withColumn("arm", Hashing.md5Bucket($"user_id".cast("string"), 2))
    def cell(armV: Int, c: String, nm: String): Seq[Column] = Seq(
      sum(when($"arm" === armV, 1L).otherwise(0L)).as(s"n_$nm"),
      sum(when($"arm" === armV, col(c)).otherwise(0L)).as(s"s_$nm"),
      sum(when($"arm" === armV,
          col(c).cast("decimal(19,0)") * col(c).cast("decimal(19,0)"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as(s"q_$nm"))
    val allCells = cell(0, "pre", "c_pre") ++ cell(0, "post", "c_post") ++
      cell(1, "pre", "t_pre") ++ cell(1, "post", "t_post")
    val cells = users.agg(allCells.head, allCells.tail: _*)
    def mean(nm: String): Column =
      col(s"s_$nm").cast("double") / col(s"n_$nm") / lit(100.0)
    def varOf(nm: String): Column =
      (col(s"n_$nm").cast("double") * col(s"q_$nm").cast("double")
        - col(s"s_$nm").cast("double") * col(s"s_$nm").cast("double")) /
        (col(s"n_$nm").cast("double")
          * (col(s"n_$nm") - lit(1)).cast("double")) / lit(10000.0)
    val did = (mean("t_post") - mean("t_pre")) -
      (mean("c_post") - mean("c_pre"))
    val se = sqrt(
      varOf("t_post") / col("n_t_post") + varOf("t_pre") / col("n_t_pre")
        + varOf("c_post") / col("n_c_post")
        + varOf("c_pre") / col("n_c_pre"))
    cells.select(
      col("n_c_pre").cast("long").as("n_control"),
      col("n_t_pre").cast("long").as("n_treat"),
      round(mean("c_pre"), 6).as("mean_c_pre"),
      round(mean("c_post"), 6).as("mean_c_post"),
      round(mean("t_pre"), 6).as("mean_t_pre"),
      round(mean("t_post"), 6).as("mean_t_post"),
      round(did, 6).as("did"),
      round(did / se, 6).as("z"),
      (abs(did / se) > lit(1.959964)).as("significant_05"))
  }

  val didSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS pre,
      |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
      |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS post,
      |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
      |      ::UBIGINT::BIGINT % 2 AS arm
      |  FROM events GROUP BY user_id),
      |cells AS (
      |  SELECT
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_c,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_t,
      |    SUM(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS s_c_pre,
      |    SUM(CASE WHEN arm = 0 THEN post ELSE 0 END) AS s_c_post,
      |    SUM(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS s_t_pre,
      |    SUM(CASE WHEN arm = 1 THEN post ELSE 0 END) AS s_t_post,
      |    SUM(CASE WHEN arm = 0
      |      THEN CAST(pre AS DECIMAL(19,0)) * CAST(pre AS DECIMAL(19,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_c_pre,
      |    SUM(CASE WHEN arm = 0
      |      THEN CAST(post AS DECIMAL(19,0)) * CAST(post AS DECIMAL(19,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_c_post,
      |    SUM(CASE WHEN arm = 1
      |      THEN CAST(pre AS DECIMAL(19,0)) * CAST(pre AS DECIMAL(19,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_t_pre,
      |    SUM(CASE WHEN arm = 1
      |      THEN CAST(post AS DECIMAL(19,0)) * CAST(post AS DECIMAL(19,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_t_post
      |  FROM u),
      |m AS (
      |  SELECT *,
      |    CAST(s_c_pre AS DOUBLE) / n_c / 100.0 AS m_c_pre,
      |    CAST(s_c_post AS DOUBLE) / n_c / 100.0 AS m_c_post,
      |    CAST(s_t_pre AS DOUBLE) / n_t / 100.0 AS m_t_pre,
      |    CAST(s_t_post AS DOUBLE) / n_t / 100.0 AS m_t_post,
      |    (CAST(n_c AS DOUBLE) * CAST(q_c_pre AS DOUBLE)
      |      - CAST(s_c_pre AS DOUBLE) * CAST(s_c_pre AS DOUBLE))
      |      / (CAST(n_c AS DOUBLE) * CAST(n_c - 1 AS DOUBLE)) / 10000.0
      |      AS v_c_pre,
      |    (CAST(n_c AS DOUBLE) * CAST(q_c_post AS DOUBLE)
      |      - CAST(s_c_post AS DOUBLE) * CAST(s_c_post AS DOUBLE))
      |      / (CAST(n_c AS DOUBLE) * CAST(n_c - 1 AS DOUBLE)) / 10000.0
      |      AS v_c_post,
      |    (CAST(n_t AS DOUBLE) * CAST(q_t_pre AS DOUBLE)
      |      - CAST(s_t_pre AS DOUBLE) * CAST(s_t_pre AS DOUBLE))
      |      / (CAST(n_t AS DOUBLE) * CAST(n_t - 1 AS DOUBLE)) / 10000.0
      |      AS v_t_pre,
      |    (CAST(n_t AS DOUBLE) * CAST(q_t_post AS DOUBLE)
      |      - CAST(s_t_post AS DOUBLE) * CAST(s_t_post AS DOUBLE))
      |      / (CAST(n_t AS DOUBLE) * CAST(n_t - 1 AS DOUBLE)) / 10000.0
      |      AS v_t_post
      |  FROM cells),
      |e AS (
      |  SELECT *,
      |    (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
      |    SQRT(v_t_post / n_t + v_t_pre / n_t
      |       + v_c_post / n_c + v_c_pre / n_c) AS se
      |  FROM m)
      |SELECT CAST(n_c AS BIGINT) AS n_control,
      |  CAST(n_t AS BIGINT) AS n_treat,
      |  ROUND(m_c_pre, 6) AS mean_c_pre,
      |  ROUND(m_c_post, 6) AS mean_c_post,
      |  ROUND(m_t_pre, 6) AS mean_t_pre,
      |  ROUND(m_t_post, 6) AS mean_t_post,
      |  ROUND(did, 6) AS did,
      |  ROUND(did / se, 6) AS z,
      |  ABS(did / se) > 1.959964 AS significant_05
      |FROM e""".stripMargin

  /** q_stat_cmh entry: COCHRAN–MANTEL–HAENSZEL pooled odds ratio +
    * continuity-corrected χ² across nation-stratified 2×2 tables
    * (Mantel & Haenszel 1959 — the stratified-association workhorse:
    * pool the segment × high-balance association ACROSS nations
    * without letting nation mix be a confounder). The odds-ratio
    * pooling complement of [[standardizeQ]]'s risk-difference
    * weighting; strata too small to inform (n < 2) drop out of the
    * variance term naturally via the n−1 denominator guard.
    *
    * Scale: ONE combinable groupBy to the 25-stratum cell grid; the
    * estimator is decimal-merged arithmetic on that grid. Per-stratum
    * terms are exact-integer products in double (all < 2⁵³), rounded
    * to 9 dp into DECIMAL(28,9) merges. */
  def cmhQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = t(s, dir, "customer")
      .filter($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"))
      .groupBy($"c_nationkey")
      .agg(
        sum(when($"c_mktsegment" === "BUILDING" && $"c_acctbal" > 5000.0,
          1L).otherwise(0L)).as("a"),
        sum(when($"c_mktsegment" === "BUILDING" && $"c_acctbal" <= 5000.0,
          1L).otherwise(0L)).as("b"),
        sum(when($"c_mktsegment" === "AUTOMOBILE" && $"c_acctbal" > 5000.0,
          1L).otherwise(0L)).as("c"),
        sum(when($"c_mktsegment" === "AUTOMOBILE" && $"c_acctbal" <= 5000.0,
          1L).otherwise(0L)).as("d"))
      .withColumn("n", $"a" + $"b" + $"c" + $"d")
      .filter($"n" >= 2)
    def dsum(c: Column) =
      sum(round(c, 9).cast("decimal(28,9)")).cast("double")
    val agg = cells.agg(
      count(lit(1)).as("n_strata"),
      sum($"a").as("sa"),
      // cell products in DOUBLE: a·d and the 4-way margin product are
      // row-scale, so the int64 products wrap past ~3·10⁹ per stratum
      // (q_stat_ad class); every factor is exact below 2⁵³ and both
      // engines multiply in the same left-to-right IEEE order
      dsum($"a".cast("double") * $"d" / $"n").as("s_ad"),
      dsum($"b".cast("double") * $"c" / $"n").as("s_bc"),
      dsum(($"a" + $"b").cast("double") * ($"a" + $"c") / $"n").as("s_e"),
      dsum(($"a" + $"b").cast("double") * ($"c" + $"d") * ($"a" + $"c")
        * ($"b" + $"d")
        / ($"n".cast("double") * $"n".cast("double")
          * ($"n" - lit(1)).cast("double"))).as("s_v"))
    agg.select($"n_strata".cast("long").as("n_strata"),
      $"sa".cast("long").as("sum_a"),
      round($"s_ad" / $"s_bc", 6).as("or_mh"),
      round(pow(abs($"sa" - $"s_e") - lit(0.5), 2) / $"s_v", 6)
        .as("chi2_cmh"),
      (pow(abs($"sa" - $"s_e") - lit(0.5), 2) / $"s_v" > lit(3.841459))
        .as("significant_05"))
  }

  val cmhSql: String =
    """WITH cells AS (
      |  SELECT c_nationkey,
      |    SUM(CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 5000.0
      |      THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal <= 5000.0
      |      THEN 1 ELSE 0 END) AS b,
      |    SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 5000.0
      |      THEN 1 ELSE 0 END) AS c,
      |    SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' AND c_acctbal <= 5000.0
      |      THEN 1 ELSE 0 END) AS d
      |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      |  GROUP BY 1),
      |k AS (SELECT *, a + b + c + d AS n FROM cells
      |  WHERE a + b + c + d >= 2),
      |agg AS (
      |  SELECT COUNT(*) AS n_strata, SUM(a) AS sa,
      |    CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * d / n, 9)
      |      AS DECIMAL(28,9))) AS DOUBLE) AS s_ad,
      |    CAST(SUM(CAST(ROUND(CAST(b AS DOUBLE) * c / n, 9)
      |      AS DECIMAL(28,9))) AS DOUBLE) AS s_bc,
      |    CAST(SUM(CAST(ROUND(CAST(a + b AS DOUBLE) * (a + c) / n, 9)
      |      AS DECIMAL(28,9))) AS DOUBLE) AS s_e,
      |    CAST(SUM(CAST(ROUND(CAST(a + b AS DOUBLE) * (c + d) * (a + c)
      |      * (b + d)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |         * CAST(n - 1 AS DOUBLE)), 9) AS DECIMAL(28,9)))
      |      AS DOUBLE) AS s_v
      |  FROM k)
      |SELECT CAST(n_strata AS BIGINT) AS n_strata,
      |  CAST(sa AS BIGINT) AS sum_a,
      |  ROUND(s_ad / s_bc, 6) AS or_mh,
      |  ROUND(POW(ABS(sa - s_e) - 0.5, 2) / s_v, 6) AS chi2_cmh,
      |  POW(ABS(sa - s_e) - 0.5, 2) / s_v > 3.841459 AS significant_05
      |FROM agg""".stripMargin

  /** q_stat_welch_anova entry: WELCH'S HETEROSCEDASTIC ANOVA over the
    * five market segments' account balances (Welch 1951) — the k-group
    * location test that does NOT assume equal variances, which the
    * classical F of [[anovaQ]] does; when group variances differ by
    * 2–3× the classical F's size error is material and Welch's F* with
    * Satterthwaite-style df is the recommended default (Delacre et
    * al. 2019). Weights wᵢ = nᵢ/s²ᵢ; F* = Σwᵢ(mᵢ−x̄w)²/(k−1) over
    * 1 + 2(k−2)/(k²−1)·Λ, df₂ = (k²−1)/(3Λ),
    * Λ = Σ(1−wᵢ/W)²/(nᵢ−1).
    *
    * Scale: one combinable groupBy to k=5 sufficient-statistic rows;
    * the scalar chain runs on that frame with 9-dp decimal merges
    * for every cross-group sum. Cents-exact inputs. */
  def welchAnovaQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val g = t(s, dir, "customer")
      .select($"c_mktsegment".as("grp"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"vc").as("sv"),
        sum(($"vc" * $"vc").cast("decimal(38,0)")).as("sq"))
      .withColumn("m", $"sv".cast("double") / $"n" / lit(100.0))
      .withColumn("s2",
        ($"n".cast("double") * $"sq".cast("double")
          - $"sv".cast("double") * $"sv".cast("double"))
        / ($"n".cast("double") * ($"n" - lit(1)).cast("double"))
        / lit(10000.0))
      .withColumn("w", $"n".cast("double") / $"s2")
    val wAll = Window.partitionBy(lit(0))
    def dsum(c: Column) =
      sum(round(c, 9).cast("decimal(28,9)")).over(wAll).cast("double")
    val withW = g
      .withColumn("bw", dsum($"w"))
      .withColumn("xw", dsum($"w" * $"m") / $"bw")
      .withColumn("k", count(lit(1)).over(wAll))
    val fin = withW
      .withColumn("num_t", round($"w" * ($"m" - $"xw") * ($"m" - $"xw"), 9)
        .cast("decimal(28,9)"))
      .withColumn("lam_t",
        round(($"bw" - $"w") * ($"bw" - $"w")
          / ($"bw" * $"bw" * ($"n" - lit(1)).cast("double")), 9)
        .cast("decimal(28,9)"))
      .withColumn("num", sum($"num_t").over(wAll).cast("double"))
      .withColumn("lam", sum($"lam_t").over(wAll).cast("double"))
      .limit(1)
    fin.select($"k".cast("long").as("k_groups"),
        round($"num" / ($"k" - lit(1)).cast("double")
          / (lit(1.0) + lit(2.0) * ($"k" - lit(2)).cast("double")
            / (($"k" * $"k" - lit(1)).cast("double")) * $"lam"), 6)
          .as("f_welch"),
        round(($"k" * $"k" - lit(1)).cast("double") / (lit(3.0) * $"lam"),
          6).as("df2"))
  }

  val welchAnovaSql: String =
    """WITH g AS (
      |  SELECT c_mktsegment AS grp, COUNT(*) AS n,
      |    SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sv,
      |    SUM(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS DECIMAL(38,0))) AS sq
      |  FROM customer GROUP BY 1),
      |e AS (
      |  SELECT *,
      |    CAST(sv AS DOUBLE) / n / 100.0 AS m,
      |    (CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
      |      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0 AS s2
      |  FROM g),
      |w AS (SELECT *, CAST(n AS DOUBLE) / s2 AS w FROM e),
      |t1 AS (
      |  SELECT *,
      |    CAST(SUM(CAST(ROUND(w, 9) AS DECIMAL(28,9))) OVER ()
      |      AS DOUBLE) AS bw,
      |    COUNT(*) OVER () AS k
      |  FROM w),
      |t2 AS (
      |  SELECT *,
      |    CAST(SUM(CAST(ROUND(w * m, 9) AS DECIMAL(28,9))) OVER ()
      |      AS DOUBLE) / bw AS xw
      |  FROM t1),
      |t3 AS (
      |  SELECT *,
      |    CAST(SUM(CAST(ROUND(w * (m - xw) * (m - xw), 9)
      |      AS DECIMAL(28,9))) OVER () AS DOUBLE) AS num,
      |    CAST(SUM(CAST(ROUND((bw - w) * (bw - w)
      |      / (bw * bw * CAST(n - 1 AS DOUBLE)), 9)
      |      AS DECIMAL(28,9))) OVER () AS DOUBLE) AS lam
      |  FROM t2)
      |SELECT CAST(k AS BIGINT) AS k_groups,
      |  ROUND(num / CAST(k - 1 AS DOUBLE)
      |    / (1.0 + 2.0 * CAST(k - 2 AS DOUBLE)
      |      / CAST(k * k - 1 AS DOUBLE) * lam), 6) AS f_welch,
      |  ROUND(CAST(k * k - 1 AS DOUBLE) / (3.0 * lam), 6) AS df2
      |FROM t3 LIMIT 1""".stripMargin

  /** q_stat_hodges_lehmann entry: the HODGES–LEHMANN two-sample shift
    * estimator — the median of all cross-pair differences xᵢ − yⱼ
    * (Hodges & Lehmann 1963), the location estimate that goes with
    * [[mannWhitneyQ]]'s test: robust (25% breakdown), and unlike the
    * difference of medians it estimates the SHIFT directly. Panels are
    * the 60 smallest-md5 click and view event values (the fixed-SIZE
    * audit-panel idiom), so the 3 600-pair grid is bounded by design —
    * the estimator a dashboard quotes next to the U test's p-value.
    *
    * Exactness: values are integer cents, differences exact integers,
    * the median an explicit order statistic (lower middle at even
    * counts, documented) — zero FP until the display division. */
  def hodgesLehmannQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Panel selection is a distributed TOP-K (TakeOrderedAndProject:
    // per-partition heads merged on the driver — no global sort, no
    // SinglePartition window), not a full rank-then-filter.
    def panel(tp: String): DataFrame = t(s, dir, "events")
      .filter($"event_type" === tp)
      .select($"event_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .orderBy(Hashing.md5Long60(concat(lit(s"hl:$tp:"),
        $"event_id".cast("string"))), $"event_id")
      .limit(60)
    val diffs = panel("click").select($"vc".as("x"), $"event_id".as("ei"))
      .crossJoin(panel("view").select($"vc".as("y"), $"event_id".as("ej")))
      .select(($"x" - $"y").as("dc"), $"ei", $"ej")
    // The 3 600-pair grid is bounded by construction, but the median
    // rank still routes through [[Rank.orderedPrefix]] so the whole
    // operator is SinglePartition-free (and unchanged if the panel
    // sizes are ever widened).
    Rank.orderedPrefix(diffs, order = Seq($"dc", $"ei", $"ej"),
        rnOut = Some("rn"), countOut = Some("nn"))
      .filter($"rn" === expr("(nn + 1) div 2"))
      .select($"nn".cast("long").as("n_pairs"),
        ($"dc".cast("double") / lit(100.0)).as("hl_shift"))
  }

  val hodgesLehmannSql: String =
    """WITH cp AS (
      |  SELECT vc, event_id FROM (
      |    SELECT event_id,
      |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
      |      row_number() OVER (ORDER BY ('0x' || substr(md5('hl:click:'
      |        || event_id::VARCHAR), 1, 15))::UBIGINT::BIGINT, event_id)
      |        AS rn
      |    FROM events WHERE event_type = 'click') WHERE rn <= 60),
      |vp AS (
      |  SELECT vc, event_id FROM (
      |    SELECT event_id,
      |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
      |      row_number() OVER (ORDER BY ('0x' || substr(md5('hl:view:'
      |        || event_id::VARCHAR), 1, 15))::UBIGINT::BIGINT, event_id)
      |        AS rn
      |    FROM events WHERE event_type = 'view') WHERE rn <= 60),
      |diffs AS (
      |  SELECT c.vc - v.vc AS dc, c.event_id AS ei, v.event_id AS ej
      |  FROM cp c CROSS JOIN vp v),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY dc, ei, ej) AS rn,
      |    COUNT(*) OVER () AS nn
      |  FROM diffs)
      |SELECT CAST(nn AS BIGINT) AS n_pairs,
      |  CAST(dc AS DOUBLE) / 100.0 AS hl_shift
      |FROM rk WHERE rn = (nn + 1) // 2""".stripMargin

  /** q_stat_cronbach entry: CRONBACH'S ALPHA internal-consistency
    * coefficient (Cronbach 1951) — treat each user's five per-type
    * event counts as a 5-item instrument and ask whether the items
    * measure one underlying trait (activity): α = k/(k−1) ·
    * (1 − Σᵢvar(itemᵢ)/var(total)). The label-pipeline use is rater/
    * probe batteries: a quality-score panel with low α is measuring
    * several different things. Homogeneous synthetic users ⇒ α near
    * its independent-items level — the output is the honest readout
    * either way.
    *
    * Exactness: items are exact integer counts; all variances come
    * from exact integer sufficient statistics (per-item and total
    * sums/squares) in shared IEEE shapes; the per-item variance sum
    * merges as 9-dp DECIMAL. One combinable per-user pivot + one
    * global aggregate — two scan-speed passes at any scale. */
  def cronbachQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val items = t(s, dir, "events")
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L)
    val withTotal = items.withColumn("total",
      types.map(col).reduce(_ + _))
    def varCols(c: String) = Seq(
      sum(col(c)).as(s"s_$c"),
      // decimal BEFORE the square: a per-user count is activity-scale,
      // so the int64 square wraps past 3·10⁹ (q_stat_ad class)
      sum(col(c).cast("decimal(19,0)") * col(c)).as(s"q_$c"))
    val aggCols = count(lit(1)).as("n") +:
      (types :+ "total").flatMap(varCols)
    val agg = withTotal.agg(aggCols.head, aggCols.tail: _*)
    def varOf(c: String): Column =
      ($"n".cast("double") * col(s"q_$c").cast("double")
        - col(s"s_$c").cast("double") * col(s"s_$c").cast("double")) /
        ($"n".cast("double") * ($"n" - lit(1)).cast("double"))
    // a FIXED five-term written-order chain, identical text in the
    // oracle — plain doubles keep the output region decimal-free for
    // tools.Lint (this is shape-sharing, not order-independence: the
    // term count is the item count, never data-dependent)
    val sumItemVar = types.map(varOf).reduce(_ + _)
    agg.select($"n".cast("long").as("n_users"),
      lit(types.size.toLong).as("k_items"),
      round(sumItemVar, 6).as("sum_item_var"),
      round(varOf("total"), 6).as("var_total"),
      round(lit(types.size.toDouble / (types.size - 1))
        * (lit(1.0) - sumItemVar / varOf("total")), 6).as("alpha"))
  }

  val cronbachSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivots = types.map(t =>
      s"SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS $t")
      .mkString(",\n      |    ")
    def stats(c: String) =
      s"""SUM($c) AS s_$c,
         |    SUM(CAST($c * $c AS DECIMAL(38,0))) AS q_$c""".stripMargin
    def varOf(c: String) =
      s"""(CAST(n AS DOUBLE) * CAST(q_$c AS DOUBLE)
         |      - CAST(s_$c AS DOUBLE) * CAST(s_$c AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))""".stripMargin
    val sumItemVar = types.map(t => s"(${varOf(t)})")
      .mkString("\n      + ")
    s"""WITH items AS (
      |  SELECT user_id,
      |    $pivots
      |  FROM events GROUP BY 1),
      |wt AS (SELECT *, ${types.mkString(" + ")} AS total FROM items),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |    ${(types :+ "total").map(stats).mkString(",\n      |    ")}
      |  FROM wt),
      |f AS (
      |  SELECT n,
      |    $sumItemVar AS siv,
      |    ${varOf("total")} AS vt
      |  FROM agg)
      |SELECT CAST(n AS BIGINT) AS n_users,
      |  CAST(${types.size} AS BIGINT) AS k_items,
      |  ROUND(siv, 6) AS sum_item_var,
      |  ROUND(vt, 6) AS var_total,
      |  ROUND(${types.size}.0 / ${types.size - 1} * (1.0 - siv / vt), 6)
      |    AS alpha
      |FROM f""".stripMargin
  }

  /** q_stat_icc entry: INTRACLASS CORRELATION ICC(1,1) — one-way
    * random-effects variance decomposition over users (Shrout & Fleiss
    * 1979; Searle's unbalanced k₀): how much of event-value variance
    * is BETWEEN users vs within them — the reliability/clustering
    * readout that decides whether per-user modeling is worth anything
    * and what a clustered design's effective sample size is (and the
    * design-effect input the [[jackknifeQ]] PSU choice relies on).
    * MSB/MSW from exact sufficient statistics;
    * k₀ = (N − Σnᵢ²/N)/(G−1) handles unbalanced users.
    *
    * Scale: one combinable per-user rollup; the decomposition is
    * arithmetic on a 1-row frame with 9-dp decimal merges for the
    * across-user sums. */
  def iccQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = t(s, dir, "events")
      .select($"user_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("ni"), sum($"vc").as("si"),
        sum(($"vc" * $"vc").cast("decimal(38,0)")).as("qi"))
    val agg = per.agg(
      count(lit(1)).as("g"), sum($"ni").as("nn"),
      sum($"si").as("ss"), sum($"qi").as("qq"),
      sum(round($"si".cast("double") * $"si".cast("double")
        / $"ni".cast("double"), 9).cast("decimal(38,9)"))
        .cast("double").as("ssn"),
      sum($"ni" * $"ni").as("sn2"))
    agg
      .withColumn("ssb", $"ssn" - $"ss".cast("double")
        * $"ss".cast("double") / $"nn".cast("double"))
      .withColumn("ssw", $"qq".cast("double") - $"ssn")
      .withColumn("msb", $"ssb" / ($"g" - lit(1)).cast("double"))
      .withColumn("msw", $"ssw" / ($"nn" - $"g").cast("double"))
      .withColumn("k0", ($"nn".cast("double")
        - $"sn2".cast("double") / $"nn".cast("double"))
        / ($"g" - lit(1)).cast("double"))
      .select($"g".cast("long").as("n_users"),
        $"nn".cast("long").as("n_events"),
        round($"msb" / lit(10000.0), 6).as("msb"),
        round($"msw" / lit(10000.0), 6).as("msw"),
        round($"k0", 6).as("k0"),
        round(($"msb" - $"msw")
          / ($"msb" + ($"k0" - lit(1.0)) * $"msw"), 6).as("icc"))
  }

  val iccSql: String =
    """WITH per AS (
      |  SELECT user_id, COUNT(*) AS ni,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS si,
      |    SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS DECIMAL(38,0))) AS qi
      |  FROM events GROUP BY 1),
      |agg AS (
      |  SELECT COUNT(*) AS g, SUM(ni) AS nn, SUM(si) AS ss,
      |    SUM(qi) AS qq,
      |    CAST(SUM(CAST(ROUND(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
      |      / CAST(ni AS DOUBLE), 9) AS DECIMAL(38,9))) AS DOUBLE)
      |      AS ssn,
      |    SUM(ni * ni) AS sn2
      |  FROM per),
      |d AS (
      |  SELECT *,
      |    ssn - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
      |      / CAST(nn AS DOUBLE) AS ssb,
      |    CAST(qq AS DOUBLE) - ssn AS ssw,
      |    (CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE))
      |      / CAST(g - 1 AS DOUBLE) AS k0
      |  FROM agg),
      |m AS (
      |  SELECT *, ssb / CAST(g - 1 AS DOUBLE) AS msb,
      |    ssw / CAST(nn - g AS DOUBLE) AS msw
      |  FROM d)
      |SELECT CAST(g AS BIGINT) AS n_users, CAST(nn AS BIGINT) AS n_events,
      |  ROUND(msb / 10000.0, 6) AS msb,
      |  ROUND(msw / 10000.0, 6) AS msw,
      |  ROUND(k0, 6) AS k0,
      |  ROUND((msb - msw) / (msb + (k0 - 1.0) * msw), 6) AS icc
      |FROM m""".stripMargin

  /** q_stat_gtest entry: G-TEST of independence (likelihood-ratio χ²,
    * Sokal & Rohlf's recommended default) on the event_type ×
    * value-band contingency table, reported NEXT TO Pearson's χ² on
    * the same table so the two statistics are directly comparable
    * (they share the asymptotic χ² null; G is additive across
    * partitions of the table, which is why log-linear modelling is
    * built on it). G = 2·Σ Oᵢⱼ·ln(Oᵢⱼ·N / (rᵢ·cⱼ)) over non-empty
    * cells; Pearson via the algebraic identity χ² = N·(Σ Oᵢⱼ²/(rᵢ·cⱼ)
    * − 1), which needs no explicit zero-cell expected counts.
    *
    * Scale shape: one combinable groupBy to the ≤ |types|·|bands|
    * cell table; margins and the statistic live on that bounded
    * frame. Determinism: counts exact integers; each cell term is one
    * shared-order IEEE chain rounded to 10 dp and summed as
    * DECIMAL(38,10). */
  def gtestQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cells = t(s, dir, "events")
      .select($"event_type",
        when($"value" < 5.0, "v0_lt5")
          .when($"value" < 20.0, "v1_lt20")
          .when($"value" < 100.0, "v2_lt100")
          .otherwise("v3_ge100").as("band"))
      .groupBy($"event_type", $"band").agg(count(lit(1)).as("o"))
    val all = Window.partitionBy(lit(1))
    val g = cells
      .withColumn("rt", sum($"o").over(Window.partitionBy($"event_type")))
      .withColumn("ct", sum($"o").over(Window.partitionBy($"band")))
      .withColumn("nn", sum($"o").over(all))
      .withColumn("gterm", round($"o".cast("double") *
        log($"o".cast("double") * $"nn".cast("double") /
          ($"rt".cast("double") * $"ct".cast("double"))), 10)
        .cast("decimal(38,10)"))
      .withColumn("pterm", round($"o".cast("double") * $"o".cast("double") /
        ($"rt".cast("double") * $"ct".cast("double")), 10)
        .cast("decimal(38,10)"))
    g.groupBy()
      .agg(max($"nn").as("n"),
        countDistinct($"event_type").as("n_rows"),
        countDistinct($"band").as("n_cols"),
        sum($"gterm").cast("double").as("gs"),
        sum($"pterm").cast("double").as("ps"))
      .select($"n".cast("long").as("n"),
        $"n_rows".cast("long").as("n_rows"),
        $"n_cols".cast("long").as("n_cols"),
        (($"n_rows" - 1) * ($"n_cols" - 1)).cast("long").as("dof"),
        round(lit(2.0) * $"gs", 6).as("g_stat"),
        round($"n".cast("double") * ($"ps" - lit(1.0)), 6).as("chi2_stat"))
  }

  val gtestSql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    CASE WHEN value < 5.0 THEN 'v0_lt5'
      |         WHEN value < 20.0 THEN 'v1_lt20'
      |         WHEN value < 100.0 THEN 'v2_lt100'
      |         ELSE 'v3_ge100' END AS band,
      |    COUNT(*) AS o
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT *,
      |    SUM(o) OVER (PARTITION BY event_type) AS rt,
      |    SUM(o) OVER (PARTITION BY band) AS ct,
      |    SUM(o) OVER () AS nn
      |  FROM cells),
      |terms AS (
      |  SELECT nn, event_type, band,
      |    CAST(ROUND(CAST(o AS DOUBLE) * LN(CAST(o AS DOUBLE)
      |      * CAST(nn AS DOUBLE) / (CAST(rt AS DOUBLE)
      |      * CAST(ct AS DOUBLE))), 10) AS DECIMAL(38,10)) AS gterm,
      |    CAST(ROUND(CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
      |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)), 10)
      |      AS DECIMAL(38,10)) AS pterm
      |  FROM m),
      |agg AS (
      |  SELECT MAX(nn) AS n,
      |    COUNT(DISTINCT event_type) AS n_rows,
      |    COUNT(DISTINCT band) AS n_cols,
      |    CAST(SUM(gterm) AS DOUBLE) AS gs,
      |    CAST(SUM(pterm) AS DOUBLE) AS ps
      |  FROM terms)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_cols AS BIGINT) AS n_cols,
      |  CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
      |  ROUND(2.0 * gs, 6) AS g_stat,
      |  ROUND(CAST(n AS DOUBLE) * (ps - 1.0), 6) AS chi2_stat
      |FROM agg""".stripMargin

  /** q_sample_reservoir entry: WEIGHTED RESERVOIR SAMPLING, algorithm
    * A-Res (Efraimidis & Spirakis 2006) — each item draws uniform
    * u ∈ (0,1] and gets key u^(1/w); the k largest keys are a correct
    * weighted-without-replacement sample. THE distributed/streaming
    * sampling method: keys are assigned independently per item (pure
    * map), the top-k merges associatively across partitions — exactly
    * what a 1000-executor pipeline needs where sequential reservoir
    * algorithms cannot run. Weight = n_chars (sample documents
    * proportionally to their character mass). The uniform is the
    * seeded [[graft.ops.Hashing.md5Long60]] contract (replayable:
    * u = (h+1)/2⁶⁰, never 0), and keys are compared in the ln domain
    * (ln(u)/w, order-isomorphic to u^(1/w), no underflow for huge w).
    *
    * Scale shape: one narrow projection + TakeOrdered(k) — no
    * shuffle, no sort of the corpus; per-partition heaps of size k
    * merge at the driver. Determinism: the key is a 2-op IEEE chain
    * on an exact integer hash; ties broken by doc_id. */
  def reservoirQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val two60 = lit(1152921504606846976L).cast("double") // 2^60, exact
    t(s, dir, "documents")
      .select($"doc_id", $"n_chars")
      .withColumn("u",
        (Hashing.md5Long60(concat(lit("res:"), $"doc_id")) + lit(1L))
          .cast("double") / two60)
      .withColumn("key_ln", log($"u") / $"n_chars".cast("double"))
      .orderBy($"key_ln".desc, $"doc_id")
      .limit(50)
      .select($"doc_id", $"n_chars".as("weight"),
        round($"key_ln", 12).as("key_ln"))
  }

  val reservoirSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, n_chars,
      |    CAST(('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)),
      |      1, 15))::UBIGINT::BIGINT + 1 AS DOUBLE)
      |      / CAST(1152921504606846976 AS DOUBLE) AS u
      |  FROM documents)
      |SELECT doc_id, n_chars AS weight,
      |  ROUND(LN(u) / CAST(n_chars AS DOUBLE), 12) AS key_ln
      |FROM keyed
      |ORDER BY LN(u) / CAST(n_chars AS DOUBLE) DESC, doc_id
      |LIMIT 50""".stripMargin

  /** q_sample_ht entry: POISSON PPS SAMPLING with the HORVITZ–THOMPSON
    * estimator (Horvitz & Thompson 1952) — the survey-sampling
    * workhorse a pipeline uses to AUDIT a huge table from a tiny
    * probability sample with an unbiased total and a design-based
    * standard error. Inclusion probability πᵢ = min(1, k·wᵢ/W) with
    * w = order value and k = 500 expected draws; each order enters iff
    * its seeded md5 uniform < πᵢ (independent Poisson sampling — the
    * only design where distributed inclusion is a pure map).
    * Estimates: total Σ_{sampled} vᵢ/πᵢ (unbiased for the true total),
    * variance Σ vᵢ²(1−πᵢ)/πᵢ² (exact for Poisson designs).
    *
    * Scale shape: W is one combinable exact-decimal aggregate; the
    * sample pass is a pure map + filter (no shuffle); estimator sums
    * are combinable decimal-rounded aggregates over the ~k sampled
    * rows. Determinism: money flows as DECIMAL(18,2) until the single
    * π divide; per-row HT terms are a fixed IEEE chain rounded to 6 dp
    * (they are O(W/k) ≈ 10⁵-sized — 6 dp keeps DECIMAL(38,6) exact)
    * and summed order-independently. */
  def htQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val two60 = lit(1152921504606846976L).cast("double")
    val o = t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
    val tot = o.agg(
      sum($"o_totalprice".cast("decimal(18,2)")).as("w_dec"),
      count(lit(1)).as("n_pop"))
    val base = o.crossJoin(broadcast(tot))
      .withColumn("pi", least(lit(1.0),
        lit(500.0) * $"o_totalprice" / $"w_dec".cast("double")))
      .withColumn("u",
        (Hashing.md5Long60(concat(lit("ht:"), $"o_orderkey")) + lit(1L))
          .cast("double") / two60)
      .filter($"u" < $"pi")
    base.groupBy()
      .agg(max($"n_pop").as("n_pop"),
        max($"w_dec").as("w_dec"),
        count(lit(1)).as("n_sample"),
        sum(round($"o_totalprice" / $"pi", 6).cast("decimal(38,6)"))
          .as("ht"),
        sum(round($"o_totalprice" * $"o_totalprice" * (lit(1.0) - $"pi")
          / ($"pi" * $"pi"), 6).cast("decimal(38,6)")).as("vht"))
      .select($"n_pop".cast("long").as("n_pop"),
        $"n_sample".cast("long").as("n_sample"),
        $"w_dec".cast("double").as("true_total"),
        round($"ht".cast("double"), 2).as("ht_total"),
        round(sqrt($"vht".cast("double")), 2).as("ht_se"),
        round((($"ht".cast("double") - $"w_dec".cast("double"))
          / $"w_dec".cast("double")) * 10000.0, 2).as("rel_err_bp"))
  }

  val htSql: String =
    """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
      |tot AS (
      |  SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS w_dec,
      |    COUNT(*) AS n_pop
      |  FROM o),
      |base AS (
      |  SELECT o.*, tot.n_pop, tot.w_dec,
      |    LEAST(1.0, 500.0 * o_totalprice / CAST(w_dec AS DOUBLE)) AS pi,
      |    CAST(('0x' || substr(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
      |      1, 15))::UBIGINT::BIGINT + 1 AS DOUBLE)
      |      / CAST(1152921504606846976 AS DOUBLE) AS u
      |  FROM o CROSS JOIN tot),
      |s AS (SELECT * FROM base WHERE u < pi)
      |SELECT CAST(MAX(n_pop) AS BIGINT) AS n_pop,
      |  COUNT(*) AS n_sample,
      |  CAST(MAX(w_dec) AS DOUBLE) AS true_total,
      |  ROUND(CAST(SUM(CAST(ROUND(o_totalprice / pi, 6)
      |    AS DECIMAL(38,6))) AS DOUBLE), 2) AS ht_total,
      |  ROUND(SQRT(CAST(SUM(CAST(ROUND(o_totalprice * o_totalprice
      |    * (1.0 - pi) / (pi * pi), 6) AS DECIMAL(38,6))) AS DOUBLE)), 2)
      |    AS ht_se,
      |  ROUND(((CAST(SUM(CAST(ROUND(o_totalprice / pi, 6)
      |    AS DECIMAL(38,6))) AS DOUBLE) - CAST(MAX(w_dec) AS DOUBLE))
      |    / CAST(MAX(w_dec) AS DOUBLE)) * 10000.0, 2) AS rel_err_bp
      |FROM s""".stripMargin

  /** q_stat_bland_altman entry: BLAND–ALTMAN agreement analysis (Bland
    * & Altman 1986) between two per-user measurement channels — mean
    * click value vs mean view value — the method-comparison standard:
    * not "are they correlated" (they always are) but "what is the bias
    * and how wide are the 95% limits of agreement". Per user with both
    * channels: d = mean_click − mean_view; report bias = mean(d),
    * sd(d), LoA = bias ± 1.96·sd, and the fraction of users inside the
    * limits (the ~95% the method promises).
    *
    * Scale shape: one combinable per-(user, channel) mean collapse,
    * a 2-column pivot join, then 1-row moments over the user-bounded
    * frame. Determinism: per-user means are exact-decimal sums with
    * one divide; d-moments are 12-dp-rounded DECIMAL(38,12) sums; the
    * within-limits test compares doubles computed by the identical
    * chain in both engines. */
  def blandAltmanQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = t(s, dir, "events")
      .filter($"event_type".isin("click", "view"))
      .groupBy($"user_id", $"event_type")
      .agg((sum($"value".cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("m"))
    val a = per.filter($"event_type" === "click")
      .select($"user_id", $"m".as("ma"))
    val b = per.filter($"event_type" === "view")
      .select($"user_id", $"m".as("mb"))
    val d = a.join(b, "user_id").withColumn("d", $"ma" - $"mb")
    val agg = d.groupBy()
      .agg(count(lit(1)).as("n"),
        sum(round($"d", 12).cast("decimal(38,12)")).as("sd1"),
        sum(round($"d" * $"d", 12).cast("decimal(38,12)")).as("sd2"))
      .select($"n",
        ($"sd1".cast("double") / $"n".cast("double")).as("bias"),
        sqrt(($"sd2".cast("double") - $"sd1".cast("double")
          * $"sd1".cast("double") / $"n".cast("double"))
          / ($"n".cast("double") - lit(1.0))).as("sd"))
      .withColumn("lo", $"bias" - lit(1.96) * $"sd")
      .withColumn("hi", $"bias" + lit(1.96) * $"sd")
    d.crossJoin(broadcast(agg))
      .groupBy()
      .agg(max($"n").as("n_users"),
        max($"bias").as("bias"), max($"sd").as("sd"),
        max($"lo").as("lo"), max($"hi").as("hi"),
        sum(($"d" >= $"lo" && $"d" <= $"hi").cast("long")).as("n_within"))
      .select($"n_users".cast("long").as("n_users"),
        round($"bias", 6).as("bias_d"),
        round($"sd", 6).as("sd_d"),
        round($"lo", 6).as("loa_lo"),
        round($"hi", 6).as("loa_hi"),
        $"n_within".cast("long").as("n_within"),
        expr("(10000 * n_within) div n_users").as("within_bp"))
  }

  val blandAltmanSql: String =
    """WITH per AS (
      |  SELECT user_id, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT a.user_id, a.m - b.m AS d
      |  FROM (SELECT user_id, m FROM per WHERE event_type = 'click') a
      |  JOIN (SELECT user_id, m FROM per WHERE event_type = 'view') b
      |    USING (user_id)),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(d, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(ROUND(d * d, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s2
      |  FROM d),
      |m AS (
      |  SELECT n, s1 / CAST(n AS DOUBLE) AS bias,
      |    SQRT((s2 - s1 * s1 / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1.0)) AS sd
      |  FROM agg),
      |lim AS (
      |  SELECT n, bias, sd, bias - 1.96 * sd AS lo, bias + 1.96 * sd AS hi
      |  FROM m)
      |SELECT CAST(MAX(l.n) AS BIGINT) AS n_users,
      |  ROUND(MAX(l.bias), 6) AS bias_d,
      |  ROUND(MAX(l.sd), 6) AS sd_d,
      |  ROUND(MAX(l.lo), 6) AS loa_lo,
      |  ROUND(MAX(l.hi), 6) AS loa_hi,
      |  CAST(SUM(CASE WHEN d.d >= l.lo AND d.d <= l.hi THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_within,
      |  CAST((10000 * SUM(CASE WHEN d.d >= l.lo AND d.d <= l.hi
      |    THEN 1 ELSE 0 END)) // MAX(l.n) AS BIGINT) AS within_bp
      |FROM d CROSS JOIN lim l""".stripMargin

  /** q_stat_effect_size entry: the STANDARD EFFECT-SIZE PANEL for the
    * click-vs-view `value` comparison — Cohen's d (pooled-sd mean
    * difference), Hedges' g (small-sample bias-corrected d), Glass's Δ
    * (control-sd denominator, for when variances differ), and Cliff's
    * δ (the rank/dominance effect size, = P(X>Y) − P(X<Y)). Tests say
    * WHETHER distributions differ; effect sizes say BY HOW MUCH in
    * comparable units — the number a curation dashboard actually
    * thresholds on.
    *
    * Cliff's δ is derived from the midrank Mann–Whitney U via
    * δ = (2·U₁ − n₁n₂)/(n₁n₂) (ties contribute ½ to U, hence 0 to δ),
    * reusing [[mannWhitneyQ]]'s per-distinct-value collapse so no
    * per-row rank frame ever materializes.
    *
    * Scale shape: one combinable conditional-moments aggregate (exact
    * DECIMAL(18,2) power sums) + the value-bounded rank collapse; the
    * two 1-row frames cross-join. Determinism: exact decimal sums into
    * fixed written-order IEEE chains, final round 6. */
  def effectSizeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ev = t(s, dir, "events").filter($"event_type".isin("click", "view"))
    val x = $"value".cast("decimal(18,2)")
    val mom = ev.agg(
      sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n1"),
      sum(when($"event_type" === "click", x)).as("s1"),
      sum(when($"event_type" === "click", x * x)).as("q1"),
      sum(when($"event_type" === "view", 1L).otherwise(0L)).as("n2"),
      sum(when($"event_type" === "view", x)).as("s2"),
      sum(when($"event_type" === "view", x * x)).as("q2"))
    val d = ev.groupBy($"value".as("v"))
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("c1"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("c2"))
    val u = Rank.orderedPrefix(d, order = Seq($"v"),
        cums = Seq(Rank.Cum($"c1" + $"c2", "before", exclusive = true)))
      .withColumn("avg_rank",
        ($"before".cast("decimal(18,1)") +
          ($"c1" + $"c2" + 1).cast("decimal(18,1)") / 2).cast("decimal(18,1)"))
      .agg(sum(($"c1".cast("decimal(18,1)") * $"avg_rank")
        .cast("decimal(28,1)")).as("r1"))
    mom.crossJoin(u)
      .select($"n1", $"n2",
        ($"s1".cast("double") / $"n1").as("m1"),
        ($"s2".cast("double") / $"n2").as("m2"),
        (($"q1".cast("double") - $"s1".cast("double") * $"s1".cast("double")
          / $"n1") / ($"n1" - 1)).as("v1"),
        (($"q2".cast("double") - $"s2".cast("double") * $"s2".cast("double")
          / $"n2") / ($"n2" - 1)).as("v2"),
        ($"r1".cast("double") -
          $"n1".cast("double") * ($"n1" + 1) / 2).as("u1"))
      .select($"n1".cast("long").as("n1"), $"n2".cast("long").as("n2"),
        round(($"m1" - $"m2") /
          sqrt((($"n1" - 1) * $"v1" + ($"n2" - 1) * $"v2")
            / ($"n1" + $"n2" - 2)), 6).as("cohens_d"),
        round(($"m1" - $"m2") /
          sqrt((($"n1" - 1) * $"v1" + ($"n2" - 1) * $"v2")
            / ($"n1" + $"n2" - 2)) *
          (lit(1.0) - lit(3.0) / (lit(4.0) * ($"n1" + $"n2") - 9)), 6)
          .as("hedges_g"),
        round(($"m1" - $"m2") / sqrt($"v2"), 6).as("glass_delta"),
        round((lit(2.0) * $"u1" - $"n1".cast("double") * $"n2")
          / ($"n1".cast("double") * $"n2"), 6).as("cliffs_delta"))
  }

  val effectSizeSql: String =
    """WITH ev AS (
      |  SELECT event_type, value FROM events
      |  WHERE event_type IN ('click', 'view')),
      |mom AS (
      |  SELECT
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
      |    SUM(CASE WHEN event_type = 'click'
      |      THEN CAST(value AS DECIMAL(18,2)) END) AS s1,
      |    SUM(CASE WHEN event_type = 'click'
      |      THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
      |      END) AS q1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
      |    SUM(CASE WHEN event_type = 'view'
      |      THEN CAST(value AS DECIMAL(18,2)) END) AS s2,
      |    SUM(CASE WHEN event_type = 'view'
      |      THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
      |      END) AS q2
      |  FROM ev),
      |d AS (
      |  SELECT value AS v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      |  FROM ev GROUP BY 1),
      |r AS (
      |  SELECT c1, c2,
      |    CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS DECIMAL(18,1))
      |    + CAST(c1 + c2 + 1 AS DECIMAL(18,1)) / 2 AS avg_rank
      |  FROM d),
      |uagg AS (
      |  SELECT SUM(CAST(CAST(c1 AS DECIMAL(18,1)) * avg_rank
      |    AS DECIMAL(28,1))) AS r1
      |  FROM r),
      |m AS (
      |  SELECT n1, n2,
      |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
      |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / n1) / (n1 - 1) AS v1,
      |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      / n2) / (n2 - 1) AS v2,
      |    CAST(r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1
      |  FROM mom CROSS JOIN uagg)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  ROUND((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
      |    / (n1 + n2 - 2)), 6) AS cohens_d,
      |  ROUND((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
      |    / (n1 + n2 - 2))
      |    * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9)), 6) AS hedges_g,
      |  ROUND((m1 - m2) / sqrt(v2), 6) AS glass_delta,
      |  ROUND((2.0 * u1 - CAST(n1 AS DOUBLE) * n2)
      |    / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta
      |FROM m""".stripMargin

  /** The pinned event-type domain shared by the k-group post-hoc /
    * homogeneity tests below (same pin as [[anovaQ]]). */
  private val EvTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q_stat_tukey_hsd entry: TUKEY'S HSD pairwise comparisons after the
    * one-way ANOVA over the five event types — for each of the 10
    * unordered pairs, the mean difference, its standard error
    * sqrt(MSE/2·(1/nₐ+1/n_b)) (Tukey–Kramer form, valid for unequal
    * n), and the studentized-range q statistic. ANOVA says "some mean
    * differs"; HSD says WHICH pairs, with a familywise-valid yardstick
    * — the post-hoc step every k-cohort dashboard needs.
    *
    * Scale shape: one combinable conditional-moments aggregate (the
    * [[anovaQ]] frame) collapses the corpus to ONE row; the 10 pairs
    * are literal projections of that row unioned together — no join,
    * no window, no second scan. Determinism: exact DECIMAL(18,2)
    * power sums; MSE and each pair's statistics are fixed
    * written-order IEEE chains, final round 6. */
  def tukeyHsdQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = EvTypes
    val x = $"value".cast("decimal(18,2)")
    val aggs = types.flatMap { tp =>
      val m = $"event_type" === tp
      Seq(sum(when(m, 1L).otherwise(0L)).as(s"n_$tp"),
        sum(when(m, x)).as(s"s_$tp"),
        sum(when(m, x * x)).as(s"q_$tp"))
    }
    val one = t(s, dir, "events").agg(aggs.head, aggs.tail: _*)
    val n = types.map(tp => col(s"n_$tp")).reduce(_ + _)
    val ssw = types.map(tp =>
      col(s"q_$tp").cast("double") - col(s"s_$tp").cast("double")
        * col(s"s_$tp").cast("double") / col(s"n_$tp")).reduce(_ + _)
    val mse = (ssw / (n - types.size)).as("mse")
    val withMse = one.withColumn("mse", mse)
      .withColumn("dof_w", (n - types.size).cast("long"))
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    val pairFrames = pairs.map { case (a, b) =>
      val ma = col(s"s_$a").cast("double") / col(s"n_$a")
      val mb = col(s"s_$b").cast("double") / col(s"n_$b")
      val se = sqrt($"mse" / 2.0 *
        (lit(1.0) / col(s"n_$a") + lit(1.0) / col(s"n_$b")))
      withMse.select(
        lit(a).as("type_a"), lit(b).as("type_b"),
        col(s"n_$a").cast("long").as("n_a"),
        col(s"n_$b").cast("long").as("n_b"),
        $"dof_w",
        round(ma - mb, 6).as("mean_diff"),
        round(se, 6).as("se"),
        round(abs(ma - mb) / se, 6).as("q_stat"))
    }
    pairFrames.reduce(_ unionAll _)
  }

  val tukeyHsdSql: String = {
    val types = EvTypes
    val aggs = types.flatMap { tp =>
      Seq(s"SUM(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS n_$tp",
        s"SUM(CASE WHEN event_type = '$tp' THEN CAST(value AS DECIMAL(18,2)) END) AS s_$tp",
        s"SUM(CASE WHEN event_type = '$tp' THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS q_$tp")
    }
    val n = types.map(tp => s"n_$tp").mkString(" + ")
    val ssw = types.map(tp =>
      s"CAST(q_$tp AS DOUBLE) - CAST(s_$tp AS DOUBLE) * CAST(s_$tp AS DOUBLE) / n_$tp")
      .mkString(" + ")
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    val selects = pairs.map { case (a, b) =>
      val ma = s"CAST(s_$a AS DOUBLE) / n_$a"
      val mb = s"CAST(s_$b AS DOUBLE) / n_$b"
      val se = s"sqrt(mse / 2.0 * (1.0 / n_$a + 1.0 / n_$b))"
      s"""SELECT '$a' AS type_a, '$b' AS type_b,
         |  CAST(n_$a AS BIGINT) AS n_a, CAST(n_$b AS BIGINT) AS n_b,
         |  dof_w,
         |  ROUND($ma - $mb, 6) AS mean_diff,
         |  ROUND($se, 6) AS se,
         |  ROUND(ABS($ma - $mb) / $se, 6) AS q_stat
         |FROM m""".stripMargin
    }
    s"""WITH a AS (
       |  SELECT ${aggs.mkString(",\n    ")}
       |  FROM events),
       |m AS (
       |  SELECT *, ($ssw) / (($n) - ${types.size}) AS mse,
       |    CAST(($n) - ${types.size} AS BIGINT) AS dof_w
       |  FROM a)
       |${selects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q_stat_bartlett entry: BARTLETT'S TEST of variance homogeneity
    * across the five event types — the classical (normal-theory)
    * companion to the robust [[leveneQ]]: T = [(N−k)·ln s²_p −
    * Σ(nᵢ−1)·ln s²ᵢ] / C with the Bartlett correction C. Reported
    * beside Levene, the two answer "can I pool variances?" from the
    * sensitive and the robust side — disagreement itself flags
    * non-normality.
    *
    * Scale shape: the [[anovaQ]] one-row conditional-moments frame;
    * everything after is arithmetic on that row. Determinism: exact
    * DECIMAL(18,2) power sums, fixed written-order IEEE chain
    * (the Σ terms combine in pinned type order), final round 6. */
  def bartlettQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = EvTypes
    val k = types.size
    val x = $"value".cast("decimal(18,2)")
    val aggs = types.flatMap { tp =>
      val m = $"event_type" === tp
      Seq(sum(when(m, 1L).otherwise(0L)).as(s"n_$tp"),
        sum(when(m, x)).as(s"s_$tp"),
        sum(when(m, x * x)).as(s"q_$tp"))
    }
    val one = t(s, dir, "events").agg(aggs.head, aggs.tail: _*)
    val n = types.map(tp => col(s"n_$tp")).reduce(_ + _)
    def vi(tp: String): Column =
      (col(s"q_$tp").cast("double") - col(s"s_$tp").cast("double")
        * col(s"s_$tp").cast("double") / col(s"n_$tp")) / (col(s"n_$tp") - 1)
    val sp2 = types.map(tp => (col(s"n_$tp") - 1) * vi(tp)).reduce(_ + _) /
      (n - k)
    val sumLn = types.map(tp => (col(s"n_$tp") - 1) * log(vi(tp)))
      .reduce(_ + _)
    val sumInv = types.map(tp => lit(1.0) / (col(s"n_$tp") - 1)).reduce(_ + _)
    val c = lit(1.0) + (sumInv - lit(1.0) / (n - k)) / (3.0 * (k - 1))
    one.select(
      n.cast("long").as("n"), lit(k.toLong).as("k"),
      round(sp2, 6).as("pooled_var"),
      round(((n - k) * log(sp2) - sumLn) / c, 6).as("t_stat"))
  }

  val bartlettSql: String = {
    val types = EvTypes
    val k = types.size
    val aggs = types.flatMap { tp =>
      Seq(s"SUM(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS n_$tp",
        s"SUM(CASE WHEN event_type = '$tp' THEN CAST(value AS DECIMAL(18,2)) END) AS s_$tp",
        s"SUM(CASE WHEN event_type = '$tp' THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS q_$tp")
    }
    val n = types.map(tp => s"n_$tp").mkString(" + ")
    def vi(tp: String) =
      s"((CAST(q_$tp AS DOUBLE) - CAST(s_$tp AS DOUBLE) * CAST(s_$tp AS DOUBLE) / n_$tp) / (n_$tp - 1))"
    val sp2 = types.map(tp => s"(n_$tp - 1) * ${vi(tp)}")
      .mkString(" + ") + s") / (($n) - $k"
    val sumLn = types.map(tp => s"(n_$tp - 1) * LN(${vi(tp)})").mkString(" + ")
    val sumInv = types.map(tp => s"1.0 / (n_$tp - 1)").mkString(" + ")
    s"""WITH a AS (
       |  SELECT ${aggs.mkString(",\n    ")}
       |  FROM events),
       |m AS (
       |  SELECT *, (($sp2)) AS sp2,
       |    1.0 + (($sumInv) - 1.0 / (($n) - $k)) / (3.0 * ${k - 1}) AS c
       |  FROM a)
       |SELECT CAST($n AS BIGINT) AS n, CAST($k AS BIGINT) AS k,
       |  ROUND(sp2, 6) AS pooled_var,
       |  ROUND(((($n) - $k) * LN(sp2) - ($sumLn)) / c, 6) AS t_stat
       |FROM m""".stripMargin
  }

  /** q_stat_cochran_q entry: COCHRAN'S Q test over binary per-user
    * outcomes across the five event types — blocks = users, treatment
    * j's outcome for user i is "did user i produce at least one
    * type-j event with value ≥ 50?" (users without such an event score
    * 0, so every user is a complete block by construction). Q =
    * (k−1)·(k·ΣC²ⱼ − T²)/(k·T − ΣR²ᵢ) — the k-treatment
    * generalization of McNemar, asymptotically χ²(k−1). The
    * within-block design cancels user-level propensity — the right
    * test for "do conversion-style rates differ across event types?"
    *
    * Scale shape: one combinable per-user aggregate (conditional MAX
    * per pinned type) → user-bounded frame → one combinable global
    * aggregate. EVERY intermediate is an exact integer; the single
    * IEEE division happens on the final 1-row frame. */
  def cochranQQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = EvTypes
    val k = types.size
    val perUser = t(s, dir, "events")
      .groupBy($"user_id")
      .agg(types.map(tp =>
        max(when($"event_type" === tp && $"value" >= 50.0, 1L)
          .otherwise(0L)).as(s"x_$tp")).head,
        types.tail.map(tp =>
          max(when($"event_type" === tp && $"value" >= 50.0, 1L)
            .otherwise(0L)).as(s"x_$tp")): _*)
    val ri = types.map(tp => col(s"x_$tp")).reduce(_ + _)
    val agg = perUser
      .withColumn("ri", ri)
      .agg(count(lit(1)).as("b"),
        (Seq(sum($"ri").as("t_tot"), sum($"ri" * $"ri").as("r2")) ++
          types.map(tp => sum(col(s"x_$tp")).as(s"c_$tp"))): _*)
    val c2 = types.map(tp => col(s"c_$tp") * col(s"c_$tp")).reduce(_ + _)
    agg.select(
      lit(k.toLong).as("k"), $"b".cast("long").as("b"),
      $"t_tot".cast("long").as("t_successes"),
      round(((lit(k) - 1) * (lit(k) * c2 - $"t_tot" * $"t_tot"))
        .cast("double") /
        (lit(k) * $"t_tot" - $"r2").cast("double"), 6).as("q_stat"))
  }

  val cochranQSql: String = {
    val types = EvTypes
    val k = types.size
    val xs = types.map(tp =>
      s"MAX(CASE WHEN event_type = '$tp' AND value >= 50.0 THEN 1 ELSE 0 END) AS x_$tp")
    val ri = types.map(tp => s"x_$tp").mkString(" + ")
    val cs = types.map(tp => s"SUM(x_$tp) AS c_$tp")
    val c2 = types.map(tp => s"c_$tp * c_$tp").mkString(" + ")
    s"""WITH per_user AS (
       |  SELECT user_id, ${xs.mkString(",\n    ")}
       |  FROM events GROUP BY 1),
       |w AS (SELECT *, $ri AS ri FROM per_user),
       |a AS (
       |  SELECT COUNT(*) AS b, SUM(ri) AS t_tot, SUM(ri * ri) AS r2,
       |    ${cs.mkString(",\n    ")}
       |  FROM w)
       |SELECT CAST($k AS BIGINT) AS k, CAST(b AS BIGINT) AS b,
       |  CAST(t_tot AS BIGINT) AS t_successes,
       |  ROUND(CAST(($k - 1) * ($k * ($c2) - t_tot * t_tot) AS DOUBLE)
       |    / CAST($k * t_tot - r2 AS DOUBLE), 6) AS q_stat
       |FROM a""".stripMargin
  }

  /** q_stat_friedman entry: FRIEDMAN'S rank test for k related samples
    * — blocks = users having events of ALL five types, cell value =
    * the user's mean `value` per type, midranked WITHIN each user
    * across the five types. The tie-corrected statistic (Conover) is
    * T = (k−1)·Σⱼ(Rⱼ − b(k+1)/2)² / (Σᵢⱼ r²ᵢⱼ − bk(k+1)²/4),
    * asymptotically χ²(k−1). The within-block ranking cancels user
    * propensity nonparametrically — the repeated-measures sibling of
    * [[kruskalQ]].
    *
    * Scale shape: per-(user,type) combinable collapse (exact
    * DECIMAL(18,2) sums) → ≤ b·k rows; ranks come from a window
    * PARTITIONED BY USER (k-bounded frames, fully parallel); midranks
    * are exact in 0.5 units (DECIMAL), rank sums travel as pinned-type
    * conditional DECIMAL sums; ONE final IEEE chain on the 1-row
    * frame. */
  def friedmanQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val types = EvTypes
    val k = types.size
    val cell = t(s, dir, "events")
      .groupBy($"user_id", $"event_type")
      .agg((sum($"value".cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("cell"))
    val complete = cell
      .withColumn("n_types",
        count(lit(1)).over(Window.partitionBy($"user_id")))
      .filter($"n_types" === k)
    val wOrd = Window.partitionBy($"user_id").orderBy($"cell")
    val wTie = Window.partitionBy($"user_id", $"cell")
    val ranked = complete
      .withColumn("rk", rank().over(wOrd))
      .withColumn("tie_n", count(lit(1)).over(wTie))
      .withColumn("midrank",
        (($"rk" * 2 + $"tie_n" - 1).cast("decimal(18,1)") / 2)
          .cast("decimal(18,1)"))
    val agg = ranked.agg(
      ((countDistinct($"user_id"))).as("b"),
      (Seq(sum(($"midrank" * $"midrank").cast("decimal(28,2)")).as("a2")) ++
        types.map(tp => sum(when($"event_type" === tp, $"midrank"))
          .cast("decimal(28,1)").as(s"r_$tp"))): _*)
    val sumDev = types.map { tp =>
      val dev = col(s"r_$tp").cast("double") -
        $"b".cast("double") * (k + 1) / 2
      dev * dev
    }.reduce(_ + _)
    agg.select(
      $"b".cast("long").as("b"), lit(k.toLong).as("k"),
      round(lit((k - 1).toDouble) * sumDev /
        ($"a2".cast("double") -
          $"b".cast("double") * k * (k + 1) * (k + 1) / 4), 6).as("t_stat"))
  }

  val friedmanSql: String = {
    val types = EvTypes
    val k = types.size
    val rs = types.map(tp =>
      s"CAST(SUM(CASE WHEN event_type = '$tp' THEN midrank END) AS DECIMAL(28,1)) AS r_$tp")
    val sumDev = types.map(tp =>
      s"(CAST(r_$tp AS DOUBLE) - CAST(b AS DOUBLE) * ${k + 1} / 2) * (CAST(r_$tp AS DOUBLE) - CAST(b AS DOUBLE) * ${k + 1} / 2)")
      .mkString(" + ")
    s"""WITH cell AS (
       |  SELECT user_id, event_type,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
       |      AS cell
       |  FROM events GROUP BY 1, 2),
       |complete AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS n_types
       |    FROM cell) WHERE n_types = $k),
       |ranked AS (
       |  SELECT user_id, event_type,
       |    CAST((RANK() OVER (PARTITION BY user_id ORDER BY cell) * 2
       |      + COUNT(*) OVER (PARTITION BY user_id, cell) - 1)
       |      AS DECIMAL(18,1)) / 2 AS midrank
       |  FROM complete),
       |a AS (
       |  SELECT COUNT(DISTINCT user_id) AS b,
       |    SUM(CAST(midrank * midrank AS DECIMAL(28,2))) AS a2,
       |    ${rs.mkString(",\n    ")}
       |  FROM ranked)
       |SELECT CAST(b AS BIGINT) AS b, CAST($k AS BIGINT) AS k,
       |  ROUND(CAST(${k - 1} AS DOUBLE) * ($sumDev)
       |    / (CAST(a2 AS DOUBLE)
       |      - CAST(b AS DOUBLE) * $k * ${k + 1} * ${k + 1} / 4), 6)
       |    AS t_stat
       |FROM a""".stripMargin
  }

  /** q_stat_dunn entry: DUNN'S POST-HOC TEST (Dunn 1964) — pairwise
    * rank-based z statistics over the five event types after
    * [[kruskalQ]]'s omnibus, with the tie correction Σ(t³−t)/(12(N−1))
    * folded into the variance. Kruskal–Wallis says "some distribution
    * differs"; Dunn says WHICH pairs, on the same global midranks, no
    * normality assumed — the nonparametric sibling of [[tukeyHsdQ]].
    *
    * Scale shape: the corpus collapses to per-distinct-value
    * conditional counts (the [[mannWhitneyQ]] rank-collapse idiom,
    * value-bounded); one cumulative window prices the midranks; one
    * combinable aggregate yields the per-type rank sums + the exact
    * integer tie term; the 10 pairs are literal projections of that
    * 1-row frame. Determinism: rank sums exact in 0.5 units
    * (DECIMAL(28,1)), tie term exact integer, one IEEE chain per pair
    * rounded 6. */
  def dunnQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val types = EvTypes
    val d = t(s, dir, "events")
      .groupBy($"value".as("v"))
      .agg(types.map(tp =>
        sum(when($"event_type" === tp, 1L).otherwise(0L)).as(s"c_$tp")).head,
        types.tail.map(tp =>
          sum(when($"event_type" === tp, 1L).otherwise(0L)).as(s"c_$tp")): _*)
    val tc = types.map(tp => col(s"c_$tp")).reduce(_ + _)
    val ranked = Rank.orderedPrefix(d.withColumn("tc", tc),
        order = Seq($"v"),
        cums = Seq(Rank.Cum($"tc", "before", exclusive = true)))
      .withColumn("avg_rank",
        ($"before".cast("decimal(18,1)") +
          ($"tc" + 1).cast("decimal(18,1)") / 2).cast("decimal(18,1)"))
    val aggCols: Seq[Column] =
      Seq(sum($"tc").as("n_all"),
        sum($"tc" * $"tc" * $"tc" - $"tc").as("ties")) ++
      types.flatMap(tp => Seq(
        sum(col(s"c_$tp")).as(s"n_$tp"),
        sum((col(s"c_$tp").cast("decimal(18,1)") * $"avg_rank")
          .cast("decimal(28,1)")).as(s"r_$tp")))
    val agg = ranked.agg(aggCols.head, aggCols.tail: _*)
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    // one explode over a literal pair array — a 10-branch union would
    // re-evaluate the whole rank pipeline per pair (measured 16 s at
    // sf0.1 after the r13 Rank conversion; this shape is 10× one
    // evaluation of the 1-row agg)
    val pairStructs = pairs.map { case (a, b) =>
      val ma = col(s"r_$a").cast("double") / col(s"n_$a")
      val mb = col(s"r_$b").cast("double") / col(s"n_$b")
      val n = $"n_all".cast("double")
      val varPair = (n * (n + 1) / 12.0 -
        $"ties".cast("double") / (lit(12.0) * (n - 1))) *
        (lit(1.0) / col(s"n_$a") + lit(1.0) / col(s"n_$b"))
      struct(
        lit(a).as("type_a"), lit(b).as("type_b"),
        col(s"n_$a").cast("long").as("n_a"),
        col(s"n_$b").cast("long").as("n_b"),
        round(ma, 6).as("mean_rank_a"),
        round(mb, 6).as("mean_rank_b"),
        round((ma - mb) / sqrt(varPair), 6).as("z"))
    }
    agg.select(explode(array(pairStructs: _*)).as("p")).select($"p.*")
  }

  val dunnSql: String = {
    val types = EvTypes
    val cs = types.map(tp =>
      s"SUM(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS c_$tp")
    val tc = types.map(tp => s"c_$tp").mkString(" + ")
    val sums = types.flatMap(tp => Seq(
      s"SUM(c_$tp) AS n_$tp",
      s"SUM(CAST(CAST(c_$tp AS DECIMAL(18,1)) * avg_rank AS DECIMAL(28,1))) AS r_$tp"))
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    val selects = pairs.map { case (a, b) =>
      val ma = s"CAST(r_$a AS DOUBLE) / n_$a"
      val mb = s"CAST(r_$b AS DOUBLE) / n_$b"
      val vp = s"(CAST(n_all AS DOUBLE) * (n_all + 1) / 12.0" +
        s" - CAST(ties AS DOUBLE) / (12.0 * (CAST(n_all AS DOUBLE) - 1)))" +
        s" * (1.0 / n_$a + 1.0 / n_$b)"
      s"""SELECT '$a' AS type_a, '$b' AS type_b,
         |  CAST(n_$a AS BIGINT) AS n_a, CAST(n_$b AS BIGINT) AS n_b,
         |  ROUND($ma, 6) AS mean_rank_a,
         |  ROUND($mb, 6) AS mean_rank_b,
         |  ROUND(($ma - $mb) / SQRT($vp), 6) AS z
         |FROM agg""".stripMargin
    }
    s"""WITH d AS (
       |  SELECT value AS v, ${cs.mkString(",\n    ")}
       |  FROM events GROUP BY 1),
       |r AS (
       |  SELECT *, $tc AS tc,
       |    CAST(COALESCE(SUM($tc) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS DECIMAL(18,1))
       |    + CAST(($tc) + 1 AS DECIMAL(18,1)) / 2 AS avg_rank
       |  FROM d),
       |agg AS (
       |  SELECT SUM(tc) AS n_all,
       |    SUM(tc * tc * tc - tc) AS ties,
       |    ${sums.mkString(",\n    ")}
       |  FROM r)
       |${selects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q_sample_systematic entry: HASH-ORDERED SYSTEMATIC SAMPLING — rank
    * every order by its seeded [[Hashing.md5Long60]] key and keep rank
    * ≡ 1 (mod 20), i.e. every 20th row of a pseudorandom permutation.
    * Systematic sampling gives exact 1-in-k rate control (Bernoulli
    * only hits k in expectation) with one pass and zero coordination —
    * the audit-sample design regulators ask for. The per-priority
    * rollup reports sample vs population mean order value side by
    * side: a stratified unbiasedness check the replayable hash order
    * makes exactly reproducible anywhere.
    *
    * Scale shape: the projection is (key, hash, price) — narrow; the
    * global rank is [[Rank.withRowNumber]] — ONE range exchange, rank
    * = per-range count offsets + arithmetic local index, no window at
    * all in the plan (this is the "ranks within hash ranges, offset
    * by per-range counts" design, now literally what executes); the
    * rollup is a combinable groupBy. Determinism: ranks are exact
    * (hash ties broken by key), money sums exact DECIMAL(18,2). */
  def systematicQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val price = $"o_totalprice".cast("decimal(18,2)")
    val ranked = Rank.orderedPrefix(
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority", price.as("p"),
          Hashing.md5Long60(concat(lit("sys:"),
            $"o_orderkey".cast("string"))).as("h")),
      order = Seq($"h", $"o_orderkey"), rnOut = Some("rk"),
      uniform = Some((0.0, 1.152921504606846976e18)))
    ranked.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_pop"),
        sum($"p").as("sp"),
        sum(when($"rk" % 20 === 1, 1L).otherwise(0L)).as("n_samp"),
        sum(when($"rk" % 20 === 1, $"p")).as("ss"))
      .select($"o_orderpriority",
        $"n_pop".cast("long").as("n_pop"),
        $"n_samp".cast("long").as("n_samp"),
        round($"sp".cast("double") / $"n_pop", 6).as("mean_pop"),
        round($"ss".cast("double") / $"n_samp", 6).as("mean_samp"))
      .orderBy($"o_orderpriority")
  }

  val systematicSql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
      |    ROW_NUMBER() OVER (ORDER BY
      |      ('0x' || substr(md5('sys:' || CAST(o_orderkey AS VARCHAR)),
      |        1, 15))::UBIGINT::BIGINT, o_orderkey) AS rk
      |  FROM orders)
      |SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_pop,
      |  CAST(SUM(CASE WHEN rk % 20 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_samp,
      |  ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS mean_pop,
      |  ROUND(CAST(SUM(CASE WHEN rk % 20 = 1 THEN p END) AS DOUBLE)
      |    / SUM(CASE WHEN rk % 20 = 1 THEN 1 ELSE 0 END), 6) AS mean_samp
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_stat_grubbs entry: GRUBBS' OUTLIER TEST (Grubbs 1950) on the
    * 25 per-nation mean order values — G = max|xᵢ − x̄|/s with the
    * suspect identified; the formal "is the extreme group a real
    * outlier?" answer behind every per-slice anomaly dashboard (the
    * z-score heuristics in [[Profile]] flag; Grubbs tests, with a
    * known null distribution on k values).
    *
    * Scale shape: one combinable (nation, decimal-sum) collapse of
    * the order corpus; everything after lives on the 25-row frame.
    * Determinism: per-nation means are exact-decimal-sum ÷ count
    * rounded to 6 dp and re-summed as DECIMAL (order-independent);
    * the argmax is decided on those exact decimals with a name
    * tiebreak. */
  def grubbsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val means = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg((round(sum($"o_totalprice".cast("decimal(18,2)"))
        .cast("double") / count(lit(1)), 6)).cast("decimal(18,6)").as("m"))
    val wAll = Window.partitionBy(lit(0))
    val scored = means
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("sm", sum($"m").over(wAll))
      .withColumn("sm2", sum(($"m".cast("decimal(19,6)") * $"m")
        .cast("decimal(38,12)")).over(wAll))
      .withColumn("xbar", $"sm".cast("double") / $"k")
      .withColumn("sd", sqrt(($"sm2".cast("double") -
        $"sm".cast("double") * $"sm".cast("double") / $"k") / ($"k" - 1)))
      .withColumn("dev", abs($"m".cast("double") - $"xbar"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(lit(0)).orderBy($"dev".desc, $"n_name")))
      .filter($"rn" === 1)
      .select($"k".cast("long").as("k"),
        $"n_name".as("outlier_nation"),
        $"m".cast("double").as("outlier_mean"),
        round($"xbar", 6).as("grand_mean"),
        round($"dev" / $"sd", 6).as("g_stat"))
  }

  val grubbsSql: String =
    """WITH means AS (
      |  SELECT n.n_name,
      |    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |      AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS m
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1),
      |sc AS (
      |  SELECT n_name, m,
      |    COUNT(*) OVER () AS k,
      |    SUM(m) OVER () AS sm,
      |    SUM(CAST(CAST(m AS DECIMAL(19,6)) * m AS DECIMAL(38,12)))
      |      OVER () AS sm2
      |  FROM means),
      |d AS (
      |  SELECT *,
      |    CAST(sm AS DOUBLE) / k AS xbar,
      |    SQRT((CAST(sm2 AS DOUBLE)
      |      - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / k) / (k - 1)) AS sd,
      |    ABS(CAST(m AS DOUBLE) - CAST(sm AS DOUBLE) / k) AS dev
      |  FROM sc)
      |SELECT CAST(k AS BIGINT) AS k, n_name AS outlier_nation,
      |  CAST(m AS DOUBLE) AS outlier_mean,
      |  ROUND(xbar, 6) AS grand_mean,
      |  ROUND(dev / sd, 6) AS g_stat
      |FROM d ORDER BY dev DESC, n_name LIMIT 1""".stripMargin

  /** q_stat_ks_uniform entry: one-sample KOLMOGOROV–SMIRNOV uniformity
    * test of the seeded hash contract itself — D = max over the sorted
    * md5Long60-derived uniforms of max(i/n − u₍ᵢ₎, u₍ᵢ₎ − (i−1)/n),
    * with the asymptotic √n·D statistic and the 1%-level gate
    * (√n·D < 1.628). Every seeded sampler, splitter, and DP mechanism
    * in this library leans on "md5Long60 reduced to [0,1) behaves
    * uniform"; this operator TESTS that assumption on the live key
    * population instead of assuming it — the self-audit a
    * reproducible-sampling stack should ship with.
    *
    * Scale shape: a narrow (hash) projection through
    * [[Rank.orderedPrefix]] — ONE range exchange yields both the rank
    * i and the count n (no SinglePartition window); the D terms
    * reduce by a global max. At 100 TB one tests a fixed-size hash
    * sample — shape unchanged. Determinism: u is an exact dyadic
    * rational of the integer hash; ranks exact; D is a max over
    * shared IEEE chains — no sum, no order dependence at all. */
  def ksUniformQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val two60 = lit(1152921504606846976L).cast("double")
    val u = (Hashing.md5Long60(concat(lit("ksu:"),
      $"o_orderkey".cast("string"))) + 1L).cast("double") / two60
    val ranked = Rank.orderedPrefix(
      t(s, dir, "orders").select($"o_orderkey", u.as("u")),
      order = Seq($"u", $"o_orderkey"),
      rnOut = Some("i"),
      countOut = Some("n"),
      uniform = Some((0.0, 1.0)))
      .withColumn("d", greatest(
        $"i".cast("double") / $"n" - $"u",
        $"u" - ($"i" - 1).cast("double") / $"n"))
    ranked.groupBy($"n")
      .agg(max($"d").as("d_stat"))
      .select($"n".cast("long").as("n"),
        round($"d_stat", 6).as("d_stat"),
        round(sqrt($"n".cast("double")) * $"d_stat", 6).as("sqrt_n_d"),
        (sqrt($"n".cast("double")) * $"d_stat" < 1.628).cast("int")
          .as("uniform_at_1pct"))
  }

  val ksUniformSql: String =
    """WITH keyed AS (
      |  SELECT o_orderkey,
      |    CAST(('0x' || substr(md5('ksu:' || CAST(o_orderkey AS VARCHAR)),
      |      1, 15))::UBIGINT::BIGINT + 1 AS DOUBLE)
      |      / CAST(1152921504606846976 AS DOUBLE) AS u
      |  FROM orders),
      |ranked AS (
      |  SELECT u,
      |    ROW_NUMBER() OVER (ORDER BY u, o_orderkey) AS i,
      |    COUNT(*) OVER () AS n
      |  FROM keyed),
      |d AS (
      |  SELECT n, MAX(GREATEST(CAST(i AS DOUBLE) / n - u,
      |    u - CAST(i - 1 AS DOUBLE) / n)) AS d_stat
      |  FROM ranked GROUP BY n)
      |SELECT CAST(n AS BIGINT) AS n, ROUND(d_stat, 6) AS d_stat,
      |  ROUND(SQRT(CAST(n AS DOUBLE)) * d_stat, 6) AS sqrt_n_d,
      |  CAST(SQRT(CAST(n AS DOUBLE)) * d_stat < 1.628 AS INT)
      |    AS uniform_at_1pct
      |FROM d""".stripMargin

  /** q_stat_kuiper entry: KUIPER'S TEST of the same hash-uniformity
    * contract [[ksUniformQ]] gates — V = D⁺ + D⁻ (Kuiper 1960), the
    * rotation-invariant EDF statistic that weighs BOTH one-sided gaps,
    * equally sensitive at the ends of the support where KS's single
    * max under-weights (exactly where a biased high-bit or modulo
    * artifact in a hash would show). The 1%-level gate uses the
    * finite-n form V·(√n + 0.155 + 0.24/√n) < 2.001 (Stephens 1970).
    *
    * Scale shape: identical to ks_uniform — one [[Rank.orderedPrefix]]
    * pass with uniform bounds (no quantile job, no SinglePartition
    * window); D⁺/D⁻ reduce by two global maxes. Determinism: exact
    * dyadic u, exact ranks, max over shared IEEE chains — no sums. */
  def kuiperQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val two60 = lit(1152921504606846976L).cast("double")
    val u = (Hashing.md5Long60(concat(lit("ksu:"),
      $"o_orderkey".cast("string"))) + 1L).cast("double") / two60
    val ranked = Rank.orderedPrefix(
      t(s, dir, "orders").select($"o_orderkey", u.as("u")),
      order = Seq($"u", $"o_orderkey"),
      rnOut = Some("i"),
      countOut = Some("n"),
      uniform = Some((0.0, 1.0)))
      .withColumn("dp", $"i".cast("double") / $"n" - $"u")
      .withColumn("dm", $"u" - ($"i" - 1).cast("double") / $"n")
    ranked.groupBy($"n")
      .agg(max($"dp").as("d_plus"), max($"dm").as("d_minus"))
      .select($"n".cast("long").as("n"),
        round($"d_plus", 6).as("d_plus"),
        round($"d_minus", 6).as("d_minus"),
        round($"d_plus" + $"d_minus", 6).as("v_stat"),
        round(($"d_plus" + $"d_minus") *
          (sqrt($"n".cast("double")) + lit(0.155) +
            lit(0.24) / sqrt($"n".cast("double"))), 6).as("v_star"),
        ((($"d_plus" + $"d_minus") *
          (sqrt($"n".cast("double")) + lit(0.155) +
            lit(0.24) / sqrt($"n".cast("double")))) < 2.001)
          .cast("int").as("uniform_at_1pct"))
  }

  val kuiperSql: String =
    """WITH keyed AS (
      |  SELECT o_orderkey,
      |    CAST(('0x' || substr(md5('ksu:' || CAST(o_orderkey AS VARCHAR)),
      |      1, 15))::UBIGINT::BIGINT + 1 AS DOUBLE)
      |      / CAST(1152921504606846976 AS DOUBLE) AS u
      |  FROM orders),
      |ranked AS (
      |  SELECT u,
      |    ROW_NUMBER() OVER (ORDER BY u, o_orderkey) AS i,
      |    COUNT(*) OVER () AS n
      |  FROM keyed),
      |d AS (
      |  SELECT n,
      |    MAX(CAST(i AS DOUBLE) / n - u) AS dp,
      |    MAX(u - CAST(i - 1 AS DOUBLE) / n) AS dm
      |  FROM ranked GROUP BY n)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND(dp, 6) AS d_plus, ROUND(dm, 6) AS d_minus,
      |  ROUND(dp + dm, 6) AS v_stat,
      |  ROUND((dp + dm) * (SQRT(CAST(n AS DOUBLE)) + 0.155
      |    + 0.24 / SQRT(CAST(n AS DOUBLE))), 6) AS v_star,
      |  CAST((dp + dm) * (SQRT(CAST(n AS DOUBLE)) + 0.155
      |    + 0.24 / SQRT(CAST(n AS DOUBLE))) < 2.001 AS INT)
      |    AS uniform_at_1pct
      |FROM d""".stripMargin

  /** q_stat_page_trend entry: PAGE'S L TEST for ordered alternatives
    * (Page 1963) — blocks = users with activity in ALL four January
    * weeks, ordered treatments = weeks 1..4 (cell = the user's weekly
    * mean `value`), midranked within user; L = Σⱼ j·Rⱼ, standardized
    * against E[L] = bk(k+1)²/4 and Var[L] = bk²(k+1)(k²−1)/144.
    * Friedman asks "do the weeks differ?"; Page asks the sharper
    * "do they TREND in week order?" — the drift-direction test a
    * cohort dashboard wants.
    *
    * Scale shape: the [[friedmanQ]] shape — per-(user, week)
    * combinable collapse, user-partitioned rank windows over
    * 4-bounded frames, pinned-week conditional DECIMAL rank sums, one
    * final 1-row IEEE chain. */
  def pageTrendQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val k = 4
    val cell = t(s, dir, "events")
      .filter($"ts" < lit("2024-01-29").cast("timestamp"))
      .groupBy($"user_id",
        (floor(datediff($"ts", lit("2024-01-01").cast("timestamp")) / 7) + 1)
          .cast("int").as("wk"))
      .agg((sum($"value".cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("cell"))
    val complete = cell
      .withColumn("n_wk", count(lit(1)).over(Window.partitionBy($"user_id")))
      .filter($"n_wk" === k)
    val wOrd = Window.partitionBy($"user_id").orderBy($"cell")
    val wTie = Window.partitionBy($"user_id", $"cell")
    val ranked = complete
      .withColumn("rk", rank().over(wOrd))
      .withColumn("tie_n", count(lit(1)).over(wTie))
      .withColumn("midrank",
        (($"rk" * 2 + $"tie_n" - 1).cast("decimal(18,1)") / 2)
          .cast("decimal(18,1)"))
    val agg = ranked.agg(
      countDistinct($"user_id").as("b"),
      sum(($"wk".cast("decimal(18,1)") * $"midrank").cast("decimal(28,1)"))
        .as("l"))
    agg.select(
      $"b".cast("long").as("b"), lit(k.toLong).as("k"),
      round($"l".cast("double"), 1).as("l_stat"),
      round(($"l".cast("double") -
        $"b".cast("double") * k * (k + 1) * (k + 1) / 4) /
        sqrt($"b".cast("double") * k * k * (k + 1) * (k * k - 1) / 144.0), 6)
        .as("z"))
  }

  val pageTrendSql: String = {
    val k = 4
    s"""WITH cell AS (
       |  SELECT user_id,
       |    CAST(FLOOR(datediff('day', TIMESTAMP '2024-01-01', ts) / 7) + 1
       |      AS INT) AS wk,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
       |      AS cell
       |  FROM events WHERE ts < TIMESTAMP '2024-01-29' GROUP BY 1, 2),
       |complete AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS n_wk
       |    FROM cell) WHERE n_wk = $k),
       |ranked AS (
       |  SELECT user_id, wk,
       |    CAST((RANK() OVER (PARTITION BY user_id ORDER BY cell) * 2
       |      + COUNT(*) OVER (PARTITION BY user_id, cell) - 1)
       |      AS DECIMAL(18,1)) / 2 AS midrank
       |  FROM complete),
       |a AS (
       |  SELECT COUNT(DISTINCT user_id) AS b,
       |    SUM(CAST(CAST(wk AS DECIMAL(18,1)) * midrank AS DECIMAL(28,1)))
       |      AS l
       |  FROM ranked)
       |SELECT CAST(b AS BIGINT) AS b, CAST($k AS BIGINT) AS k,
       |  ROUND(CAST(l AS DOUBLE), 1) AS l_stat,
       |  ROUND((CAST(l AS DOUBLE)
       |    - CAST(b AS DOUBLE) * $k * ${k + 1} * ${k + 1} / 4)
       |    / SQRT(CAST(b AS DOUBLE) * $k * $k * ${k + 1} * ${k * k - 1}
       |      / 144.0), 6) AS z
       |FROM a""".stripMargin
  }

  /** q_stat_lin_ccc entry: LIN'S CONCORDANCE CORRELATION COEFFICIENT
    * (Lin 1989) between the two per-user measurement channels of
    * [[blandAltmanQ]] (mean click vs mean view value) — CCC =
    * 2s_xy / (s²_x + s²_y + (x̄−ȳ)²), i.e. Pearson r × a bias-
    * correction factor C_b: agreement = precision × accuracy. The
    * single-number companion to Bland–Altman's limits: r can be 1
    * while the channels disagree by a constant; CCC cannot.
    *
    * Scale shape: the Bland–Altman frame — per-(user, channel) mean
    * collapse, one 1-row cross-moment aggregate. Determinism: channel
    * means from exact decimal sums; cross-moments 12-dp DECIMAL
    * sums; one final IEEE chain rounded 6. */
  def linCccQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = t(s, dir, "events")
      .filter($"event_type".isin("click", "view"))
      .groupBy($"user_id", $"event_type")
      .agg((sum($"value".cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("m"))
    val x = per.filter($"event_type" === "click")
      .select($"user_id", $"m".as("x"))
    val y = per.filter($"event_type" === "view")
      .select($"user_id", $"m".as("y"))
    val r12c = (c: Column) => round(c, 12).cast("decimal(38,12)")
    x.join(y, "user_id")
      .agg(count(lit(1)).as("n"),
        sum(r12c($"x")).as("sx"), sum(r12c($"y")).as("sy"),
        sum(r12c($"x" * $"x")).as("sxx"),
        sum(r12c($"y" * $"y")).as("syy"),
        sum(r12c($"x" * $"y")).as("sxy"))
      .select($"n".cast("long").as("n_users"),
        round((lit(2.0) * ($"sxy".cast("double") / $"n" -
          ($"sx".cast("double") / $"n") * ($"sy".cast("double") / $"n"))) /
          (($"sxx".cast("double") / $"n" -
            ($"sx".cast("double") / $"n") * ($"sx".cast("double") / $"n")) +
           ($"syy".cast("double") / $"n" -
            ($"sy".cast("double") / $"n") * ($"sy".cast("double") / $"n")) +
           (($"sx".cast("double") / $"n" - $"sy".cast("double") / $"n") *
            ($"sx".cast("double") / $"n" - $"sy".cast("double") / $"n"))),
          6).as("ccc"),
        round(($"sxy".cast("double") / $"n" -
          ($"sx".cast("double") / $"n") * ($"sy".cast("double") / $"n")) /
          sqrt(($"sxx".cast("double") / $"n" -
            ($"sx".cast("double") / $"n") * ($"sx".cast("double") / $"n")) *
            ($"syy".cast("double") / $"n" -
              ($"sy".cast("double") / $"n") * ($"sy".cast("double") / $"n"))),
          6).as("pearson_r"))
  }

  val linCccSql: String =
    """WITH per AS (
      |  SELECT user_id, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
      |xy AS (
      |  SELECT a.user_id, a.m AS x, b.m AS y
      |  FROM (SELECT user_id, m FROM per WHERE event_type = 'click') a
      |  JOIN (SELECT user_id, m FROM per WHERE event_type = 'view') b
      |    USING (user_id)),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      |  FROM xy)
      |SELECT CAST(n AS BIGINT) AS n_users,
      |  ROUND((2.0 * (sxy / n - (sx / n) * (sy / n)))
      |    / ((sxx / n - (sx / n) * (sx / n))
      |      + (syy / n - (sy / n) * (sy / n))
      |      + ((sx / n - sy / n) * (sx / n - sy / n))), 6) AS ccc,
      |  ROUND((sxy / n - (sx / n) * (sy / n))
      |    / SQRT((sxx / n - (sx / n) * (sx / n))
      |      * (syy / n - (sy / n) * (sy / n))), 6) AS pearson_r
      |FROM agg""".stripMargin

  /** q_stat_brunner_munzel entry: the BRUNNER–MUNZEL TEST (Brunner &
    * Munzel 2000) for click vs view `value` — the modern replacement
    * for Mann–Whitney when variances/shapes differ (the
    * Behrens–Fisher situation rank tests actually face): estimates
    * p̂ = P(X<Y) + ½P(X=Y) directly and studentizes with the
    * rank-variance estimator S²_g built from global-minus-within-group
    * midranks, W = n₁n₂(R̄₂−R̄₁) / ((n₁+n₂)·√(n₁S₁²+n₂S₂²)), with the
    * Welch-type df. Reported beside [[mannWhitneyQ]]: when they
    * disagree, the variance assumption is the culprit.
    *
    * Scale shape: the [[mannWhitneyQ]] per-distinct-value collapse
    * carries BOTH rank systems (global cum window + per-group cum
    * windows over the same value-bounded frame); deviations are
    * per-VALUE, weighted by counts — no per-row rank frame ever
    * exists. Determinism: midranks exact in 0.5 units; deviation
    * squares round to 10 dp into DECIMAL(38,10); one final IEEE
    * chain. */
  def brunnerMunzelQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val d = t(s, dir, "events")
      .filter($"event_type".isin("click", "view"))
      .groupBy($"value".as("v"))
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("c1"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("c2"))
    def mid(before: Column, cnt: Column): Column =
      (before.cast("decimal(18,1)") +
        (cnt + 1).cast("decimal(18,1)") / 2).cast("decimal(18,1)")
    val ranked = Rank.orderedPrefix(d, order = Seq($"v"),
        cums = Seq(
          Rank.Cum($"c1" + $"c2", "bAll", exclusive = true),
          Rank.Cum($"c1", "b1", exclusive = true),
          Rank.Cum($"c2", "b2", exclusive = true)))
      .withColumn("m", mid($"bAll", $"c1" + $"c2"))
      .withColumn("m1", mid($"b1", $"c1"))
      .withColumn("m2", mid($"b2", $"c2"))
    val tot = ranked.agg(
      sum($"c1").as("n1"), sum($"c2").as("n2"),
      sum(($"c1".cast("decimal(18,1)") * $"m").cast("decimal(28,1)"))
        .as("r1"),
      sum(($"c2".cast("decimal(18,1)") * $"m").cast("decimal(28,1)"))
        .as("r2"))
    val dev = ranked.crossJoin(broadcast(tot))
      .withColumn("rb1", $"r1".cast("double") / $"n1")
      .withColumn("rb2", $"r2".cast("double") / $"n2")
      .withColumn("d1", ($"m" - $"m1").cast("double") - $"rb1" +
        ($"n1" + 1).cast("double") / 2)
      .withColumn("d2", ($"m" - $"m2").cast("double") - $"rb2" +
        ($"n2" + 1).cast("double") / 2)
      .agg(
        max($"n1").as("n1"), max($"n2").as("n2"),
        max($"rb1").as("rb1"), max($"rb2").as("rb2"),
        sum(round($"c1" * $"d1" * $"d1", 10).cast("decimal(38,10)"))
          .as("ss1"),
        sum(round($"c2" * $"d2" * $"d2", 10).cast("decimal(38,10)"))
          .as("ss2"))
    dev
      .withColumn("s1", $"ss1".cast("double") / ($"n1" - 1))
      .withColumn("s2", $"ss2".cast("double") / ($"n2" - 1))
      .select($"n1".cast("long").as("n1"), $"n2".cast("long").as("n2"),
        round(($"rb2" - ($"n2" + 1).cast("double") / 2) / $"n1", 6)
          .as("p_hat"),
        round($"n1".cast("double") * $"n2" * ($"rb2" - $"rb1") /
          (($"n1" + $"n2").cast("double") *
            sqrt($"n1" * $"s1" + $"n2" * $"s2")), 6).as("w_stat"),
        round(($"n1" * $"s1" + $"n2" * $"s2") *
          ($"n1" * $"s1" + $"n2" * $"s2") /
          (($"n1" * $"s1") * ($"n1" * $"s1") / ($"n1" - 1) +
            ($"n2" * $"s2") * ($"n2" * $"s2") / ($"n2" - 1)), 2).as("df"))
  }

  val brunnerMunzelSql: String =
    """WITH d AS (
      |  SELECT value AS v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
      |r AS (
      |  SELECT *,
      |    CAST(COALESCE(SUM(c1 + c2) OVER w, 0) AS DECIMAL(18,1))
      |      + CAST(c1 + c2 + 1 AS DECIMAL(18,1)) / 2 AS m,
      |    CAST(COALESCE(SUM(c1) OVER w, 0) AS DECIMAL(18,1))
      |      + CAST(c1 + 1 AS DECIMAL(18,1)) / 2 AS m1,
      |    CAST(COALESCE(SUM(c2) OVER w, 0) AS DECIMAL(18,1))
      |      + CAST(c2 + 1 AS DECIMAL(18,1)) / 2 AS m2
      |  FROM d
      |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND 1 PRECEDING)),
      |tot AS (
      |  SELECT SUM(c1) AS n1, SUM(c2) AS n2,
      |    SUM(CAST(CAST(c1 AS DECIMAL(18,1)) * m AS DECIMAL(28,1))) AS r1,
      |    SUM(CAST(CAST(c2 AS DECIMAL(18,1)) * m AS DECIMAL(28,1))) AS r2
      |  FROM r),
      |dev AS (
      |  SELECT MAX(n1) AS n1, MAX(n2) AS n2,
      |    MAX(CAST(r1 AS DOUBLE) / n1) AS rb1,
      |    MAX(CAST(r2 AS DOUBLE) / n2) AS rb2,
      |    SUM(CAST(ROUND(c1 * (CAST(m - m1 AS DOUBLE)
      |      - CAST(r1 AS DOUBLE) / n1 + CAST(n1 + 1 AS DOUBLE) / 2)
      |      * (CAST(m - m1 AS DOUBLE)
      |      - CAST(r1 AS DOUBLE) / n1 + CAST(n1 + 1 AS DOUBLE) / 2), 10)
      |      AS DECIMAL(38,10))) AS ss1,
      |    SUM(CAST(ROUND(c2 * (CAST(m - m2 AS DOUBLE)
      |      - CAST(r2 AS DOUBLE) / n2 + CAST(n2 + 1 AS DOUBLE) / 2)
      |      * (CAST(m - m2 AS DOUBLE)
      |      - CAST(r2 AS DOUBLE) / n2 + CAST(n2 + 1 AS DOUBLE) / 2), 10)
      |      AS DECIMAL(38,10))) AS ss2
      |  FROM r CROSS JOIN tot),
      |fin AS (
      |  SELECT n1, n2, rb1, rb2,
      |    CAST(ss1 AS DOUBLE) / (n1 - 1) AS s1,
      |    CAST(ss2 AS DOUBLE) / (n2 - 1) AS s2
      |  FROM dev)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  ROUND((rb2 - CAST(n2 + 1 AS DOUBLE) / 2) / n1, 6) AS p_hat,
      |  ROUND(CAST(n1 AS DOUBLE) * n2 * (rb2 - rb1)
      |    / (CAST(n1 + n2 AS DOUBLE) * SQRT(n1 * s1 + n2 * s2)), 6)
      |    AS w_stat,
      |  ROUND((n1 * s1 + n2 * s2) * (n1 * s1 + n2 * s2)
      |    / ((n1 * s1) * (n1 * s1) / (n1 - 1)
      |      + (n2 * s2) * (n2 * s2) / (n2 - 1)), 2) AS df
      |FROM fin""".stripMargin

  /** q_stat_ca_trend entry: COCHRAN–ARMITAGE TREND TEST for a
    * proportion across ordered groups — weeks 1..4 of January as the
    * ordered exposure, success = "event value ≥ 50"; Z =
    * Σwᵢ(xᵢ − nᵢ·p̄) / √(p̄(1−p̄)·[Σw²ᵢnᵢ − (Σwᵢnᵢ)²/N]) with scores
    * w = 1..4. THE dose-response / drift-in-rate test: χ² asks "do
    * rates differ?", CA asks the 1-df sharper "do they rise or fall
    * with the ordering?" — the proportions twin of [[pageTrendQ]].
    *
    * Scale shape: one combinable (week) collapse to a 4-row frame;
    * the statistic is exact-integer sums into one IEEE chain.
    * Determinism: counts exact; single final chain rounded 6. */
  def caTrendQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wk = t(s, dir, "events")
      .filter($"ts" < lit("2024-01-29").cast("timestamp"))
      .groupBy((floor(datediff($"ts",
        lit("2024-01-01").cast("timestamp")) / 7) + 1).cast("long").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(($"value" >= 50.0).cast("long")).as("x"))
    wk.agg(
        sum($"n").as("nn"), sum($"x").as("xx"),
        sum($"w" * $"x").as("swx"), sum($"w" * $"n").as("swn"),
        sum($"w" * $"w" * $"n").as("sw2n"))
      .select($"nn".cast("long").as("n"), $"xx".cast("long").as("successes"),
        round(($"xx".cast("double") / $"nn"), 6).as("pooled_rate"),
        round(($"swx".cast("double") -
          $"swn".cast("double") * $"xx".cast("double") / $"nn") /
          sqrt(($"xx".cast("double") / $"nn") *
            (lit(1.0) - $"xx".cast("double") / $"nn") *
            ($"sw2n".cast("double") -
              $"swn".cast("double") * $"swn".cast("double") / $"nn")), 6)
          .as("z_trend"))
  }

  val caTrendSql: String =
    """WITH wk AS (
      |  SELECT CAST(FLOOR(datediff('day', TIMESTAMP '2024-01-01', ts) / 7)
      |      + 1 AS BIGINT) AS w,
      |    COUNT(*) AS n,
      |    SUM(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS x
      |  FROM events WHERE ts < TIMESTAMP '2024-01-29' GROUP BY 1),
      |a AS (
      |  SELECT SUM(n) AS nn, SUM(x) AS xx, SUM(w * x) AS swx,
      |    SUM(w * n) AS swn, SUM(w * w * n) AS sw2n
      |  FROM wk)
      |SELECT CAST(nn AS BIGINT) AS n, CAST(xx AS BIGINT) AS successes,
      |  ROUND(CAST(xx AS DOUBLE) / nn, 6) AS pooled_rate,
      |  ROUND((CAST(swx AS DOUBLE) - CAST(swn AS DOUBLE) * CAST(xx AS DOUBLE) / nn)
      |    / SQRT((CAST(xx AS DOUBLE) / nn) * (1.0 - CAST(xx AS DOUBLE) / nn)
      |      * (CAST(sw2n AS DOUBLE)
      |        - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE) / nn)), 6)
      |    AS z_trend
      |FROM a""".stripMargin

  /** q_sample_cluster entry: TWO-STAGE CLUSTER SAMPLING with the
    * DESIGN-EFFECT audit — stage 1 samples whole users (the natural
    * access unit when data lives sharded by user), stage 2 takes ALL
    * their events; the estimate's variance is inflated vs SRS by
    * deff ≈ 1 + (m̄−1)·ICC because same-cluster observations correlate.
    * The operator draws a seeded ~50% user sample, estimates the mean
    * event value, and reports the ANOVA-derived ICC and deff of the
    * CLUSTER DESIGN measured on the full population — the number that
    * says how many extra rows cluster sampling costs vs row sampling.
    *
    * Scale shape: user sampling is a pure hash map; per-user moments
    * are one combinable collapse; ICC/deff run on the user-bounded
    * frame. Determinism: exact DECIMAL(18,2) sums; fixed IEEE chains
    * rounded 6. */
  def clusterSampleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = $"value".cast("decimal(18,2)")
    val per = t(s, dir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("m"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .withColumn("in_sample",
        (Hashing.md5Long60(concat(lit("cs:"), $"user_id".cast("string")))
          % 2 === 0).cast("long"))
    val agg = per.agg(
      count(lit(1)).as("k"), sum($"m").as("n"),
      sum($"sx").cast("double").as("tsx"),
      sum($"sxx").cast("double").as("tsxx"),
      sum(round(($"sx".cast("double") * $"sx".cast("double")) / $"m", 10)
        .cast("decimal(38,10)")).cast("double").as("sb_raw"),
      sum(when($"in_sample" === 1, 1L).otherwise(0L)).as("k_s"),
      sum(when($"in_sample" === 1, $"m")).as("n_s"),
      sum(when($"in_sample" === 1, $"sx")).cast("double").as("sx_s"))
    agg.select(
        $"k".cast("long").as("n_clusters"),
        $"n".cast("long").as("n_events"),
        $"k_s".cast("long").as("n_sampled_clusters"),
        $"n_s".cast("long").as("n_sampled_events"),
        round($"tsx" / $"n", 6).as("true_mean"),
        round($"sx_s" / $"n_s", 6).as("cluster_estimate"),
        // one-way ANOVA on clusters: SSB = Σ s²/m − (Σs)²/n, SSW = Σx² − Σ s²/m
        $"k", $"n", $"tsx", $"tsxx", $"sb_raw")
      .select($"n_clusters", $"n_events", $"n_sampled_clusters",
        $"n_sampled_events", $"true_mean", $"cluster_estimate",
        round({
          val ssb = $"sb_raw" - $"tsx" * $"tsx" / $"n"
          val ssw = $"tsxx" - $"sb_raw"
          val msb = ssb / ($"k" - 1)
          val msw = ssw / ($"n" - $"k")
          val m0 = $"n".cast("double") / $"k" // mean cluster size proxy
          (msb - msw) / (msb + (m0 - 1) * msw)
        }, 6).as("icc"),
        round({
          val ssb = $"sb_raw" - $"tsx" * $"tsx" / $"n"
          val ssw = $"tsxx" - $"sb_raw"
          val msb = ssb / ($"k" - 1)
          val msw = ssw / ($"n" - $"k")
          val m0 = $"n".cast("double") / $"k"
          lit(1.0) + (m0 - 1) * ((msb - msw) / (msb + (m0 - 1) * msw))
        }, 6).as("deff"))
  }

  val clusterSampleSql: String =
    """WITH per AS (
      |  SELECT user_id, COUNT(*) AS m,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS sx,
      |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
      |      AS sxx,
      |    CASE WHEN ('0x' || substr(md5('cs:' || CAST(user_id AS VARCHAR)),
      |      1, 15))::UBIGINT::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS in_sample
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT COUNT(*) AS k, SUM(m) AS n,
      |    CAST(SUM(sx) AS DOUBLE) AS tsx,
      |    CAST(SUM(sxx) AS DOUBLE) AS tsxx,
      |    CAST(SUM(CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m,
      |      10) AS DECIMAL(38,10))) AS DOUBLE) AS sb_raw,
      |    SUM(in_sample) AS k_s,
      |    SUM(CASE WHEN in_sample = 1 THEN m END) AS n_s,
      |    CAST(SUM(CASE WHEN in_sample = 1 THEN sx END) AS DOUBLE) AS sx_s
      |  FROM per),
      |f AS (
      |  SELECT *,
      |    (sb_raw - tsx * tsx / n) / (k - 1) AS msb,
      |    (tsxx - sb_raw) / (n - k) AS msw,
      |    CAST(n AS DOUBLE) / k AS m0
      |  FROM a)
      |SELECT CAST(k AS BIGINT) AS n_clusters, CAST(n AS BIGINT) AS n_events,
      |  CAST(k_s AS BIGINT) AS n_sampled_clusters,
      |  CAST(n_s AS BIGINT) AS n_sampled_events,
      |  ROUND(tsx / n, 6) AS true_mean,
      |  ROUND(sx_s / n_s, 6) AS cluster_estimate,
      |  ROUND((msb - msw) / (msb + (m0 - 1) * msw), 6) AS icc,
      |  ROUND(1.0 + (m0 - 1) * ((msb - msw) / (msb + (m0 - 1) * msw)), 6)
      |    AS deff
      |FROM f""".stripMargin

  /** q_stat_moods_median entry: MOOD'S MEDIAN TEST across the five
    * event types — each observation scored above/below the GLOBAL
    * exact median (the lower-median order statistic, data-derived in
    * both engines), then the k×2 contingency χ². The bluntest and most
    * outlier-proof of the k-group location tests (only the sign of the
    * deviation from the pooled median enters) — the sanity check run
    * when even rank tests are suspect, completing the location-test
    * ladder beside [[anovaQ]] (means), [[kruskalQ]] (ranks), and
    * [[friedmanQ]] (blocked ranks).
    *
    * Scale shape: the global median is one distributed
    * [[Rank.orderedPrefix]] pass over the value-bounded distinct
    * collapse (no raw-row sort, no SinglePartition window); the above/
    * below table is one combinable conditional aggregate; χ² on the
    * k×2 frame. Determinism: the median is an exact data value;
    * counts exact integers; per-cell terms 9-dp DECIMAL sums. */
  def moodsMedianQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = EvTypes
    val ev = t(s, dir, "events")
    // exact lower median by selection: the FIRST distinct value whose
    // inclusive prefix count reaches (n+1) div 2 is the one where the
    // exclusive prefix is still short of it — one Rank pass, no
    // SinglePartition window, no post-filter row_number needed
    val med = Rank.orderedPrefix(
      ev.groupBy($"value".as("v")).agg(count(lit(1)).as("c")),
      order = Seq($"v"),
      cums = Seq(Rank.Cum($"c", "cum")),
      totals = Seq(($"c", "n")))
      .filter($"cum" >= expr("(n + 1) div 2") &&
        $"cum" - $"c" < expr("(n + 1) div 2"))
      .select($"v".as("median"))
    val cells = ev.crossJoin(broadcast(med))
      .select($"event_type", ($"value" > $"median").cast("long").as("ab"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"ab").as("above"))
    val tot = cells.agg(sum($"n").as("nn"), sum($"above").as("ta"))
    cells.crossJoin(broadcast(tot))
      .withColumn("e_above", $"n".cast("double") * $"ta" / $"nn")
      .withColumn("e_below",
        $"n".cast("double") * ($"nn" - $"ta") / $"nn")
      .withColumn("term",
        round(($"above" - $"e_above") * ($"above" - $"e_above")
          / $"e_above" +
          (($"n" - $"above") - $"e_below") * (($"n" - $"above") - $"e_below")
          / $"e_below", 9).cast("decimal(28,9)"))
      .agg(max($"nn").as("n"), count(lit(1)).as("k"),
        sum($"term").as("chi2"))
      .select($"n".cast("long").as("n"), $"k".cast("long").as("k"),
        ($"k" - 1).cast("long").as("dof"),
        round($"chi2".cast("double"), 6).as("chi2_stat"))
  }

  val moodsMedianSql: String =
    """WITH vals AS (
      |  SELECT value AS v, COUNT(*) AS c FROM events GROUP BY 1),
      |med AS (
      |  SELECT v AS median FROM (
      |    SELECT v,
      |      SUM(c) OVER () AS n,
      |      SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND CURRENT ROW) AS cum
      |    FROM vals)
      |  WHERE cum >= (n + 1) // 2 ORDER BY v LIMIT 1),
      |cells AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CASE WHEN value > median THEN 1 ELSE 0 END) AS above
      |  FROM events CROSS JOIN med GROUP BY 1),
      |tot AS (SELECT SUM(n) AS nn, SUM(above) AS ta FROM cells),
      |terms AS (
      |  SELECT nn,
      |    CAST(ROUND(
      |      (above - CAST(n AS DOUBLE) * ta / nn)
      |        * (above - CAST(n AS DOUBLE) * ta / nn)
      |        / (CAST(n AS DOUBLE) * ta / nn)
      |      + ((n - above) - CAST(n AS DOUBLE) * (nn - ta) / nn)
      |        * ((n - above) - CAST(n AS DOUBLE) * (nn - ta) / nn)
      |        / (CAST(n AS DOUBLE) * (nn - ta) / nn), 9)
      |      AS DECIMAL(28,9)) AS term
      |  FROM cells CROSS JOIN tot)
      |SELECT CAST(MAX(nn) AS BIGINT) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS k,
      |  CAST(COUNT(*) - 1 AS BIGINT) AS dof,
      |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2_stat
      |FROM terms""".stripMargin

  /** q_stat_jonckheere entry: JONCKHEERE–TERPSTRA TEST for ordered
    * alternatives — JT = Σ_{j<k} U_jk over the 4 ordered January weeks
    * (U counts week-j observations below week-k observations, ties ½),
    * standardized against the null mean (N²−Σn²)/4 and the no-tie
    * variance (N²(2N+3)−Σn²(2n+3))/72 (documented; ties in a
    * continuous double value column are measure-zero — the
    * [[mannWhitneyQ]] convention). Where [[pageTrendQ]] needs COMPLETE
    * user blocks, JT tests the same "does value rise across weeks?"
    * on the raw pooled observations — the trend test that loses no
    * data to incomplete panels.
    *
    * Scale shape: ONE value-bounded distinct collapse with pinned
    * per-week count columns; 4 cumulative windows price all 6 pairwise
    * U's simultaneously; one final 1-row chain. Determinism: U exact
    * in 0.5 units (DECIMAL sums), counts exact integers, one IEEE
    * chain rounded 6. */
  def jonckheereQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val k = 4
    val wk = t(s, dir, "events")
      .filter($"ts" < lit("2024-01-29").cast("timestamp"))
      .groupBy($"value".as("v"))
      .agg((1 to k).map(j =>
        sum(when((floor(datediff($"ts",
          lit("2024-01-01").cast("timestamp")) / 7) + 1) === j, 1L)
          .otherwise(0L)).as(s"c$j")).head,
        (2 to k).map(j =>
          sum(when((floor(datediff($"ts",
            lit("2024-01-01").cast("timestamp")) / 7) + 1) === j, 1L)
            .otherwise(0L)).as(s"c$j")): _*)
    val cum = Rank.orderedPrefix(wk, order = Seq($"v"),
      cums = (1 to k).map(j =>
        Rank.Cum(col(s"c$j"), s"b$j", exclusive = true)))
    // U_jk contribution at value v: c_k(v)·before_j(v) + c_j(v)·c_k(v)/2
    val uTerms = for { j <- 1 to k; kk <- 1 to k if j < kk } yield
      sum((col(s"c$kk").cast("decimal(18,1)") * col(s"b$j") +
        col(s"c$j").cast("decimal(18,1)") * col(s"c$kk") / 2)
        .cast("decimal(28,1)")).as(s"u_${j}_$kk")
    val nCols = (1 to k).map(j => sum(col(s"c$j")).as(s"n$j"))
    val agg = cum.agg((uTerms ++ nCols).head, (uTerms ++ nCols).tail: _*)
    val jt = (for { j <- 1 to k; kk <- 1 to k if j < kk }
      yield col(s"u_${j}_$kk").cast("double")).reduce(_ + _)
    val nAll = (1 to k).map(j => col(s"n$j")).reduce(_ + _)
    val sumN2 = (1 to k).map(j => col(s"n$j") * col(s"n$j")).reduce(_ + _)
    val sumVar = (1 to k).map(j =>
      col(s"n$j").cast("double") * col(s"n$j") *
        (lit(2) * col(s"n$j") + 3)).reduce(_ + _)
    agg.select(
      nAll.cast("long").as("n"), lit(k.toLong).as("k"),
      round(jt, 1).as("jt_stat"),
      round((jt - (nAll.cast("double") * nAll - sumN2.cast("double")) / 4) /
        sqrt((nAll.cast("double") * nAll * (lit(2) * nAll + 3) - sumVar)
          / 72.0), 6).as("z"))
  }

  val jonckheereSql: String = {
    val k = 4
    def wkExpr =
      "CAST(FLOOR(datediff('day', TIMESTAMP '2024-01-01', ts) / 7) + 1 AS INT)"
    val cs = (1 to k).map(j =>
      s"SUM(CASE WHEN $wkExpr = $j THEN 1 ELSE 0 END) AS c$j")
    val bs = (1 to k).map(j =>
      s"COALESCE(SUM(c$j) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        s"PRECEDING AND 1 PRECEDING), 0) AS b$j")
    val us = for { j <- 1 to k; kk <- 1 to k if j < kk } yield
      s"SUM(CAST(CAST(c$kk AS DECIMAL(18,1)) * b$j " +
        s"+ CAST(c$j AS DECIMAL(18,1)) * c$kk / 2 AS DECIMAL(28,1))) " +
        s"AS u_${j}_$kk"
    val ns = (1 to k).map(j => s"SUM(c$j) AS n$j")
    val jt = (for { j <- 1 to k; kk <- 1 to k if j < kk }
      yield s"CAST(u_${j}_$kk AS DOUBLE)").mkString(" + ")
    val nAll = (1 to k).map(j => s"n$j").mkString(" + ")
    val sumN2 = (1 to k).map(j => s"n$j * n$j").mkString(" + ")
    val sumVar = (1 to k).map(j =>
      s"CAST(n$j AS DOUBLE) * n$j * (2 * n$j + 3)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT value AS v, ${cs.mkString(",\n    ")}
       |  FROM events WHERE ts < TIMESTAMP '2024-01-29' GROUP BY 1),
       |c AS (
       |  SELECT *, ${bs.mkString(",\n    ")}
       |  FROM d),
       |a AS (
       |  SELECT ${(us ++ ns).mkString(",\n    ")}
       |  FROM c)
       |SELECT CAST($nAll AS BIGINT) AS n, CAST($k AS BIGINT) AS k,
       |  ROUND($jt, 1) AS jt_stat,
       |  ROUND((($jt) - (CAST($nAll AS DOUBLE) * ($nAll)
       |      - CAST($sumN2 AS DOUBLE)) / 4)
       |    / SQRT((CAST($nAll AS DOUBLE) * ($nAll) * (2 * ($nAll) + 3)
       |      - ($sumVar)) / 72.0), 6) AS z
       |FROM a""".stripMargin
  }

  /** q_stat_siegel_tukey entry: SIEGEL–TUKEY RANK TEST FOR SCALE —
    * click vs view `value` dispersion with NO distributional
    * assumptions, completing the homogeneity ladder beside
    * [[bartlettQ]] (normal-theory) and [[leveneQ]] (robust-mean):
    * rank observations alternating FROM THE EXTREMES (1 to the
    * smallest; 2,3 to the two largest; 4,5 to the next two smallest …)
    * so a low-dispersion group concentrates in the middle and
    * collects HIGH ranks, then run the Mann–Whitney machinery on
    * those ranks. Ranks are assigned per POSITION in the
    * (value, event_id) total order — a pinned deterministic
    * convention both engines share exactly (the classical
    * distinct-observation form; position ties are measure-zero for a
    * continuous value and the tiebreak is documented).
    *
    * Closed-form position→rank map (p = ascending position, m = N−p+1
    * = descending position): left half (p ≤ (N+1) div 2): rank =
    * 2p−(p mod 2); right half: rank = 2m−((m+1) mod 2). Scale shape:
    * [[Rank.orderedPrefix]] — ONE range exchange of the narrow
    * (value, id, group) frame delivers both the position p and the
    * frame count nn (no SinglePartition window); rank sums are
    * combinable exact-integer aggregates; one final IEEE chain. */
  def siegelTukeyQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = Rank.orderedPrefix(
      t(s, dir, "events")
        .filter($"event_type".isin("click", "view"))
        .select($"event_id", $"event_type", $"value"),
      order = Seq($"value", $"event_id"),
      rnOut = Some("p"),
      countOut = Some("nn"))
      .withColumn("st_rank",
        when($"p" <= expr("(nn + 1) div 2"),
          lit(2) * $"p" - pmod($"p", lit(2)))
          .otherwise(
            lit(2) * ($"nn" - $"p" + 1) -
              pmod($"nn" - $"p" + 2, lit(2))))
    ranked.agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n1"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("n2"),
        sum(when($"event_type" === "click", $"st_rank").otherwise(0L))
          .as("r1"))
      .select($"n1".cast("long").as("n1"), $"n2".cast("long").as("n2"),
        $"r1".cast("long").as("r1"),
        round(($"r1".cast("double") -
          $"n1".cast("double") * ($"n1" + 1) / 2), 1).as("u1"),
        round((($"r1".cast("double") -
          $"n1".cast("double") * ($"n1" + 1) / 2) -
          $"n1".cast("double") * $"n2" / 2) /
          sqrt($"n1".cast("double") * $"n2" * ($"n1" + $"n2" + 1) / 12), 6)
          .as("z"))
  }

  val siegelTukeySql: String =
    """WITH ranked AS (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (ORDER BY value, event_id) AS p,
      |    COUNT(*) OVER () AS nn
      |  FROM events WHERE event_type IN ('click', 'view')),
      |st AS (
      |  SELECT event_type,
      |    CASE WHEN p <= (nn + 1) // 2
      |      THEN 2 * p - (p % 2)
      |      ELSE 2 * (nn - p + 1) - ((nn - p + 2) % 2) END AS st_rank
      |  FROM ranked),
      |a AS (
      |  SELECT
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
      |    SUM(CASE WHEN event_type = 'click' THEN st_rank ELSE 0 END) AS r1
      |  FROM st)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(r1 AS BIGINT) AS r1,
      |  ROUND(CAST(r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) / 2, 1)
      |    AS u1,
      |  ROUND(((CAST(r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) / 2)
      |      - CAST(n1 AS DOUBLE) * n2 / 2)
      |    / SQRT(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12), 6) AS z
      |FROM a""".stripMargin

  /** q_stat_cvm entry: TWO-SAMPLE CRAMÉR–VON MISES test (click vs
    * view) — the quadratic-EDF statistic T = U/(nm(n+m)) −
    * (4nm−1)/(6(n+m)) with U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)² (Anderson
    * 1962), where r/s are combined-sample ranks and i/j within-sample
    * ranks. KS ([[graft.ops.Drift]]) weighs the single worst EDF gap;
    * CvM integrates the SQUARED gap over the whole distribution —
    * sensitive to broad shape differences KS under-weights. Ranks are
    * positions in the pinned (value, event_id) total order (the
    * [[siegelTukeyQ]] convention — deterministic and identical across
    * engines; continuous-value position ties are measure-zero).
    *
    * Scale shape: [[Rank.orderedPrefix]] — ONE range exchange of the
    * narrow frame gives the combined rank r, and the within-group
    * ranks i ride the same pass as running sums of the two group
    * indicators (no per-group 2-task window, no SinglePartition); the
    * deviation squares reduce as exact DECIMAL(38,0) combinable sums
    * ([[rankDiffSq]] — decimal BEFORE the multiply, since the int64
    * square wraps past N ≈ 3·10⁹) and U combines them in IEEE double
    * (n·d1 ≤ N⁴ exceeds every fixed-width integer at ~6·10⁹); one
    * final IEEE chain both engines mirror. */
  def cvmQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = Rank.orderedPrefix(
      t(s, dir, "events")
        .filter($"event_type".isin("click", "view"))
        .select($"event_id", $"event_type", $"value"),
      order = Seq($"value", $"event_id"),
      rnOut = Some("r"),
      cums = Seq(
        Rank.Cum(when($"event_type" === "click", 1L).otherwise(0L), "cum_c"),
        Rank.Cum(when($"event_type" === "view", 1L).otherwise(0L), "cum_v")))
      .withColumn("i",
        when($"event_type" === "click", $"cum_c").otherwise($"cum_v"))
    // U overflows BIGINT past ~10^5 rows per group (n·Σ(r−i)² ~ n·N³),
    // caught by the sf1 decade bench. r14 hardening: the per-row square
    // itself is int64 math up to (r−i) ≈ 3·10⁹ — [[rankDiffSq]] casts
    // BEFORE multiplying (exact DECIMAL(38,0), Σ holds to N ≈ 4.6·10¹²)
    // — and the n·d1+m·d2 combination (≤ N⁴, past DECIMAL(38,0) at
    // N ≈ 6·10⁹) now combines the exact sums in IEEE double instead:
    // one correctly-rounded conversion per sum, then double arithmetic
    // both engines mirror operation-for-operation.
    val u = $"n".cast("double") * $"d1".cast("double") +
      $"m".cast("double") * $"d2".cast("double")
    ranked.agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("m"),
        sum(when($"event_type" === "click", rankDiffSq($"r" - $"i"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(38,0)"))).as("d1"),
        sum(when($"event_type" === "view", rankDiffSq($"r" - $"i"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(38,0)"))).as("d2"))
      .select($"n".cast("long").as("n"), $"m".cast("long").as("m"),
        u.as("u"),
        round(u /
          ($"n".cast("double") * $"m" * ($"n" + $"m")) -
          (lit(4.0) * $"n" * $"m" - 1) / (lit(6.0) * ($"n" + $"m")), 6)
          .as("t_stat"))
  }

  val cvmSql: String =
    """WITH ranked AS (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (ORDER BY value, event_id) AS r,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS i
      |  FROM events WHERE event_type IN ('click', 'view')),
      |a AS (
      |  SELECT
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS m,
      |    SUM(CASE WHEN event_type = 'click'
      |      THEN CAST(r - i AS HUGEINT) * (r - i)
      |      ELSE CAST(0 AS HUGEINT) END) AS d1,
      |    SUM(CASE WHEN event_type = 'view'
      |      THEN CAST(r - i AS HUGEINT) * (r - i)
      |      ELSE CAST(0 AS HUGEINT) END) AS d2
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
      |  CAST(n AS DOUBLE) * CAST(d1 AS DOUBLE)
      |    + CAST(m AS DOUBLE) * CAST(d2 AS DOUBLE) AS u,
      |  ROUND((CAST(n AS DOUBLE) * CAST(d1 AS DOUBLE)
      |      + CAST(m AS DOUBLE) * CAST(d2 AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * m * (n + m))
      |    - (4.0 * n * m - 1) / (6.0 * (n + m)), 6) AS t_stat
      |FROM a""".stripMargin

  /** Exact Mᵢ·N − n·i as a correctly-rounded double. Each factor casts
    * to DECIMAL(19,0) BEFORE multiplying, so the products are
    * DECIMAL(38,0) — exact to N = 10¹⁹ — and the difference never
    * touches int64 (where Mᵢ·N ≤ N² wraps past N ≈ 3·10⁹). Factored
    * out so [[StatsSpec]] can replay it at a synthetic N beyond the
    * int64 wrap point, which no row-count gate can reach. */
  private[graft] def adNumerator(mi: Column, nn: Column, n1: Column,
      i: Column): Column = {
    def d(c: Column) = c.cast("decimal(19,0)")
    (d(mi) * d(nn) - d(n1) * d(i)).cast("double")
  }

  /** Exact (r−i)² as DECIMAL(38,0): a rank difference reaches N, so
    * its int64 square wraps past N ≈ 3·10⁹ — decimal before multiply
    * (the same class [[adNumerator]] guards). */
  private[graft] def rankDiffSq(d: Column): Column =
    d.cast("decimal(19,0)") * d.cast("decimal(19,0)")

  /** Wilcoxon W⁺ accumulator: Σ ranks ≤ N(N+1)/2 overflows int64 past
    * N ≈ 4.3·10⁹ pairs — accumulate DECIMAL(38,0), exact to 10³⁸. */
  private[graft] def wPlusSum(d: Column, rk: Column): Column =
    sum(when(d > 0, rk).otherwise(0L).cast("decimal(38,0)"))

  /** q_stat_ad entry: TWO-SAMPLE ANDERSON–DARLING test (Pettitt 1976;
    * Scholz–Stephens 1987, k = 2) — click vs view, rank computing form
    * A² = (1/nm)·Σᵢ₌₁^{N−1} (Mᵢ·N − n·i)² / (i·(N−i)) where Mᵢ counts
    * clicks among the i smallest of the pooled sample. Completes the
    * EDF ladder: KS weighs the single worst gap, CvM the integrated
    * squared gap, AD re-weights that integral by 1/(F(1−F)) — maximal
    * sensitivity in the TAILS, which is where corpus-quality
    * distributions actually drift. Ranks are positions in the pinned
    * (value, event_id) total order (the [[cvmQ]] convention;
    * continuous-value ties are measure-zero, documented).
    *
    * Scale shape: ONE [[Rank.orderedPrefix]] pass delivers rank i,
    * frame count N, the running click count Mᵢ, and the click total n
    * together — no SinglePartition window; the weighted squares reduce
    * as a combinable 9-dp DECIMAL sum. Numerics: Mᵢ·N − n·i reaches N²,
    * which OVERFLOWS int64 past N ≈ 3·10⁹ pooled events — so every
    * factor casts to DECIMAL(19,0) BEFORE the multiplies
    * ([[adNumerator]]; products are DECIMAL(38,0), exact to N = 10¹⁹ —
    * the [[cvmQ]] 64-bit lesson, which r13's first cut of this operator
    * reintroduced by casting only the RESULT); the exact difference
    * converts once to double and squares in IEEE (correctly rounded,
    * identical in both engines), each term one shared divide rounded
    * to 9 dp. */
  def adTwoSampleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val click = when($"event_type" === "click", 1L).otherwise(0L)
    val ranked = Rank.orderedPrefix(
      t(s, dir, "events")
        .filter($"event_type".isin("click", "view"))
        .select($"event_id", $"event_type", $"value"),
      order = Seq($"value", $"event_id"),
      rnOut = Some("i"), countOut = Some("nn"),
      cums = Seq(Rank.Cum(click, "mi")),
      totals = Seq((click, "n1")))
    val num = adNumerator($"mi", $"nn", $"n1", $"i")
    ranked.filter($"i" < $"nn")
      .select($"nn", $"n1",
        round((num * num) /
          ($"i".cast("double") * ($"nn" - $"i")), 9)
          .cast("decimal(28,9)").as("term"))
      .groupBy($"nn", $"n1")
      .agg(sum($"term").as("tsum"))
      .select($"n1".cast("long").as("n1"),
        ($"nn" - $"n1").cast("long").as("n2"),
        round($"tsum".cast("double") /
          ($"n1".cast("double") * ($"nn" - $"n1")), 6).as("a2"))
  }

  val adTwoSampleSql: String =
    """WITH ranked AS (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (ORDER BY value, event_id) AS i,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      OVER (ORDER BY value, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mi,
      |    COUNT(*) OVER () AS nn,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      OVER () AS n1
      |  FROM events WHERE event_type IN ('click', 'view')),
      |t0 AS (
      |  SELECT nn, n1, i,
      |    CAST(CAST(mi AS HUGEINT) * nn - CAST(n1 AS HUGEINT) * i
      |      AS DOUBLE) AS numd
      |  FROM ranked WHERE i < nn),
      |t AS (
      |  SELECT nn, n1,
      |    SUM(CAST(ROUND(numd * numd
      |      / (CAST(i AS DOUBLE) * (nn - i)), 9) AS DECIMAL(28,9)))
      |      AS tsum
      |  FROM t0 GROUP BY 1, 2)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(nn - n1 AS BIGINT) AS n2,
      |  ROUND(CAST(tsum AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * (nn - n1)), 6) AS a2
      |FROM t""".stripMargin

  /** q_stat_ad_ksample entry: K-SAMPLE ANDERSON–DARLING test (Scholz &
    * Stephens 1987, version A) over all five event types — the
    * homogeneity test "do these k slices come from ONE distribution?"
    * that pairwise [[adTwoSampleQ]] runs k(k−1)/2 times can only
    * approximate: A²ₖ = Σᵢ (1/nᵢ)·Σⱼ₌₁^{N−1} (N·Mᵢⱼ − j·nᵢ)²/(j(N−j)),
    * standardized to T = (A²ₖ − (k−1))/σ_N with the exact finite-N
    * variance from the published h/g/H harmonic sums. Ranks are
    * positions in the pinned (value, event_id) total order (the
    * [[cvmQ]] convention; continuous ties measure-zero).
    *
    * Scale shape: pass 1 = ONE [[Rank.orderedPrefix]] over the pooled
    * events delivering rank j, frame count N, all k running sample
    * counts Mᵢⱼ and all k sample totals together; pass 2 = the
    * harmonic ladder S(m) = Σ_{t≤m} round(1/t, 12) as exact
    * DECIMAL(28,12) running sums over a synthetic `range(1, N+1)`
    * (uniform bounds — no quantile job; N from one driver `count()`,
    * the same metadata-pass class as the bounds job), which turns the
    * published double sum g = ΣᵢΣⱼ 1/((N−i)j) into per-row terms
    * (S(N−1) − S(i))/(N−i) — no O(N²) work anywhere. Numerics: every
    * N·M − n·j goes through [[adNumerator]] (decimal BEFORE multiply —
    * the int64 class); per-row terms round to 9/12 dp and merge as
    * DECIMAL (order-free); the variance polynomial evaluates once per
    * query on identical doubles with token-identical expression text
    * in both engines. */
  def adKSampleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val k = types.length
    // r16: base is consumed three times per run (the eager n count,
    // orderedPrefix's construction-time bounds job, and the window
    // pass) — uncached, each re-scanned events. Narrow 3-column rows;
    // session-cache convention as the dedup shingle sets.
    val base = t(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
      .cache()
    val n = base.count()
    val ranked = Rank.orderedPrefix(base,
      order = Seq($"value", $"event_id"),
      rnOut = Some("j"), countOut = Some("nn"),
      cums = types.zipWithIndex.map { case (tp, i) =>
        Rank.Cum(when($"event_type" === tp, 1L).otherwise(0L), s"m$i") },
      totals = types.zipWithIndex.map { case (tp, i) =>
        (when($"event_type" === tp, 1L).otherwise(0L): Column, s"c$i") })
    val tsCols = (0 until k).map { i =>
      val numd = adNumerator(col(s"m$i"), $"nn", col(s"c$i"), $"j")
      sum(when($"j" < $"nn",
        round((numd * numd) /
          ($"j".cast("double") * ($"nn" - $"j")), 9).cast("decimal(28,9)"))
        .otherwise(lit(BigDecimal(0)).cast("decimal(28,9)"))).as(s"ts$i")
    }
    val aggA = ranked.groupBy(((0 until k).map(i => col(s"c$i")) :+ $"nn"): _*)
      .agg(tsCols.head, tsCols.tail: _*)
    val harm = round(lit(1.0) / $"id", 12).cast("decimal(28,12)")
    val ladder = Rank.orderedPrefix(
      s.range(1L, n + 1L).toDF("id"),
      order = Seq($"id"),
      cums = Seq(Rank.Cum(harm, "hs")),
      totals = Seq((harm: Column, "ht")),
      uniform = Some((1.0, (n + 1).toDouble)))
    val hDec = $"ht" - round(lit(1.0) / n, 12).cast("decimal(28,12)")
    val aggB = ladder
      .agg(sum(when($"id" <= n - 2,
          round((hDec - $"hs").cast("double") / (lit(n) - $"id"), 12)
            .cast("decimal(28,12)"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(28,12)"))).as("gsum"),
        max(hDec).as("hdec"))
    val a2 = (0 until k).map(i =>
      col(s"ts$i").cast("double") / col(s"c$i").cast("double"))
      .reduce(_ + _)
    val bigH = (0 until k).map(i =>
      lit(1.0) / col(s"c$i").cast("double")).reduce(_ + _)
    val g = $"gsum".cast("double")
    val h = $"hdec".cast("double")
    val kk = lit(k.toDouble)
    val nD = $"nn".cast("double")
    val va = (lit(4.0) * g - 6) * (kk - 1) + (lit(10.0) - lit(6.0) * g) * bigH
    val vb = (lit(2.0) * g - 4) * kk * kk + lit(8.0) * h * kk +
      (lit(2.0) * g - lit(14.0) * h - 4) * bigH - lit(8.0) * h +
      lit(4.0) * g - 6
    val vc = (lit(6.0) * h + lit(2.0) * g - 2) * kk * kk +
      (lit(4.0) * h - lit(4.0) * g + 6) * kk +
      (lit(2.0) * h - 6) * bigH + lit(4.0) * h
    val vd = (lit(2.0) * h + 6) * kk * kk - lit(4.0) * h * kk
    val sigma2 = (va * nD * nD * nD + vb * nD * nD + vc * nD + vd) /
      ((nD - 1) * (nD - 2) * (nD - 3))
    aggA.crossJoin(broadcast(aggB))
      .select(lit(k.toLong).as("k"), $"nn".cast("long").as("n"),
        round(a2, 6).as("a2"),
        round(sqrt(sigma2), 6).as("sigma"),
        round((a2 - (kk - 1)) / sqrt(sigma2), 6).as("t_stat"))
  }

  val adKSampleSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val mCols = types.zipWithIndex.map { case (tp, i) =>
      s"""    SUM(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END)
         |      OVER (ORDER BY value, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m$i,
         |    SUM(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END)
         |      OVER () AS c$i""".stripMargin }.mkString(",\n")
    val tsCols = types.indices.map { i =>
      s"""    SUM(CASE WHEN j < nn THEN CAST(ROUND(
         |      CAST(CAST(m$i AS HUGEINT) * nn - CAST(c$i AS HUGEINT) * j
         |        AS DOUBLE)
         |      * CAST(CAST(m$i AS HUGEINT) * nn - CAST(c$i AS HUGEINT) * j
         |        AS DOUBLE)
         |      / (CAST(j AS DOUBLE) * (nn - j)), 9) AS DECIMAL(28,9))
         |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS ts$i""".stripMargin }
      .mkString(",\n")
    val a2 = types.indices.map(i =>
      s"CAST(ts$i AS DOUBLE) / CAST(c$i AS DOUBLE)").mkString(" + ")
    val bigH = types.indices.map(i =>
      s"1.0 / CAST(c$i AS DOUBLE)").mkString(" + ")
    val cList = types.indices.map(i => s"c$i").mkString(", ")
    s"""WITH ranked AS (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (ORDER BY value, event_id) AS j,
      |    COUNT(*) OVER () AS nn,
      |$mCols
      |  FROM events),
      |aggA AS (
      |  SELECT nn, $cList,
      |$tsCols
      |  FROM ranked GROUP BY ALL),
      |lad AS (
      |  SELECT j AS id, nn,
      |    SUM(CAST(ROUND(1.0 / j, 12) AS DECIMAL(28,12)))
      |      OVER (ORDER BY j
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hs
      |  FROM ranked),
      |ht AS (SELECT SUM(CAST(ROUND(1.0 / j, 12) AS DECIMAL(28,12)))
      |    AS htot, MAX(nn) AS nn FROM ranked),
      |aggB AS (
      |  SELECT
      |    SUM(CASE WHEN id <= lad.nn - 2 THEN CAST(ROUND(
      |        CAST(htot - CAST(ROUND(1.0 / lad.nn, 12) AS DECIMAL(28,12))
      |          - hs AS DOUBLE) / (lad.nn - id), 12) AS DECIMAL(28,12))
      |      ELSE CAST(0 AS DECIMAL(28,12)) END) AS gsum,
      |    MAX(htot - CAST(ROUND(1.0 / lad.nn, 12) AS DECIMAL(28,12)))
      |      AS hdec
      |  FROM lad, ht),
      |f AS (
      |  SELECT nn, $cList,
      |    $a2 AS a2,
      |    $bigH AS bigh,
      |    CAST(gsum AS DOUBLE) AS g,
      |    CAST(hdec AS DOUBLE) AS h,
      |    5.0 AS kk,
      |    CAST(nn AS DOUBLE) AS nd
      |  FROM aggA, aggB),
      |v AS (
      |  SELECT nn, a2, kk,
      |    (((4.0 * g - 6) * (kk - 1) + (10.0 - 6.0 * g) * bigh) * nd * nd
      |        * nd
      |      + ((2.0 * g - 4) * kk * kk + 8.0 * h * kk
      |        + (2.0 * g - 14.0 * h - 4) * bigh - 8.0 * h + 4.0 * g - 6)
      |        * nd * nd
      |      + ((6.0 * h + 2.0 * g - 2) * kk * kk
      |        + (4.0 * h - 4.0 * g + 6) * kk + (2.0 * h - 6) * bigh
      |        + 4.0 * h) * nd
      |      + ((2.0 * h + 6) * kk * kk - 4.0 * h * kk))
      |    / ((nd - 1) * (nd - 2) * (nd - 3)) AS sigma2
      |  FROM f)
      |SELECT CAST(5 AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
      |  ROUND(a2, 6) AS a2, ROUND(SQRT(sigma2), 6) AS sigma,
      |  ROUND((a2 - (kk - 1)) / SQRT(sigma2), 6) AS t_stat
      |FROM v""".stripMargin
  }

  /** q_stat_signed_rank entry: WILCOXON SIGNED-RANK test (Wilcoxon
    * 1945) — the PAIRED nonparametric location test the suite's ladder
    * was missing between [[permutationQ]] (sign-flip, signs only) and
    * [[mannWhitneyQ]] (unpaired ranks): blocks = users active in BOTH
    * of the first two January weeks, dᵤ = week-2 mean − week-1 mean,
    * |d| ranked ascending over the pinned (|d|, user_id) total order
    * (position ranks; continuous-d ties measure-zero, documented —
    * zero differences are excluded per the classical treatment), W⁺ =
    * Σ ranks of positive d, z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24).
    * Uses MAGNITUDE information the sign test throws away — the
    * standard "did the metric move week-over-week?" panel readout.
    *
    * Scale shape: per-(user, week) combinable collapse → ≤ |users|
    * rows; the |d| rank is one [[Rank.orderedPrefix]] pass (no
    * SinglePartition window); W⁺ accumulates as DECIMAL(38,0)
    * ([[wPlusSum]] — Σ ranks reaches N(N+1)/2, past int64 at
    * N ≈ 4.3·10⁹ pairs, so a LONG sum is the [[cvmQ]] overflow class;
    * the output leaves as a correctly-rounded double, exact below
    * 2⁵³); one final 1-row IEEE chain. The week cells are
    * exact-decimal sums ÷ counts, so d is the identical double in
    * both engines. */
  def signedRankQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cell = t(s, dir, "events")
      .filter($"ts" < lit("2024-01-15").cast("timestamp"))
      .groupBy($"user_id",
        (floor(datediff($"ts", lit("2024-01-01").cast("timestamp")) / 7) + 1)
          .cast("int").as("wk"))
      .agg((sum($"value".cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("cell"))
    val paired = cell.groupBy($"user_id")
      .agg(count(lit(1)).as("nwk"),
        max(when($"wk" === 1, $"cell")).as("m1"),
        max(when($"wk" === 2, $"cell")).as("m2"))
      .filter($"nwk" === 2)
      .select($"user_id", ($"m2" - $"m1").as("d"))
      .filter($"d" =!= 0.0)
    val ranked = Rank.orderedPrefix(
      paired.withColumn("ad", abs($"d")),
      order = Seq($"ad", $"user_id"),
      rnOut = Some("rk"), countOut = Some("n"))
    ranked.groupBy($"n")
      .agg(wPlusSum($"d", $"rk").as("w_plus"))
      .select($"n".cast("long").as("n"),
        $"w_plus".cast("double").as("w_plus"),
        round(($"w_plus".cast("double") -
          $"n".cast("double") * ($"n" + 1) / 4) /
          sqrt($"n".cast("double") * ($"n" + 1) * (lit(2) * $"n" + 1) / 24),
          6).as("z"))
  }

  val signedRankSql: String =
    """WITH cell AS (
      |  SELECT user_id,
      |    CAST(FLOOR(datediff('day', TIMESTAMP '2024-01-01', ts) / 7) + 1
      |      AS INT) AS wk,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |      AS cell
      |  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1, 2),
      |paired AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN wk = 2 THEN cell END)
      |      - MAX(CASE WHEN wk = 1 THEN cell END) AS d
      |  FROM cell GROUP BY 1 HAVING COUNT(*) = 2),
      |nz AS (SELECT user_id, d FROM paired WHERE d <> 0.0),
      |ranked AS (
      |  SELECT d,
      |    ROW_NUMBER() OVER (ORDER BY abs(d), user_id) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM nz),
      |a AS (
      |  SELECT n,
      |    SUM(CASE WHEN d > 0 THEN rk ELSE 0 END) AS w_plus
      |  FROM ranked GROUP BY 1)
      |SELECT CAST(n AS BIGINT) AS n, CAST(w_plus AS DOUBLE) AS w_plus,
      |  ROUND((CAST(w_plus AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 4)
      |    / SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24), 6) AS z
      |FROM a""".stripMargin

  /** q_stat_cohens_h entry: COHEN'S h effect size for two proportions
    * (Cohen 1988) — h = 2·asin√p₁ − 2·asin√p₂ on the arcsine scale
    * where a difference of proportions has variance independent of
    * the base rate, with the conventional small/medium/large bands at
    * 0.2/0.5/0.8. The companion [[abLiftQ]]'s z-test lacks: the z
    * says "statistically detectable", h says "practically large" —
    * at corpus scale EVERYTHING is detectable, so the effect size is
    * the number a rollout decision actually reads. Cohorts = user-id
    * parity; success = the user made ≥1 purchase event.
    *
    * Determinism: counts exact integers; rates one division each;
    * asin on identical doubles in both engines, final round 6 (the
    * magnitude class compares |h| against literal thresholds). */
  def cohensHQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = t(s, dir, "events")
      .groupBy($"user_id")
      .agg(max(($"event_type" === "purchase").cast("long")).as("conv"))
    val agg = perUser
      .withColumn("cohort", pmod($"user_id", lit(2)))
      .agg(
        sum(when($"cohort" === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"cohort" === 0, $"conv").otherwise(0L)).as("conv_a"),
        sum(when($"cohort" === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when($"cohort" === 1, $"conv").otherwise(0L)).as("conv_b"))
    val pa = $"conv_a".cast("double") / $"n_a"
    val pb = $"conv_b".cast("double") / $"n_b"
    val h = lit(2.0) * asin(sqrt(pa)) - lit(2.0) * asin(sqrt(pb))
    agg.select($"n_a", $"conv_a", $"n_b", $"conv_b",
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round(h, 6).as("cohens_h"),
      when(abs(h) < 0.2, "negligible").when(abs(h) < 0.5, "small")
        .when(abs(h) < 0.8, "medium").otherwise("large").as("magnitude"))
  }

  val cohensHSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT
      |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS conv_a,
      |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
      |    SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS conv_b
      |  FROM u)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
      |  ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
      |  ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
      |  ROUND(2.0 * ASIN(SQRT(CAST(conv_a AS DOUBLE) / n_a))
      |    - 2.0 * ASIN(SQRT(CAST(conv_b AS DOUBLE) / n_b)), 6) AS cohens_h,
      |  CASE WHEN ABS(2.0 * ASIN(SQRT(CAST(conv_a AS DOUBLE) / n_a))
      |      - 2.0 * ASIN(SQRT(CAST(conv_b AS DOUBLE) / n_b))) < 0.2
      |    THEN 'negligible'
      |  WHEN ABS(2.0 * ASIN(SQRT(CAST(conv_a AS DOUBLE) / n_a))
      |      - 2.0 * ASIN(SQRT(CAST(conv_b AS DOUBLE) / n_b))) < 0.5
      |    THEN 'small'
      |  WHEN ABS(2.0 * ASIN(SQRT(CAST(conv_a AS DOUBLE) / n_a))
      |      - 2.0 * ASIN(SQRT(CAST(conv_b AS DOUBLE) / n_b))) < 0.8
      |    THEN 'medium'
      |  ELSE 'large' END AS magnitude
      |FROM a""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stat_ad" -> adTwoSampleQ,
    "q_stat_ad_ksample" -> adKSampleQ,
    "q_stat_signed_rank" -> signedRankQ,
    "q_stat_cohens_h" -> cohensHQ,
    "q_stat_kuiper" -> kuiperQ,
    "q_stat_cvm" -> cvmQ,
    "q_stat_siegel_tukey" -> siegelTukeyQ,
    "q_stat_jonckheere" -> jonckheereQ,
    "q_stat_moods_median" -> moodsMedianQ,
    "q_stat_ca_trend" -> caTrendQ,
    "q_sample_cluster" -> clusterSampleQ,
    "q_stat_brunner_munzel" -> brunnerMunzelQ,
    "q_stat_page_trend" -> pageTrendQ,
    "q_stat_lin_ccc" -> linCccQ,
    "q_stat_ks_uniform" -> ksUniformQ,
    "q_stat_grubbs" -> grubbsQ,
    "q_stat_dunn" -> dunnQ,
    "q_sample_systematic" -> systematicQ,
    "q_stat_effect_size" -> effectSizeQ,
    "q_stat_tukey_hsd" -> tukeyHsdQ,
    "q_stat_bartlett" -> bartlettQ,
    "q_stat_cochran_q" -> cochranQQ,
    "q_stat_friedman" -> friedmanQ,
    "q_stat_gtest" -> gtestQ,
    "q_sample_reservoir" -> reservoirQ,
    "q_sample_ht" -> htQ,
    "q_stat_bland_altman" -> blandAltmanQ,
    "q_stat_icc" -> iccQ,
    "q_stat_cronbach" -> cronbachQ,
    "q_stat_cmh" -> cmhQ,
    "q_stat_welch_anova" -> welchAnovaQ,
    "q_stat_hodges_lehmann" -> hodgesLehmannQ,
    "q_stat_did" -> didQ,
    "q_ts_pacf" -> pacfQ,
    "q_stat_yuen" -> yuenQ,
    "q_stat_permutation" -> permutationQ,
    "q_sample_pps" -> ppsQ,
    "q_stat_cuped" -> cupedQ,
    "q_stat_standardize" -> standardizeQ,
    "q_stat_fisher_exact" -> fisherExactQ,
    "q_stat_jackknife" -> jackknifeQ,
    "q_stat_tost" -> tostQ,
    "q_ts_granger" -> grangerQ,
    "q_stat_meta" -> metaQ,
    "q_stat_levene" -> leveneQ,
    "q_stat_shrinkage" -> shrinkageQ,
    "q_stat_sprt" -> sprtQ,
    "q_eval_conformal" -> conformalQ,
    "q_stat_power" -> powerQ,
    "q_stat_dispersion" -> dispersionQ,
    "q_stat_logrank" -> logrankQ,
    "q_stat_bh" -> bhQ,
    "q_stat_runs" -> runsQ,
    "q_stat_ols" -> olsQ,
    "q_stat_cramers" -> cramersQ,
    "q_stat_kendall" -> kendallQ,
    "q_stat_kruskal" -> kruskalQ,
    "q_sample_neyman" -> neymanQ,
    "q_stat_spearman" -> spearmanQ,
    "q_stat_ttest" -> ttestQ,
    "q_stat_anova" -> anovaQ,
    "q_stat_wilson" -> wilsonQ,
    "q_stat_chi2" -> chi2Q,
    "q_profile_benford" -> benfordQ,
    "q_stat_mannwhitney" -> mannWhitneyQ,
    "q_stat_bootstrap" -> bootstrapQ,
    "q_stat_mi" -> miQ,
    "q_stat_ab_lift" -> abLiftQ,
    "q_ts_acf" -> acfQ,
    "q_ts_period" -> periodQ)

  def oracle: Map[String, String] = Map(
    "q_stat_ad" -> adTwoSampleSql,
    "q_stat_ad_ksample" -> adKSampleSql,
    "q_stat_signed_rank" -> signedRankSql,
    "q_stat_cohens_h" -> cohensHSql,
    "q_stat_kuiper" -> kuiperSql,
    "q_stat_cvm" -> cvmSql,
    "q_stat_siegel_tukey" -> siegelTukeySql,
    "q_stat_jonckheere" -> jonckheereSql,
    "q_stat_moods_median" -> moodsMedianSql,
    "q_stat_ca_trend" -> caTrendSql,
    "q_sample_cluster" -> clusterSampleSql,
    "q_stat_brunner_munzel" -> brunnerMunzelSql,
    "q_stat_page_trend" -> pageTrendSql,
    "q_stat_lin_ccc" -> linCccSql,
    "q_stat_ks_uniform" -> ksUniformSql,
    "q_stat_grubbs" -> grubbsSql,
    "q_stat_dunn" -> dunnSql,
    "q_sample_systematic" -> systematicSql,
    "q_stat_effect_size" -> effectSizeSql,
    "q_stat_tukey_hsd" -> tukeyHsdSql,
    "q_stat_bartlett" -> bartlettSql,
    "q_stat_cochran_q" -> cochranQSql,
    "q_stat_friedman" -> friedmanSql,
    "q_stat_gtest" -> gtestSql,
    "q_sample_reservoir" -> reservoirSql,
    "q_sample_ht" -> htSql,
    "q_stat_bland_altman" -> blandAltmanSql,
    "q_stat_icc" -> iccSql,
    "q_stat_cronbach" -> cronbachSql,
    "q_stat_cmh" -> cmhSql,
    "q_stat_welch_anova" -> welchAnovaSql,
    "q_stat_hodges_lehmann" -> hodgesLehmannSql,
    "q_stat_did" -> didSql,
    "q_ts_pacf" -> pacfSql,
    "q_stat_yuen" -> yuenSql,
    "q_stat_permutation" -> permutationSql,
    "q_sample_pps" -> ppsSql,
    "q_stat_cuped" -> cupedSql,
    "q_stat_standardize" -> standardizeSql,
    "q_stat_fisher_exact" -> fisherExactSql,
    "q_stat_jackknife" -> jackknifeSql,
    "q_stat_tost" -> tostSql,
    "q_ts_granger" -> grangerSql,
    "q_stat_meta" -> metaSql,
    "q_stat_levene" -> leveneSql,
    "q_stat_shrinkage" -> shrinkageSql,
    "q_stat_sprt" -> sprtSql,
    "q_eval_conformal" -> conformalSql,
    "q_stat_power" -> powerSql,
    "q_stat_dispersion" -> dispersionSql,
    "q_stat_logrank" -> logrankSql,
    "q_stat_bh" -> bhSql,
    "q_stat_runs" -> runsSql,
    "q_stat_ols" -> olsSql,
    "q_stat_cramers" -> cramersSql,
    "q_stat_kendall" -> kendallSql,
    "q_stat_kruskal" -> kruskalSql,
    "q_sample_neyman" -> neymanSql,
    "q_stat_spearman" -> spearmanSql,
    "q_stat_ttest" -> ttestSql,
    "q_stat_anova" -> anovaSql,
    "q_stat_wilson" -> wilsonSql,
    "q_stat_chi2" -> chi2Sql,
    "q_profile_benford" -> benfordSql,
    "q_stat_mannwhitney" -> mannWhitneySql,
    "q_stat_bootstrap" -> bootstrapSql,
    "q_stat_mi" -> miSql,
    "q_stat_ab_lift" -> abLiftSql,
    "q_ts_acf" -> acfSql,
    "q_ts_period" -> periodSql)
}
