package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Market-basket pair affinity over orders: which part brands co-occur
  * in the same order, counted once per order — the co-occurrence
  * primitive behind recommendation candidates, bundle detection, and
  * (on text corpora) co-citation / co-mention analysis.
  *
  * Scale shape — the item-pair blowup is contained BEFORE the self-join:
  * the basket table collapses to DISTINCT (order, brand) first, so the
  * self-join's per-order fan-out is (distinct brands per order)² —
  * bounded by basket width (TPC-H: ≤ 7 lines/order), never corpus size,
  * and the join is an equi-join on the order key (shuffle co-located,
  * AQE-splittable). The part dimension joins by key before the
  * projection to brand, so only (orderkey, 25-value brand) rows travel
  * into the pair stage. Counts are map-side-combinable with ≤ |brands|²
  * groups. All-integer arithmetic — no FP contract needed.
  */
object Affinity {

  /** The distinct (order `ok`, brand `b`) baskets every query here
    * starts from; the header says why the distinct comes first. */
  private[ops] def brandBaskets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
      .join(t(s, dir, "part").select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("ok"), $"p_brand".as("b"))
      .distinct()
  }

  /** q_affinity_pairs entry: top brand pairs by order co-occurrence. */
  def pairsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baskets = brandBaskets(s, dir)
    baskets.as("x").join(baskets.as("y"),
        $"x.ok" === $"y.ok" && $"x.b" < $"y.b")
      .groupBy($"x.b".as("brand_a"), $"y.b".as("brand_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"brand_a", $"brand_b")
      .limit(50)
  }

  val pairsSql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT x.b AS brand_a, y.b AS brand_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM baskets x JOIN baskets y ON x.ok = y.ok AND x.b < y.b
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, brand_a, brand_b
      |LIMIT 50""".stripMargin

  /** q_affinity_cosine entry: item-item cosine similarity over order
    * baskets — [[pairsQ]]'s raw co-occurrence normalized by each
    * brand's own order frequency, cos(a,b) = co(a,b)/√(n_a·n_b): the
    * popularity-corrected score that makes a niche pair with 80%
    * overlap outrank two megabrands that co-occur by volume alone —
    * the standard item-item collaborative-filtering similarity
    * (Sarwar et al. 2001) and the recommendation-candidate generator.
    *
    * Scale shape: [[pairsQ]]'s contained pair stage (distinct baskets
    * first, per-order fan-out ≤ basket width²) plus one combinable
    * per-brand order count broadcast into the ≤|brands|² pair frame;
    * exact integers until the one shared cosine expression, 6 dp. */
  def cosineQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baskets = brandBaskets(s, dir)
    val freq = baskets.groupBy($"b").agg(count(lit(1)).as("nb"))
    val pairs = baskets.as("x").join(baskets.as("y"),
        $"x.ok" === $"y.ok" && $"x.b" < $"y.b")
      .groupBy($"x.b".as("brand_a"), $"y.b".as("brand_b"))
      .agg(count(lit(1)).as("co"))
    pairs
      .join(broadcast(freq.select($"b".as("brand_a"), $"nb".as("n_a"))), "brand_a")
      .join(broadcast(freq.select($"b".as("brand_b"), $"nb".as("n_b"))), "brand_b")
      .select($"brand_a", $"brand_b", $"n_a", $"n_b", $"co",
        round($"co".cast("double") /
          sqrt($"n_a".cast("double") * $"n_b".cast("double")), 6)
          .as("cosine"))
      .orderBy($"cosine".desc, $"brand_a", $"brand_b")
      .limit(50)
  }

  val cosineSql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |freq AS (SELECT b, COUNT(*) AS nb FROM baskets GROUP BY b),
      |pairs AS (
      |  SELECT x.b AS brand_a, y.b AS brand_b, COUNT(*) AS co
      |  FROM baskets x JOIN baskets y ON x.ok = y.ok AND x.b < y.b
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b,
      |  CAST(fa.nb AS BIGINT) AS n_a, CAST(fb.nb AS BIGINT) AS n_b,
      |  CAST(co AS BIGINT) AS co,
      |  ROUND(CAST(co AS DOUBLE)
      |    / sqrt(CAST(fa.nb AS DOUBLE) * CAST(fb.nb AS DOUBLE)), 6) AS cosine
      |FROM pairs
      |JOIN freq fa ON fa.b = brand_a
      |JOIN freq fb ON fb.b = brand_b
      |ORDER BY cosine DESC, brand_a, brand_b
      |LIMIT 50""".stripMargin

  private val MinSupport = 20L // orders; the Apriori prune

  /** q_affinity_rules entry: directed ASSOCIATION RULES A → B over the
    * order×brand baskets — the full Agrawal–Srikant metric set that
    * [[pairsQ]]'s co-occurrence counts feed: support, confidence
    * P(B|A), lift P(B|A)/P(B), and conviction (1−P(B))/(1−P(B|A))
    * (∞-guarded to NULL at confidence 1 — conviction is the
    * implication-strength reading lift lacks, since lift is symmetric
    * and conviction is not). Top-20 by (lift, antecedent, consequent)
    * above the [[MinSupport]]-order support floor.
    *
    * Scale shape: the support prune IS the scale story (Apriori's
    * downward-closure: pairs below min-support never form rules, which
    * bounds the pair self-join the same way df-caps bound the dedup
    * joins); baskets collapse to distinct (order, brand) first; counts
    * are exact integers, one division per metric. */
  def rulesQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baskets = brandBaskets(s, dir)
    val tot = baskets.select($"ok").distinct().agg(count(lit(1)).as("n_tot"))
    val supp = baskets.groupBy($"b").agg(count(lit(1)).as("n_b"))
    val both = baskets.as("x").join(baskets.as("y"),
        $"x.ok" === $"y.ok" && $"x.b" =!= $"y.b")
      .groupBy($"x.b".as("ante"), $"y.b".as("cons"))
      .agg(count(lit(1)).as("n_both"))
      .filter($"n_both" >= MinSupport)
    both
      .join(supp.select($"b".as("ante"), $"n_b".as("n_ante")), "ante")
      .join(supp.select($"b".as("cons"), $"n_b".as("n_cons")), "cons")
      .crossJoin(broadcast(tot))
      .select($"ante", $"cons", $"n_both",
        round($"n_both".cast("double") / $"n_tot", 6).as("support"),
        round($"n_both".cast("double") / $"n_ante", 6).as("confidence"),
        round(($"n_both".cast("double") / $"n_ante")
          / ($"n_cons".cast("double") / $"n_tot"), 6).as("lift"),
        when($"n_both" < $"n_ante",
          round((lit(1d) - $"n_cons".cast("double") / $"n_tot")
            / (lit(1d) - $"n_both".cast("double") / $"n_ante"), 6))
          .as("conviction"))
      .orderBy($"lift".desc, $"ante", $"cons")
      .limit(20)
  }

  val rulesSql: String =
    s"""WITH baskets AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT COUNT(DISTINCT ok) AS n_tot FROM baskets),
       |supp AS (SELECT b, COUNT(*) AS n_b FROM baskets GROUP BY 1),
       |pb AS (
       |  SELECT x.b AS ante, y.b AS cons, COUNT(*) AS n_both
       |  FROM baskets x JOIN baskets y ON x.ok = y.ok AND x.b <> y.b
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport)
       |SELECT ante, cons, CAST(n_both AS BIGINT) AS n_both,
       |  ROUND(CAST(n_both AS DOUBLE) / n_tot, 6) AS support,
       |  ROUND(CAST(n_both AS DOUBLE) / sa.n_b, 6) AS confidence,
       |  ROUND((CAST(n_both AS DOUBLE) / sa.n_b)
       |    / (CAST(sc.n_b AS DOUBLE) / n_tot), 6) AS lift,
       |  CASE WHEN n_both < sa.n_b THEN
       |    ROUND((1 - CAST(sc.n_b AS DOUBLE) / n_tot)
       |      / (1 - CAST(n_both AS DOUBLE) / sa.n_b), 6)
       |  END AS conviction
       |FROM pb
       |JOIN supp sa ON sa.b = pb.ante
       |JOIN supp sc ON sc.b = pb.cons, tot
       |ORDER BY lift DESC, ante, cons LIMIT 20""".stripMargin

  private val RecK = 5 // recommendations per item

  /** q_rec_coverage entry: BEYOND-ACCURACY audit of the item-item
    * recommender built from [[cosineQ]]'s similarities — the three
    * readouts a rec system ships beside its hit rate: CATALOG COVERAGE
    * (share of items appearing in anyone's top-[[RecK]] list — what
    * fraction of inventory the recommender can ever surface), EXPOSURE
    * GINI over per-item recommendation counts including zero-exposure
    * items (popularity-bias concentration: 0 = exposure spread evenly,
    * → 1 = a few items absorb every slot), and MEAN INTRA-LIST
    * similarity (Ziegler's ILS — high = redundant lists, the number MMR
    * re-ranking exists to push down).
    *
    * Scale shape: everything after the [[pairsQ]]-contained pair stage
    * runs on |items|-bounded frames (25 brands); the within-list pair
    * expansion is lists×k² rows. Determinism: exposures and Gini ranks
    * are exact integers; similarities round to 9-dp decimals before the
    * mean; one division per readout. */
  def recCoverageQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val baskets = brandBaskets(s, dir)
    val freq = baskets.groupBy($"b").agg(count(lit(1)).as("nb"))
    val sym = baskets.as("x").join(baskets.as("y"),
        $"x.ok" === $"y.ok" && $"x.b" =!= $"y.b")
      .groupBy($"x.b".as("src"), $"y.b".as("dst"))
      .agg(count(lit(1)).as("co"))
      .join(broadcast(freq.select($"b".as("src"), $"nb".as("n_s"))), "src")
      .join(broadcast(freq.select($"b".as("dst"), $"nb".as("n_d"))), "dst")
      .select($"src", $"dst",
        round($"co".cast("double") /
          sqrt($"n_s".cast("double") * $"n_d".cast("double")), 9)
          .cast("decimal(18,9)").as("cos"))
    val top = sym
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"cos".desc, $"dst")))
      .filter($"rn" <= RecK)
    val brands = t(s, dir, "part").select($"p_brand".as("b")).distinct()
    val exposure = brands
      .join(top.groupBy($"dst".as("b")).agg(count(lit(1)).as("x")),
        Seq("b"), "left")
      .select($"b", coalesce($"x", lit(0L)).as("x"))
    val gini = exposure
      .withColumn("i", row_number().over(Window.orderBy($"x", $"b"))
        .cast("long"))
      .agg(count(lit(1)).as("n_items"), sum($"x").as("sx"),
        sum($"i" * $"x").as("six"),
        sum(when($"x" > 0, 1L).otherwise(0L)).as("n_exposed"))
    val intra = top.as("a").join(top.as("c"),
        $"a.src" === $"c.src" && $"a.dst" < $"c.dst")
      .join(sym.select($"src".as("p1"), $"dst".as("p2"),
        $"cos".as("pc")), $"a.dst" === $"p1" && $"c.dst" === $"p2", "left")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce($"pc", lit(BigDecimal(0)).cast("decimal(18,9)")))
          .as("spc"))
    val lists = top.select($"src").distinct().agg(count(lit(1)).as("n_lists"))
    gini.crossJoin(broadcast(intra)).crossJoin(broadcast(lists))
      .select($"n_items", $"n_lists",
        round($"n_exposed".cast("double") / $"n_items", 6)
          .as("catalog_coverage"),
        round((lit(2d) * $"six".cast("double")
            - ($"n_items" + 1).cast("double") * $"sx".cast("double"))
          / ($"n_items".cast("double") * $"sx".cast("double")), 6)
          .as("exposure_gini"),
        round($"spc".cast("double") / $"n_pairs", 6)
          .as("mean_intralist_cos"))
  }

  val recCoverageSql: String =
    s"""WITH baskets AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |freq AS (SELECT b, COUNT(*) AS nb FROM baskets GROUP BY 1),
       |sym AS MATERIALIZED (
       |  SELECT x.b AS src, y.b AS dst,
       |    CAST(ROUND(CAST(COUNT(*) AS DOUBLE)
       |      / sqrt(CAST(MIN(fs.nb) AS DOUBLE) * CAST(MIN(fd.nb) AS DOUBLE)),
       |      9) AS DECIMAL(18,9)) AS cos
       |  FROM baskets x
       |  JOIN baskets y ON x.ok = y.ok AND x.b <> y.b
       |  JOIN freq fs ON fs.b = x.b
       |  JOIN freq fd ON fd.b = y.b
       |  GROUP BY 1, 2),
       |top AS MATERIALIZED (
       |  SELECT src, dst, cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rn
       |    FROM sym) WHERE rn <= $RecK),
       |brands AS (SELECT DISTINCT p_brand AS b FROM part),
       |exposure AS (
       |  SELECT brands.b, COALESCE(t.x, 0) AS x
       |  FROM brands LEFT JOIN (
       |    SELECT dst AS b, COUNT(*) AS x FROM top GROUP BY 1) t
       |  ON t.b = brands.b),
       |gini AS (
       |  SELECT COUNT(*) AS n_items, SUM(x) AS sx, SUM(i * x) AS six,
       |    SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS n_exposed
       |  FROM (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, b) AS BIGINT)
       |          AS i FROM exposure)),
       |intra AS (
       |  SELECT COUNT(*) AS n_pairs,
       |    SUM(COALESCE(p.cos, CAST(0 AS DECIMAL(18,9)))) AS spc
       |  FROM top a
       |  JOIN top c ON a.src = c.src AND a.dst < c.dst
       |  LEFT JOIN sym p ON p.src = a.dst AND p.dst = c.dst),
       |lists AS (SELECT COUNT(DISTINCT src) AS n_lists FROM top)
       |SELECT CAST(n_items AS BIGINT) AS n_items,
       |  CAST(n_lists AS BIGINT) AS n_lists,
       |  ROUND(CAST(n_exposed AS DOUBLE) / n_items, 6) AS catalog_coverage,
       |  ROUND((2 * CAST(six AS DOUBLE) - (n_items + 1) * CAST(sx AS DOUBLE))
       |    / (n_items * CAST(sx AS DOUBLE)), 6) AS exposure_gini,
       |  ROUND(CAST(spc AS DOUBLE) / n_pairs, 6) AS mean_intralist_cos
       |FROM gini, intra, lists""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_affinity_pairs" -> pairsQ,
    "q_affinity_rules" -> rulesQ,
    "q_rec_coverage" -> recCoverageQ,
    "q_affinity_cosine" -> cosineQ)

  def oracle: Map[String, String] = Map(
    "q_affinity_pairs" -> pairsSql,
    "q_affinity_rules" -> rulesSql,
    "q_rec_coverage" -> recCoverageSql,
    "q_affinity_cosine" -> cosineSql)
}
