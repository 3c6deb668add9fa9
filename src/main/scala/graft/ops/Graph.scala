package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Iterative graph analytics — PageRank over the nation-level trade
  * graph (customer nation → supplier nation, weighted by lineitem
  * count). Pregel-shaped: per iteration, ranks JOIN edges on src,
  * partial contributions GROUP BY dst, repeat. On a web/citation/link
  * corpus the same plan ranks documents for crawl prioritization and
  * quality-weighted sampling.
  *
  * Scale shape: the expensive part is building the EDGE LIST (lineitem
  * → orders → customer ⨝ supplier → nations), which is one pass of
  * broadcast-dimension joins + a combinable groupBy, paid ONCE — the
  * aggregated edge frame is eagerly checkpointed so the three rank
  * iterations re-read a tiny materialized table instead of re-running
  * the corpus joins (the [[Iterate]] lineage-cut lesson). Each
  * iteration shuffles only |edges| contribution rows (≤ |nodes|²)
  * keyed by dst; rank frames are |nodes| rows and broadcast into the
  * edge join. Iterations here are unrolled (fixed 3) so the oracle can
  * mirror them as chained CTEs; the driver loop generalizes to
  * convergence as [[pagerankConverged]] does.
  *
  * Determinism contract: per-edge contributions are one shared IEEE
  * expression (rank·w/outw in double) rounded to 9 dp, summed as
  * DECIMAL(28,9) — order-independent exact merges — and each new rank
  * re-rounds to 9 dp, so both engines iterate on identical doubles.
  * Damping 0.85; dangling mass dropped (every nation has out-edges in
  * TPC-H; the variant is documented, standard, and oracle-mirrored).
  */
object Graph {

  private val iterations = 3

  /** Weighted nation→nation trade edge list — one corpus pass of
    * broadcast-dimension joins + a combinable groupBy, eagerly
    * checkpointed so rank iterations re-read a tiny materialized table
    * instead of re-running the corpus joins. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    val custNation = t(s, dir, "customer")
      .join(t(s, dir, "nation"), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cn"))
    val suppNation = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("sn"))
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
      .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(custNation), $"o_custkey" === $"c_custkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .groupBy($"cn".as("src"), $"sn".as("dst"))
      .agg(count(lit(1)).as("w"))
      .checkpoint()
  }

  /** The p75-strong edges of a weighted edge frame (src, dst, w): the
    * rows with w at or above the ⌈0.75·n⌉-th smallest weight in (w,
    * src, dst) order, an exact order statistic over the |V|²-bounded
    * list, same columns. The threshold is taken over `edges` as given:
    * a caller that drops self-loops first gets the self-loop-free
    * threshold, which differs from the full list's. */
  private[ops] def strongEdges(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import edges.sparkSession.implicits._
    val thr = edges
      .withColumn("rn", row_number().over(
        Window.partitionBy(lit(0)).orderBy($"w", $"src", $"dst")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(0))))
      .filter($"rn" === expr("(75 * n + 99) div 100"))
      .select($"w".as("thr"))
    edges.join(broadcast(thr), $"w" >= $"thr").drop("thr")
  }

  /** q_graph_pagerank entry: 3-iteration PageRank over the
    * nation→nation trade graph; 25 rows, rank + in/out degree. */
  def pagerankQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val outw = edges.groupBy($"src").agg(sum($"w").as("outw"))
    val nodes = t(s, dir, "nation").select($"n_name".as("node"))
    var pr = nodes.withColumn("pr", lit(0.04)) // 1/25 exactly
    for (_ <- 1 to iterations) {
      val contribs = edges
        .join(broadcast(outw), "src")
        .join(broadcast(pr.withColumnRenamed("node", "src")), "src")
        .select($"dst",
          round($"pr" * $"w".cast("double") / $"outw".cast("double"), 9)
            .cast("decimal(28,9)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("mass"))
      pr = nodes
        .join(contribs, $"node" === $"dst", "left")
        .select($"node",
          round(lit(0.006) +
            lit(0.85) * coalesce($"mass", lit(0)).cast("double"), 9)
            .as("pr"))
    }
    val indeg = edges.groupBy($"dst").agg(count(lit(1)).as("in_deg"))
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("out_deg"))
    // OUTPUT type contract: pr is already rounded to 9 dp, so DOUBLE is
    // exact here and survives the driver comparator's float64 client
    // path; the DECIMAL(28,9) merges stay internal to the iteration.
    pr.join(broadcast(indeg), $"node" === $"dst", "left")
      .join(broadcast(outdeg), $"node" === $"src", "left")
      .select($"node".as("nation"),
        $"pr".cast("double").as("pagerank"),
        coalesce($"in_deg", lit(0L)).cast("long").as("in_deg"),
        coalesce($"out_deg", lit(0L)).cast("long").as("out_deg"))
      .orderBy($"pagerank".desc, $"nation")
  }

  /** Production form of [[pagerankQ]]: iterate to CONVERGENCE via
    * [[Iterate.fixpoint]] instead of a fixed unroll — stop when no
    * node's rank moves by more than `tol` (ranks are rounded to 9 dp,
    * so tol=0 means bit-identical two rounds running). Damping 0.85
    * contracts the rank map by ≥0.15 per round, so the iteration count
    * is O(log(1/tol)) — `maxIter` 60 covers tol down to 1e-9 with
    * margin. Per-round cost identical to one [[pagerankQ]] iteration:
    * |edges| contribution rows shuffle, rank frames broadcast.
    *
    * Not oracle-mirrored (the round count is data-dependent, so a
    * chained-CTE oracle cannot express it); spec-verified instead:
    * convergence is reached, a further step is a no-op, and the
    * converged ranks agree with a deep fixed unroll. */
  def pagerankConverged(s: SparkSession, dir: String,
      tol: Double = 0.0, maxIter: Int = 60): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val outw = edges.groupBy($"src").agg(sum($"w").as("outw"))
    val nodes = t(s, dir, "nation").select($"n_name".as("node"))
    val init = nodes.withColumn("pr", lit(0.04)) // 1/25 exactly
    Iterate.fixpoint(init, maxIter, "pagerankConverged") { pr =>
      val contribs = edges
        .join(broadcast(outw), "src")
        .join(broadcast(pr.withColumnRenamed("node", "src")), "src")
        .select($"dst",
          round($"pr" * $"w".cast("double") / $"outw".cast("double"), 9)
            .cast("decimal(28,9)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("mass"))
      nodes
        .join(broadcast(pr.withColumnRenamed("pr", "prev")), "node")
        .join(contribs, $"node" === $"dst", "left")
        .select($"node",
          round(lit(0.006) +
            lit(0.85) * coalesce($"mass", lit(0)).cast("double"), 9).as("pr"),
          $"prev")
        .select($"node", $"pr", (abs($"pr" - $"prev") > tol).as("chg"))
    }
  }

  /** q_graph_triangles entry: per-node triangle count and local
    * clustering coefficient over the UNDIRECTED trade graph — the
    * community-density companion to [[pagerankQ]]'s centrality (a
    * crawl-graph's clustering profile separates hub-and-spoke link
    * farms from organically dense neighborhoods).
    *
    * Shape: the corpus pass is [[tradeEdges]] (paid once, checkpointed);
    * everything after runs on the ≤|nodes|² edge list. Triangles are
    * counted once each via the ordered-triple join (a<b, b<c, a—c), the
    * standard distributed formulation — candidate volume is Σ per-node
    * degree², never 3-way cartesian. Per-node counts explode each
    * triangle to its 3 corners (combinable groupBy); clustering =
    * 2·t / (deg·(deg−1)), exact integers until the final quotient. */
  def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = tradeEdges(s, dir)
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u"))
      .join(und.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val triPerNode = tri
      .select(explode(array($"a", $"b", $"c")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_triangles"))
    val deg = und.select($"u".as("node"), $"v".as("nbr"))
      .unionByName(und.select($"v".as("node"), $"u".as("nbr")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    deg.join(broadcast(triPerNode), Seq("node"), "left")
      .select($"node".as("nation"), $"degree",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        when($"degree" > 1,
          round(lit(2d) * coalesce($"n_triangles", lit(0L)).cast("double") /
            ($"degree".cast("double") * ($"degree" - 1).cast("double")), 6))
          .otherwise(lit(0d)).as("clustering"))
      .orderBy($"nation")
  }

  val trianglesSql: String =
    """WITH e AS (
      |  SELECT DISTINCT
      |    LEAST(cn.n_name, sn.n_name) AS u, GREATEST(cn.n_name, sn.n_name) AS v
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  WHERE cn.n_name <> sn.n_name),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v),
      |tpn AS (
      |  SELECT node, COUNT(*) AS n_triangles FROM (
      |    SELECT a AS node FROM tri UNION ALL
      |    SELECT b FROM tri UNION ALL
      |    SELECT c FROM tri) GROUP BY 1),
      |deg AS (
      |  SELECT node, COUNT(*) AS degree FROM (
      |    SELECT u AS node, v AS nbr FROM e UNION ALL
      |    SELECT v, u FROM e) GROUP BY 1)
      |SELECT deg.node AS nation, CAST(degree AS BIGINT) AS degree,
      |  CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
      |  CASE WHEN degree > 1 THEN
      |    ROUND(2 * CAST(COALESCE(n_triangles, 0) AS DOUBLE)
      |      / (CAST(degree AS DOUBLE) * (degree - 1)), 6)
      |  ELSE 0 END AS clustering
      |FROM deg LEFT JOIN tpn ON deg.node = tpn.node
      |ORDER BY nation""".stripMargin

  /** q_graph_reciprocity entry: edge reciprocity of the DIRECTED trade
    * graph — the fraction of src→dst trade edges whose reverse edge
    * also exists, plus weighted reciprocity (min(w, w_rev) mass over
    * total). [[trianglesQ]] reads cohesion of the undirected skeleton;
    * reciprocity reads the asymmetry the undirection throws away
    * (one-way trade relationships = crawl-graph link farms vs mutual
    * citation). One self equi-join of the tiny edge list on the
    * reversed key pair; exact integer sums until the final quotients. */
  def reciprocityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = tradeEdges(s, dir).filter($"src" =!= $"dst")
    val rev = e.select($"src".as("rsrc"), $"dst".as("rdst"), $"w".as("w_rev"))
    e.join(rev, $"src" === $"rdst" && $"dst" === $"rsrc", "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when($"w_rev".isNotNull, 1L).otherwise(0L)).as("n_reciprocal"),
        sum($"w").as("w_total"),
        sum(when($"w_rev".isNotNull, least($"w", $"w_rev")).otherwise(0L))
          .as("w_mutual"))
      .select($"n_edges", $"n_reciprocal",
        round($"n_reciprocal".cast("double") / $"n_edges", 6)
          .as("reciprocity"),
        round($"w_mutual".cast("double") / $"w_total", 6)
          .as("weighted_reciprocity"))
  }

  val reciprocitySql: String =
    """WITH e AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  WHERE cn.n_name <> sn.n_name
      |  GROUP BY 1, 2)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
      |  CAST(SUM(CASE WHEN r.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_reciprocal,
      |  ROUND(CAST(SUM(CASE WHEN r.w IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS reciprocity,
      |  ROUND(CAST(SUM(CASE WHEN r.w IS NOT NULL THEN LEAST(e.w, r.w)
      |    ELSE 0 END) AS DOUBLE) / SUM(e.w), 6) AS weighted_reciprocity
      |FROM e LEFT JOIN e r ON e.src = r.dst AND e.dst = r.src""".stripMargin

  val pagerankSql: String = {
    // one iteration as SQL, parameterized on the previous rank CTE
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.node,
         |    ROUND(0.006 + 0.85 * CAST(COALESCE(m.mass, 0) AS DOUBLE), 9)
         |      AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst,
         |      SUM(CAST(ROUND(p.pr * CAST(e.w AS DOUBLE)
         |        / CAST(o.outw AS DOUBLE), 9) AS DECIMAL(28,9))) AS mass
         |    FROM edges e JOIN outw o ON e.src = o.src
         |      JOIN $prev p ON p.node = e.src
         |    GROUP BY e.dst) m ON n.node = m.dst)""".stripMargin
    s"""WITH edges AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  GROUP BY 1, 2),
       |outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1),
       |nodes AS (SELECT n_name AS node FROM nation),
       |pr0 AS (SELECT node, 0.04::DOUBLE AS pr FROM nodes),
       |${iter("pr0", "pr1")},
       |${iter("pr1", "pr2")},
       |${iter("pr2", "pr3")}
       |SELECT p.node AS nation,
       |  CAST(p.pr AS DOUBLE) AS pagerank,
       |  CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg,
       |  CAST(COALESCE(od.out_deg, 0) AS BIGINT) AS out_deg
       |FROM pr3 p
       |LEFT JOIN (SELECT dst, COUNT(*) AS in_deg FROM edges GROUP BY 1) i
       |  ON p.node = i.dst
       |LEFT JOIN (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1) od
       |  ON p.node = od.src
       |ORDER BY pagerank DESC, nation""".stripMargin
  }

  /** q_graph_neighbor_sim entry: node-pair similarity by out-neighbor
    * overlap — for every nation pair, the Jaccard of their STRONG
    * trading-partner sets (basis points, integer division). "Which
    * entities behave alike in the interaction graph" is the graph-side
    * twin of embedding similarity — the entity-resolution /
    * substitute-detection primitive — and on a near-complete graph it
    * is only informative after sparsification, so edges first pass a
    * p75 weight threshold (exact order-statistic SELECTION over the
    * |V|²-bounded edge list, the [[Profile.percentileDiscQ]] idiom).
    *
    * Scale: everything after the edge build is |V|²-bounded (the edge
    * list, the threshold window, the dst-keyed common-neighbor join,
    * the node-pair grid) — node-COUNT-bounded work, independent of
    * corpus rows; the one unbounded pass is the shared [[tradeEdges]]
    * build every graph query amortizes. The pair grid is a broadcast
    * NLJ by construction (25 nodes), whitelisted in the plan audit. */
  def neighborSimQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val strong = strongEdges(tradeEdges(s, dir)).select($"src", $"dst")
    val deg = strong.groupBy($"src").agg(count(lit(1)).as("deg"))
    val common = strong.as("a").join(strong.as("b"),
        $"a.dst" === $"b.dst" && $"a.src" < $"b.src")
      .groupBy($"a.src".as("na"), $"b.src".as("nb"))
      .agg(count(lit(1)).as("n_common"))
    deg.as("x")
      .join(broadcast(deg.as("y")), $"x.src" < $"y.src")
      .select($"x.src".as("nation_a"), $"y.src".as("nation_b"),
        $"x.deg".as("deg_a"), $"y.deg".as("deg_b"))
      .join(common,
        $"nation_a" === $"na" && $"nation_b" === $"nb", "left")
      .withColumn("n_common", coalesce($"n_common", lit(0L)))
      .select($"nation_a", $"nation_b", $"deg_a", $"deg_b", $"n_common",
        expr("(10000 * n_common) div (deg_a + deg_b - n_common)")
          .as("jaccard_bp"))
      .orderBy($"nation_a", $"nation_b")
  }

  val neighborSimSql: String =
    """WITH edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM edges),
      |thr AS (SELECT w AS thr FROM rk WHERE rn = (75 * n + 99) // 100),
      |strong AS (SELECT src, dst FROM edges, thr WHERE w >= thr),
      |deg AS (SELECT src, COUNT(*) AS deg FROM strong GROUP BY src),
      |com AS (
      |  SELECT a.src AS na, b.src AS nb, COUNT(*) AS n_common
      |  FROM strong a JOIN strong b
      |    ON a.dst = b.dst AND a.src < b.src
      |  GROUP BY 1, 2)
      |SELECT x.src AS nation_a, y.src AS nation_b,
      |  CAST(x.deg AS BIGINT) AS deg_a, CAST(y.deg AS BIGINT) AS deg_b,
      |  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
      |  (10000 * COALESCE(c.n_common, 0))
      |    // (x.deg + y.deg - COALESCE(c.n_common, 0)) AS jaccard_bp
      |FROM deg x JOIN deg y ON x.src < y.src
      |LEFT JOIN com c ON c.na = x.src AND c.nb = y.src
      |ORDER BY nation_a, nation_b""".stripMargin

  /** q_graph_adamic_adar entry: ADAMIC–ADAR link prediction over the
    * p75-strong undirected trade graph — for every NON-adjacent node
    * pair, score the likelihood of a future/missing edge as
    * Σ_{z ∈ Γ(u)∩Γ(v)} 1/ln(deg z) (Adamic & Adar, "Friends and
    * neighbors on the Web", Social Networks 2003). The inverse-log
    * weighting is what separates it from [[neighborSimQ]]'s Jaccard: a
    * shared RARE partner (low degree) is strong evidence two entities
    * belong together, a shared hub says almost nothing — the same
    * inverse-document-frequency physics as TF-IDF, applied to graph
    * neighborhoods. The production uses are candidate generation for
    * entity resolution and knowledge-graph completion.
    *
    * Scale shape: the common-neighbor join is keyed on the shared
    * neighbor z — per-z work is deg(z)² candidate pairs, the standard
    * AA cost model; on power-law graphs the hub term dominates, so the
    * deg ≥ 2 scoring floor doubles as documentation of where a hub cap
    * (drop z above a degree ceiling — LSH-style candidate bounding)
    * slots in at 10⁹ nodes. Everything after the shared [[tradeEdges]]
    * corpus pass is |V|²-bounded.
    *
    * Determinism contract: each neighbor's 1/ln(deg) term is one IEEE
    * double rounded to 12 dp and summed as DECIMAL(20,12) — an
    * order-independent exact merge (the [[pagerankQ]] contract), so
    * both engines produce identical scores regardless of join order.
    * Common neighbors of degree 1 cannot occur in a consistent
    * undirected graph (z adjacent to both u and v has deg ≥ 2); the
    * explicit deg ≥ 2 guard documents the ln(1)=0 pole anyway. */
  def adamicAdarQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = strongUndirected(s, dir)
    val deg = und.groupBy($"src").agg(count(lit(1)).as("deg"))
    val terms = und.as("a").join(und.as("b"),
        $"a.dst" === $"b.dst" && $"a.src" < $"b.src")
      .select($"a.src".as("na"), $"b.src".as("nb"), $"a.dst".as("z"))
      .join(deg.select($"src".as("z"), $"deg"), Seq("z"))
      .filter($"deg" >= 2)
    val scored = terms.groupBy($"na", $"nb").agg(
      count(lit(1)).as("n_common"),
      sum(round(lit(1.0) / log($"deg"), 12).cast("decimal(20,12)"))
        .as("aa"))
    val existing = und.filter($"src" < $"dst")
      .select($"src".as("na"), $"dst".as("nb"))
    scored.join(existing, Seq("na", "nb"), "left_anti")
      .select($"na".as("nation_a"), $"nb".as("nation_b"),
        $"n_common".cast("long").as("n_common"),
        round($"aa".cast("double"), 6).as("adamic_adar"))
      .orderBy($"nation_a", $"nation_b")
  }

  val adamicAdarSql: String =
    """WITH edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM edges),
      |thr AS (SELECT w AS thr FROM rk WHERE rn = (75 * n + 99) // 100),
      |st AS (SELECT src, dst FROM edges, thr WHERE w >= thr),
      |und AS (SELECT DISTINCT src, dst FROM (
      |        SELECT src, dst FROM st
      |        UNION ALL SELECT dst, src FROM st)),
      |deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
      |scored AS (
      |  SELECT a.src AS na, b.src AS nb, COUNT(*) AS n_common,
      |    SUM(CAST(ROUND(1.0 / ln(d.deg), 12) AS DECIMAL(20,12))) AS aa
      |  FROM und a JOIN und b ON a.dst = b.dst AND a.src < b.src
      |  JOIN deg d ON a.dst = d.src
      |  WHERE d.deg >= 2
      |  GROUP BY 1, 2)
      |SELECT na AS nation_a, nb AS nation_b,
      |  CAST(n_common AS BIGINT) AS n_common,
      |  ROUND(CAST(aa AS DOUBLE), 6) AS adamic_adar
      |FROM scored s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM und u WHERE u.src = s.na AND u.dst = s.nb)
      |ORDER BY nation_a, nation_b""".stripMargin

  /** k-core extraction — iterative peeling to a fixpoint: repeatedly
    * drop nodes whose degree in the UNDIRECTED strong trade graph falls
    * below `k` until every survivor has ≥ k strong partners. The
    * "dense-interaction nucleus" selector (spam rings, core trading
    * blocs, well-connected crawl hubs); with [[Iterate.fixpoint]] the
    * loop is checkpointed per round and converges in ≤ diameter·k-ish
    * rounds on real graphs.
    *
    * Per round: surviving edges = edges semi-joined to surviving nodes
    * on BOTH endpoints (two broadcast joins — node frames are |V|
    * rows), one combinable degree aggregate, one filter. Node-bounded
    * work after the shared [[tradeEdges]] build.
    *
    * Not oracle-registered: the round count is data-dependent, which a
    * chained-CTE oracle cannot express (same stance as
    * [[pagerankConverged]]); the spec verifies against an in-memory
    * peel of the collected edge list. */
  def kcore(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    val und = strongUndirected(s, dir).cache()
    // state = (id, alive); a round flips alive→false where the degree
    // among still-alive neighbours dropped below k; fixpoint = no flip
    val init = und.select($"src".as("id")).distinct()
      .withColumn("alive", lit(true))
    val converged = Iterate.fixpoint(init, 30, s"kcore($k)") { nodes =>
      val alive = nodes.filter($"alive").select($"id")
      val deg = und
        .join(broadcast(alive.select($"id".as("src"))), Seq("src"))
        .join(broadcast(alive.select($"id".as("dst"))), Seq("dst"))
        .groupBy($"src").agg(count(lit(1)).as("deg"))
      nodes
        .join(broadcast(deg), $"id" === $"src", "left")
        .select($"id", $"alive",
          ($"alive" && coalesce($"deg", lit(0L)) >= k).as("alive2"))
        .select($"id", $"alive2".as("alive"),
          ($"alive2" =!= $"alive").as("chg"))
    }
    converged.filter($"alive").select($"id".as("node")).orderBy($"node")
  }

  /** q_graph_kcore entry: the 3-CORE of the p75-strong undirected trade
    * graph — iterative peeling (drop nodes with induced degree < k
    * until fixpoint) via [[Iterate.fixpoint]], upgraded from spec-only
    * to ORACLE-BACKED: the DuckDB twin runs the identical peeling as a
    * recursive CTE carrying the alive-set as a list column for a fixed
    * 30-round budget (peeling is monotone, so extra rounds after
    * convergence are no-ops — the same reason the Spark fixpoint can
    * stop early and still agree). Output is each core member with its
    * degree INSIDE the core (≥ k by definition — the in-result gate).
    *
    * Scale shape: per round one degree aggregate over the node-bounded
    * edge list with the alive set broadcast; the 1-row p75 threshold
    * frame is a whitelisted broadcast. */
  def kcoreQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val core = kcore(s, dir, 3)
    val und = strongUndirected(s, dir)
    und
      .join(broadcast(core.select($"node".as("src"))), Seq("src"))
      .join(broadcast(core.select($"node".as("dst"))), Seq("dst"))
      .groupBy($"src".as("node")).agg(count(lit(1)).as("deg_in_core"))
      .orderBy($"node")
  }

  val kcoreSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |st AS (
      |  SELECT w AS thr FROM (
      |    SELECT w, ROW_NUMBER() OVER (ORDER BY w, src, dst) AS rn,
      |      COUNT(*) OVER () AS n
      |    FROM e)
      |  WHERE rn = (75 * n + 99) // 100),
      |sym AS MATERIALIZED (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT src, dst FROM e, st WHERE w >= thr
      |    UNION ALL SELECT dst, src FROM e, st WHERE w >= thr)),
      |rec(round, alive) AS (
      |  SELECT 0, (SELECT list(DISTINCT src ORDER BY src) FROM sym)
      |  UNION ALL
      |  SELECT round + 1, COALESCE(
      |    (SELECT list(n ORDER BY n) FROM (
      |       SELECT u.n AS n
      |       FROM unnest(r.alive) AS u(n)
      |       JOIN sym s ON s.src = u.n AND list_contains(r.alive, s.dst)
      |       GROUP BY u.n HAVING COUNT(*) >= 3)), [])
      |  FROM rec r WHERE round < 30)
      |SELECT u.n AS node,
      |  (SELECT COUNT(*) FROM sym s
      |   WHERE s.src = u.n AND list_contains(a.alive, s.dst)) AS deg_in_core
      |FROM (SELECT alive FROM rec WHERE round = 30) a, unnest(a.alive) AS u(n)
      |ORDER BY node""".stripMargin

  /** q_graph_scc entry: STRONGLY CONNECTED COMPONENTS of the p75-strong
    * DIRECTED trade graph — transitive closure by REPEATED SQUARING
    * (R ← R ∪ R∘R, 5 rounds ⇒ paths ≤ 2⁵ ≥ any simple path on 25
    * nodes), then SCC(u) = min{v : u⇝v ∧ v⇝u}. Directionality is the
    * point: an exporter can reach the world while nothing reaches it
    * back, which the undirected components can never show. Every SCC
    * member row carries its component id and size; the singleton flag
    * separates the one mutual-trade core from the periphery (the
    * condensation most trade-flow analyses start from).
    *
    * Scale shape: the closure frame is node²-bounded (nations), so
    * log-diameter squaring rounds of tiny self-joins beat any per-hop
    * walk; at a billion-node graph this slots into FW–BW decomposition
    * instead — the node-bounded closure is the right tool exactly when
    * the vertex set is a bounded dimension. Determinism: pure set
    * algebra, zero FP. Oracle: DuckDB recursive-CTE reachability (a
    * DIFFERENT closure algorithm — per-hop walk with UNION dedup —
    * landing on the identical fixpoint, the cross-algorithm proof
    * shape). */
  def sccQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val strong = strongEdges(tradeEdges(s, dir).filter($"src" =!= $"dst"))
      .select($"src", $"dst")
    val nodes = strong.select($"src".as("n"))
      .unionByName(strong.select($"dst".as("n"))).distinct()
    // per-round checkpoint: each squaring references the frame TWICE, so
    // an uncut lineage branches 2^5-fold and recomputes the whole chain
    // (measured: 6 min for 25 nodes without the cut, ~2 s with it)
    var reach = strong
      .unionByName(nodes.select($"n".as("src"), $"n".as("dst")))
      .distinct().checkpoint()
    // r16 static rounds (Iterate.fixpoint loop-planning contract): the
    // reach frame is |V|²-bounded by schema (nations), so the squaring
    // self-join broadcast-hints its probe side
    Iterate.staticRounds(s, reach) {
      (1 to 5).foreach { _ =>
        reach = reach.as("a")
          .join(broadcast(reach.as("b")), $"a.dst" === $"b.src")
          .select($"a.src".as("src"), $"b.dst".as("dst"))
          .unionByName(reach)
          .distinct().checkpoint()
      }
    }
    val mutual = reach.as("a")
      .join(broadcast(reach.as("b")),
        $"a.src" === $"b.dst" && $"a.dst" === $"b.src")
      .select($"a.src".as("u"), $"a.dst".as("v"))
    val scc = mutual.groupBy($"u").agg(min($"v").as("scc_id"))
    val sizes = scc.groupBy($"scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, "scc_id")
      .select($"u".as("node"), $"scc_id", $"scc_size",
        ($"scc_size" === 1).as("is_trivial"))
      .orderBy($"node")
  }

  val sccSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  WHERE cn.n_name <> sn.n_name
      |  GROUP BY 1, 2),
      |st AS (
      |  SELECT w AS thr FROM (
      |    SELECT w, ROW_NUMBER() OVER (ORDER BY w, src, dst) AS rn,
      |      COUNT(*) OVER () AS n
      |    FROM e)
      |  WHERE rn = (75 * n + 99) // 100),
      |strong AS MATERIALIZED (SELECT src, dst FROM e, st WHERE w >= thr),
      |nodes AS (
      |  SELECT DISTINCT src AS n FROM strong
      |  UNION SELECT DISTINCT dst FROM strong),
      |walk(src, dst) AS (
      |  SELECT src, dst FROM strong
      |  UNION
      |  SELECT w.src, e2.dst FROM walk w JOIN strong e2 ON e2.src = w.dst),
      |mutual AS (
      |  SELECT n.n AS u, n.n AS v FROM nodes n
      |  UNION
      |  SELECT a.src, a.dst
      |  FROM walk a JOIN walk b ON b.src = a.dst AND b.dst = a.src),
      |scc AS (SELECT u, MIN(v) AS scc_id FROM mutual GROUP BY u),
      |sz AS (SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
      |       FROM scc GROUP BY 1)
      |SELECT u AS node, scc.scc_id, scc_size, scc_size = 1 AS is_trivial
      |FROM scc JOIN sz ON sz.scc_id = scc.scc_id
      |ORDER BY node""".stripMargin

  /** The p75-strong undirected edge list shared by [[kcore]], [[bfsQ]]
    * and the other hop-based queries: the [[strongEdges]] of the trade
    * graph, symmetrized. */
  private[ops] def strongUndirected(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val strong = strongEdges(tradeEdges(s, dir)).select($"src", $"dst")
    strong.unionByName(strong.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
  }

  /** q_graph_bfs entry: single-source BFS hop distances from NATION_0
    * over the strong undirected trade graph — "how many strong-trade
    * hops away is every entity from an anchor", the reachability /
    * blast-radius primitive (supply-chain exposure, crawl frontier
    * depth, influence radius). Unreached nodes are reported with hop
    * −1 so the output also names the disconnected remainder.
    *
    * Iterative frontier relaxation by the one-root form of [[hops]]
    * (converges in diameter rounds, each one equi-join + combinable min
    * over (root, id, hop) frames); the oracle expresses the same
    * reachability as a recursive CTE with a min-hop rollup, the
    * [[Dedup.clustersSql]] stance. */
  def bfsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = strongUndirected(s, dir).cache()
    // anchor = highest-strong-degree node (smallest name on ties) — a
    // data-chosen hub, so the query is non-vacuous at every SF; the
    // oracle derives the same anchor from the same frame
    val root = und.groupBy($"src").agg(count(lit(1)).as("deg"))
      .orderBy($"deg".desc, $"src").limit(1)
      .select($"src".as("root"))
    hops(und, t(s, dir, "nation").select($"n_name".as("id")), root, "bfs")
      .select($"id".as("node"), $"root",
        when($"hop" >= unreached, lit(-1L)).otherwise($"hop").as("hop"))
      .orderBy($"node")
  }

  /** Hop value [[hops]] gives a (root, node) pair the search never
    * reaches. */
  private[ops] val unreached = 999L

  /** Multi-source BFS: the hop distance from every root in `roots`
    * (column `root`) to every node in `nodes` (column `id`) over the
    * symmetric edge list `und` (src, dst), as (root, id, hop) with
    * [[unreached]] for pairs in different components. The kernel behind
    * [[bfsQ]] (one root), [[closenessQ]], [[betweennessQ]] and
    * [[diameterQ]] (every node a root).
    *
    * One [[Iterate.fixpoint]] relaxes every source at once: per round,
    * hop(r, v) → min(hop(r, v), min over neighbours u of hop(r, u) + 1)
    * — one join of the (root, id, hop) frame against the broadcast edge
    * list plus a (root, node) min, the plan one source needs, ×|roots|
    * frame rows, not ×|roots| passes over the data. Converges in
    * diameter rounds; the frame is |roots|·|nodes| rows regardless of
    * corpus size. `what` names the loop in the non-convergence error. */
  private[ops] def hops(und: DataFrame, nodes: DataFrame, roots: DataFrame,
      what: String): DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    val init = roots.crossJoin(nodes)
      .withColumn("hop", when($"id" === $"root", 0L).otherwise(unreached))
    Iterate.fixpoint(init, 30, what) { state =>
      val relaxed = state
        .select($"root".as("r2"), $"id".as("dst"), ($"hop" + 1).as("cand"))
        .join(broadcast(und), Seq("dst"))
        .groupBy($"r2", $"src").agg(min($"cand").as("nbr"))
      state
        .join(broadcast(relaxed), $"id" === $"src" && $"root" === $"r2", "left")
        .select($"root", $"id",
          least($"hop", coalesce($"nbr", $"hop")).as("hop"),
          (coalesce($"nbr", $"hop") < $"hop").as("chg"))
    }
  }

  val bfsSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM edges),
      |thr AS (SELECT w AS thr FROM rk WHERE rn = (75 * n + 99) // 100),
      |st AS (SELECT src, dst FROM edges, thr WHERE w >= thr),
      |-- explicit DISTINCT, not bare UNION: inside WITH RECURSIVE,
      |-- DuckDB 1.0 skips the dedup of a non-recursive CTE's UNION,
      |-- which would double edge degrees and move the anchor
      |und AS (SELECT DISTINCT src, dst FROM (
      |        SELECT src, dst FROM st
      |        UNION ALL SELECT dst, src FROM st)),
      |best AS (
      |  SELECT src AS root FROM (
      |    SELECT src, COUNT(*) AS deg FROM und GROUP BY src
      |    ORDER BY deg DESC, src LIMIT 1)),
      |walk(node, hop) AS (
      |  SELECT root, 0 FROM best
      |  UNION
      |  SELECT u.dst, w.hop + 1
      |  FROM walk w JOIN und u ON w.node = u.src
      |  WHERE w.hop < 30),
      |dist AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node)
      |SELECT n.n_name AS node, (SELECT root FROM best) AS root,
      |  CAST(COALESCE(d.hop, -1) AS BIGINT) AS hop
      |FROM nation n LEFT JOIN dist d ON n.n_name = d.node
      |ORDER BY node""".stripMargin

  /** q_graph_hits entry: HITS hubs-and-authorities over the directed
    * trade graph — PageRank's bipartite-role twin: a nation is a strong
    * AUTHORITY when strong hubs buy from it, a strong HUB when it buys
    * from strong authorities (here: consumer-side vs producer-side
    * prominence; on a link corpus, directory pages vs content pages —
    * the crawl-frontier prioritization signal PageRank's single score
    * conflates). Three unrolled mutual-reinforcement steps, L1
    * normalization per step.
    *
    * Same determinism contract and scale shape as [[pagerankQ]]: the
    * corpus pass is the shared checkpointed [[tradeEdges]] build; each
    * half-step shuffles |edges| contribution rows with per-edge terms
    * rounded 9 dp and summed as DECIMAL(28,9); normalization divides
    * by a broadcast 1-row L1 total (audit-whitelisted) and re-rounds
    * to 9 dp so both engines iterate on identical doubles. */
  def hitsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val nodes = t(s, dir, "nation").select($"n_name".as("node"))
    var hub = nodes.withColumn("h", lit(0.04)) // 1/25 exactly
    var auth: DataFrame = nodes.withColumn("a", lit(0.04))
    for (_ <- 1 to iterations) {
      val araw = edges
        .join(broadcast(hub.withColumnRenamed("node", "src")), "src")
        .select($"dst",
          round($"h" * $"w".cast("double"), 9).cast("decimal(28,9)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("raw"))
      val atot = araw.agg(sum($"raw").as("tot"))
      // each score frame is read twice (next half-step + final join) and
      // sits atop a branching plan (raw + its total); an eager checkpoint
      // of the 25-row frame cuts the lineage so the 6 half-steps cost
      // 6 edge joins, not 2^6 recomputes (measured 7.8s -> linear)
      auth = nodes.join(araw, $"node" === $"dst", "left")
        .crossJoin(broadcast(atot))
        .select($"node",
          round(coalesce($"raw", lit(0)).cast("double") /
            $"tot".cast("double"), 9).as("a"))
        .checkpoint()
      val hraw = edges
        .join(broadcast(auth.withColumnRenamed("node", "dst")), "dst")
        .select($"src",
          round($"a" * $"w".cast("double"), 9).cast("decimal(28,9)").as("c"))
        .groupBy($"src").agg(sum($"c").as("raw"))
      val htot = hraw.agg(sum($"raw").as("tot"))
      hub = nodes.join(hraw, $"node" === $"src", "left")
        .crossJoin(broadcast(htot))
        .select($"node",
          round(coalesce($"raw", lit(0)).cast("double") /
            $"tot".cast("double"), 9).as("h"))
        .checkpoint()
    }
    auth.join(hub, "node")
      .select($"node".as("nation"),
        $"a".cast("double").as("authority"),
        $"h".cast("double").as("hub"))
      .orderBy($"authority".desc, $"nation")
  }

  val hitsSql: String = {
    // one mutual-reinforcement step as SQL, parameterized on the
    // previous hub CTE; emits authority CTE `outA` and hub CTE `outH`
    def iter(prevH: String, outA: String, outH: String): String =
      s"""${outA}_raw AS (
         |  SELECT e.dst,
         |    SUM(CAST(ROUND(p.h * CAST(e.w AS DOUBLE), 9)
         |      AS DECIMAL(28,9))) AS raw
         |  FROM edges e JOIN $prevH p ON p.node = e.src
         |  GROUP BY e.dst),
         |$outA AS (
         |  SELECT n.node,
         |    ROUND(CAST(COALESCE(r.raw, 0) AS DOUBLE)
         |      / (SELECT CAST(SUM(raw) AS DOUBLE) FROM ${outA}_raw), 9) AS a
         |  FROM nodes n LEFT JOIN ${outA}_raw r ON n.node = r.dst),
         |${outH}_raw AS (
         |  SELECT e.src,
         |    SUM(CAST(ROUND(q.a * CAST(e.w AS DOUBLE), 9)
         |      AS DECIMAL(28,9))) AS raw
         |  FROM edges e JOIN $outA q ON q.node = e.dst
         |  GROUP BY e.src),
         |$outH AS (
         |  SELECT n.node,
         |    ROUND(CAST(COALESCE(r.raw, 0) AS DOUBLE)
         |      / (SELECT CAST(SUM(raw) AS DOUBLE) FROM ${outH}_raw), 9) AS h
         |  FROM nodes n LEFT JOIN ${outH}_raw r ON n.node = r.src)""".stripMargin
    s"""WITH edges AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  GROUP BY 1, 2),
       |nodes AS (SELECT n_name AS node FROM nation),
       |h0 AS (SELECT node, 0.04::DOUBLE AS h FROM nodes),
       |${iter("h0", "a1", "h1")},
       |${iter("h1", "a2", "h2")},
       |${iter("h2", "a3", "h3")}
       |SELECT a.node AS nation, CAST(a.a AS DOUBLE) AS authority,
       |  CAST(h.h AS DOUBLE) AS hub
       |FROM a3 a JOIN h3 h ON a.node = h.node
       |ORDER BY authority DESC, nation""".stripMargin
  }

  /** q_graph_assortativity entry: degree assortativity of the trade
    * graph (Newman 2002) — the Pearson correlation between the
    * out-degree of an edge's source and the in-degree of its target:
    * positive = hubs trade with hubs (resilient core), negative =
    * hub-and-spoke (failure-prone star topology). The one-number
    * topology summary read next to [[trianglesQ]]'s local density and
    * [[reciprocityQ]]'s asymmetry.
    *
    * Scale shape: degrees are two combinable groupBys over the shared
    * checkpointed edge list; each edge then joins its two (≤|V|-row,
    * broadcast) degree frames and the correlation is ONE combinable
    * aggregate of exact integer power sums — the [[Profile]] Pearson
    * idiom on the edge frame. Exact integers until the final shared
    * IEEE formula, 6 dp. */
  def assortativityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the raw trade graph is near-complete (uniform degrees → zero
    // variance → r undefined), so correlate over the p75-STRONG edges
    // ([[strongEdges]], the sparsification every strong-graph query uses)
    val strong = strongEdges(tradeEdges(s, dir)).select($"src", $"dst")
    val outd = strong.groupBy($"src").agg(count(lit(1)).as("dx"))
    val ind = strong.groupBy($"dst").agg(count(lit(1)).as("dy"))
    strong
      .join(broadcast(outd), "src")
      .join(broadcast(ind), "dst")
      .agg(count(lit(1)).as("m"), sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum($"dx" * $"dx").as("sxx"), sum($"dy" * $"dy").as("syy"),
        sum($"dx" * $"dy").as("sxy"))
      .withColumn("vx", $"m".cast("double") * $"sxx" -
        $"sx".cast("double") * $"sx")
      .withColumn("vy", $"m".cast("double") * $"syy" -
        $"sy".cast("double") * $"sy")
      .select($"m".cast("long").as("n_edges"),
        when($"vx" > 0d && $"vy" > 0d,
          round(($"m".cast("double") * $"sxy" -
            $"sx".cast("double") * $"sy") /
            (sqrt($"vx") * sqrt($"vy")), 6)).as("assortativity"))
  }

  val assortativitySql: String =
    """WITH edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |thr AS (
      |  SELECT w AS thr FROM (
      |    SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |      COUNT(*) OVER () AS n
      |    FROM edges)
      |  WHERE rn = (75 * n + 99) // 100),
      |strong AS (SELECT src, dst FROM edges, thr WHERE w >= thr),
      |od AS (SELECT src, COUNT(*) AS dx FROM strong GROUP BY src),
      |id AS (SELECT dst, COUNT(*) AS dy FROM strong GROUP BY dst),
      |a AS (
      |  SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
      |    SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy, SUM(dx * dy) AS sxy
      |  FROM strong JOIN od USING (src) JOIN id USING (dst)),
      |v AS (
      |  SELECT m, sx, sy, sxy,
      |    CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
      |    CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy
      |  FROM a)
      |SELECT CAST(m AS BIGINT) AS n_edges,
      |  CASE WHEN vx > 0 AND vy > 0 THEN
      |    ROUND((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / (sqrt(vx) * sqrt(vy)), 6)
      |  END AS assortativity
      |FROM v""".stripMargin

  /** q_graph_modularity entry: Newman–Girvan MODULARITY of the region
    * partition over the undirected trade graph — "how much more trade
    * stays inside a region than a random rewiring would put there", the
    * quality score every community-detection loop (Louvain, label
    * propagation) greedily climbs. Per region c:
    * Q_c = in_c/m − (deg_c/(2m))², with in_c = weight inside c, deg_c =
    * total degree of c's nodes, m = total undirected weight (self-loops
    * excluded, directed weights collapsed u<v).
    *
    * Everything up to the final Q_c is exact integer arithmetic on the
    * 25-node collapsed graph; the one double division is a fixed tree
    * over those integers — engine-portable. Scale: the corpus pass is
    * [[tradeEdges]]'s checkpointed collapse; all graph-side frames are
    * node/edge-bounded and broadcast; the 1-row total-weight frame is a
    * whitelisted broadcast cross join. */
  /** q_graph_communities entry: weighted synchronous LABEL-PROPAGATION
    * community detection (Raghavan–Albert–Kumara 2007) over the
    * p90-strong undirected trade graph — three synchronized rounds
    * where every node adopts the label with the LARGEST incident edge
    * weight among its neighbors (tie → smallest label), then a
    * modularity readout of the discovered partition (the same
    * q_contrib arithmetic as [[modularityQ]], whose partition is
    * region-GIVEN; here the partition is LEARNED from edge structure).
    * Min-label propagation finds connected components; weighted
    * mode-label propagation is what finds communities — the round is
    * one aggregate + one per-node argmax window, the Pregel step shape.
    *
    * Determinism: synchronous rounds (no update-order dependence), a
    * fixed round budget (a snapshot, since raw LPA may oscillate), and
    * the (weight DESC, label ASC) argmax tie-break — all integer
    * weights, zero FP until the final q_contrib division. Scale shape:
    * each round exchanges the edge-bounded (node, lbl) frame; labels
    * broadcast back for the readout; the 1-row threshold/total frames
    * are whitelisted broadcasts. */
  def communitiesQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val und = tradeEdges(s, dir).filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"),
        greatest($"src", $"dst").as("v"), $"w")
      .groupBy($"u", $"v").agg(sum($"w").as("w"))
    val wAll = Window.partitionBy(lit(0))
    val thr = und
      .withColumn("rn", row_number().over(
        Window.partitionBy(lit(0)).orderBy($"w", $"u", $"v")))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter($"rn" === expr("(90 * n + 99) div 100"))
      .select($"w".as("thr"))
    val strong = und.join(broadcast(thr), $"w" >= $"thr")
      .select($"u", $"v", $"w")
    val sym = strong.select($"u".as("node"), $"v".as("nbr"), $"w")
      .unionByName(strong.select($"v".as("node"), $"u".as("nbr"), $"w"))
    // r16: argmax by (ws DESC, lbl ASC) as min(struct(-ws, lbl)) — no
    // per-round window sort; labels are |V|-bounded, broadcast-hinted
    def lpaRound(labels: DataFrame): DataFrame =
      sym.join(broadcast(labels.withColumnRenamed("node", "nbr")), "nbr")
        .groupBy($"node", $"lbl").agg(sum($"w").as("ws"))
        .groupBy($"node")
        .agg(min(struct((-$"ws").as("ns"), $"lbl".as("lbl"))).as("top"))
        .select($"node", $"top.lbl".as("lbl"))
    val l0 = sym.select($"node").distinct().select($"node", $"node".as("lbl"))
    // checkpoint: l3 is referenced FOUR times downstream (both tag
    // broadcasts, degW, sizes) and each reference re-embeds the whole
    // 3-round chain — the uncut plan carried 378 Exchange mentions
    // (r16); the frame is |V|-bounded, so the cut is one tiny job
    val l3 = lpaRound(lpaRound(lpaRound(l0))).checkpoint()
    val total = strong.agg(sum($"w").as("m")) // 1-row broadcast (whitelist)
    val tagged = strong
      .join(broadcast(l3.select($"node".as("u"), $"lbl".as("cu"))), "u")
      .join(broadcast(l3.select($"node".as("v"), $"lbl".as("cv"))), "v")
    val inW = tagged.filter($"cu" === $"cv")
      .groupBy($"cu".as("community")).agg(sum($"w").as("in_w"))
    val degW = sym.join(broadcast(l3), "node")
      .groupBy($"lbl".as("community")).agg(sum($"w").as("deg_w"))
    val sizes = l3.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_members"))
    sizes.join(degW, Seq("community"), "left")
      .join(inW, Seq("community"), "left")
      .crossJoin(broadcast(total))
      .select($"community", $"n_members",
        coalesce($"in_w", lit(0L)).cast("long").as("in_w"),
        coalesce($"deg_w", lit(0L)).cast("long").as("deg_w"),
        round(coalesce($"in_w", lit(0L)).cast("double") / $"m".cast("double")
          - (coalesce($"deg_w", lit(0L)).cast("double") /
              (lit(2.0) * $"m".cast("double"))) *
            (coalesce($"deg_w", lit(0L)).cast("double") /
              (lit(2.0) * $"m".cast("double"))), 6).as("q_contrib"))
      .orderBy($"community")
  }

  val communitiesSql: String = {
    def lpa(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT s.node, l.lbl, SUM(s.w) AS ws,
         |      ROW_NUMBER() OVER (PARTITION BY s.node
         |        ORDER BY SUM(s.w) DESC, l.lbl) AS rn
         |    FROM sym s JOIN $prev l ON l.node = s.nbr
         |    GROUP BY s.node, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH e AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  WHERE cn.n_name <> sn.n_name
       |  GROUP BY 1, 2),
       |und AS (
       |  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, SUM(w) AS w
       |  FROM e GROUP BY 1, 2),
       |st AS (
       |  SELECT w AS thr FROM (
       |    SELECT w, ROW_NUMBER() OVER (ORDER BY w, u, v) AS rn,
       |      COUNT(*) OVER () AS n
       |    FROM und)
       |  WHERE rn = (90 * n + 99) // 100),
       |strong AS MATERIALIZED (
       |  SELECT u, v, w FROM und, st WHERE w >= thr),
       |sym AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr, w FROM strong
       |  UNION ALL SELECT v AS node, u AS nbr, w FROM strong),
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM sym),
       |${lpa("l0", "l1")},
       |${lpa("l1", "l2")},
       |${lpa("l2", "l3")},
       |tot AS (SELECT SUM(w) AS m FROM strong),
       |inw AS (
       |  SELECT lu.lbl AS community, SUM(strong.w) AS in_w
       |  FROM strong
       |  JOIN l3 lu ON strong.u = lu.node
       |  JOIN l3 lv ON strong.v = lv.node
       |  WHERE lu.lbl = lv.lbl GROUP BY 1),
       |degw AS (
       |  SELECT l.lbl AS community, SUM(s.w) AS deg_w
       |  FROM sym s JOIN l3 l ON l.node = s.node GROUP BY 1),
       |sizes AS (
       |  SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
       |  FROM l3 GROUP BY 1)
       |SELECT sizes.community, n_members,
       |  CAST(COALESCE(in_w, 0) AS BIGINT) AS in_w,
       |  CAST(COALESCE(deg_w, 0) AS BIGINT) AS deg_w,
       |  ROUND(CAST(COALESCE(in_w, 0) AS DOUBLE) / CAST(m AS DOUBLE)
       |    - (CAST(COALESCE(deg_w, 0) AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
       |      * (CAST(COALESCE(deg_w, 0) AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))),
       |    6) AS q_contrib
       |FROM sizes
       |LEFT JOIN degw ON degw.community = sizes.community
       |LEFT JOIN inw ON inw.community = sizes.community, tot
       |ORDER BY sizes.community""".stripMargin
  }

  def modularityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = tradeEdges(s, dir).filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"),
        greatest($"src", $"dst").as("v"), $"w")
      .groupBy($"u", $"v").agg(sum($"w").as("w"))
    val regionOf = t(s, dir, "nation")
      .join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
      .select($"n_name".as("node"), $"r_name".as("community"))
    val total = und.agg(sum($"w").as("m")) // 1 row — broadcast NLJ below
    val degs = und.select($"u".as("node"), $"w")
      .unionByName(und.select($"v".as("node"), $"w"))
      .groupBy($"node").agg(sum($"w").as("d"))
      .join(broadcast(regionOf), "node")
      .groupBy($"community").agg(sum($"d").as("deg_w"))
    val internal = und
      .join(broadcast(regionOf.withColumnRenamed("node", "u")
        .withColumnRenamed("community", "cu")), "u")
      .join(broadcast(regionOf.withColumnRenamed("node", "v")
        .withColumnRenamed("community", "cv")), "v")
      .filter($"cu" === $"cv")
      .groupBy($"cu".as("community")).agg(sum($"w").as("in_w"))
    t(s, dir, "region").select($"r_name".as("community"))
      .join(degs, Seq("community"), "left")
      .join(internal, Seq("community"), "left")
      .crossJoin(broadcast(total))
      .select($"community",
        coalesce($"in_w", lit(0L)).cast("long").as("in_w"),
        coalesce($"deg_w", lit(0L)).cast("long").as("deg_w"),
        round(coalesce($"in_w", lit(0L)).cast("double") / $"m".cast("double") -
          (coalesce($"deg_w", lit(0L)).cast("double") /
            (lit(2.0) * $"m".cast("double"))) *
          (coalesce($"deg_w", lit(0L)).cast("double") /
            (lit(2.0) * $"m".cast("double"))), 6).as("q_contrib"))
      .orderBy($"community")
  }

  val modularitySql: String =
    """WITH e AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  WHERE cn.n_name <> sn.n_name
      |  GROUP BY 1, 2),
      |und AS (
      |  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, SUM(w) AS w
      |  FROM e GROUP BY 1, 2),
      |reg AS (
      |  SELECT n.n_name AS node, r.r_name AS community
      |  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
      |tot AS (SELECT SUM(w) AS m FROM und),
      |degs AS (
      |  SELECT community, SUM(d) AS deg_w FROM (
      |    SELECT node, SUM(w) AS d FROM (
      |      SELECT u AS node, w FROM und
      |      UNION ALL SELECT v AS node, w FROM und) GROUP BY node)
      |  JOIN reg USING (node) GROUP BY community),
      |intra AS (
      |  SELECT ru.community, SUM(w) AS in_w
      |  FROM und
      |  JOIN reg ru ON und.u = ru.node
      |  JOIN reg rv ON und.v = rv.node
      |  WHERE ru.community = rv.community
      |  GROUP BY 1)
      |SELECT r.r_name AS community,
      |  CAST(COALESCE(in_w, 0) AS BIGINT) AS in_w,
      |  CAST(COALESCE(deg_w, 0) AS BIGINT) AS deg_w,
      |  ROUND(CAST(COALESCE(in_w, 0) AS DOUBLE) / CAST(m AS DOUBLE)
      |    - (CAST(COALESCE(deg_w, 0) AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
      |      * (CAST(COALESCE(deg_w, 0) AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))), 6)
      |    AS q_contrib
      |FROM region r
      |LEFT JOIN degs ON r.r_name = degs.community
      |LEFT JOIN intra ON r.r_name = intra.community
      |CROSS JOIN tot
      |ORDER BY community""".stripMargin

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC 2014) — graft's one connected-components operator, used by
    * near-dup clustering, canonical selection, entity resolution and
    * DBSCAN. Min-label propagation would need diameter(G) rounds; on
    * a 100 TB duplicate graph with long chains (crawl re-post chains,
    * quote cascades) that can be hundreds. The star operations
    * contract paths aggressively and converge in O(log n) rounds
    * regardless of diameter:
    *  - LARGE-STAR, per node u over its full neighborhood:
    *    m = min(Γ(u) ∪ {u}); re-point every neighbor v > u at m.
    *  - SMALL-STAR, per node u over its ≤-neighbors (canonical child →
    *    parent edges grouped by child): m = min of u's parents; point
    *    u and each of its other parents at m.
    * Each is one min-over-partition window — label frames carry ids
    * only, never documents. Each round is eagerly checkpointed (the
    * [[Iterate]] rationale: lineage cut, no O(rounds²) recompute);
    * convergence is edge-set stability, checked as (count,
    * order-independent hash-sum) on the just-checkpointed frame — two
    * cheap scans, no extra join. At the fixpoint the edge set IS the
    * component star: every non-root points at its component min.
    *
    * The hash-sum adds 64-bit `xxhash64` values: a 32-bit hash sum
    * collides far more readily and can make a changed edge set look
    * stable. Throws when `maxIter` rounds do not reach the fixpoint.
    *
    * Returns (id, label) for every node in `pairs` (columns doc_a,
    * doc_b), label = the smallest id in the node's component. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    // canonical child → parent (child > parent) edges
    var state = pairs
      .select(greatest($"doc_a", $"doc_b").as("id"),
        least($"doc_a", $"doc_b").as("parent"))
      .filter($"id" =!= $"parent").distinct().checkpoint()
    def digest(e: DataFrame): (Long, String) = {
      // decimal sum: exact and overflow-free (ANSI long sum would throw)
      val r = e.agg(count(lit(1)),
        sum(xxhash64($"id", $"parent").cast("decimal(38,0)"))).head
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    var d = digest(state)
    var converged = false
    var i = 0
    // Static rounds (the Iterate.fixpoint r16 loop-planning contract):
    // the init checkpoint's AQE-coalesced width pins the loop's shuffle
    // partitions; joins are hinted shuffle_hash — both sides are the
    // same corpus-scaled label frame (never broadcastable at 100 TB),
    // and the groupBy side arrives already hash-partitioned on the join
    // key, so each hinted join adds no exchange for that side.
    // Each star's "per-key min + re-point every member at it" is ONE
    // partition-window (min over the key's whole partition), not a
    // groupBy + self-join: set-identical output (every key group
    // contains its own min row, so emitting per-row `min==self ? other
    // : self → min` reproduces exactly the grouped union the join
    // built), 3 exchanges per round instead of ~8, and no duplicated
    // large-star subtree in the plan. The intermediate distinct is
    // dropped — duplicates cannot change a min and the round-final
    // distinct removes them before the checkpoint.
    val wU = org.apache.spark.sql.expressions.Window.partitionBy($"u")
    val wId = org.apache.spark.sql.expressions.Window.partitionBy($"id")
    Iterate.staticRounds(s, state) {
      while (!converged && i < maxIter) {
        // large-star over the undirected view: v > u re-pointed at
        // m = min(Γ(u) ∪ {u}); every emitted edge keeps child > parent
        val und = state.select($"id".as("u"), $"parent".as("v"))
          .unionByName(state.select($"parent".as("u"), $"id".as("v")))
        val large = und
          .withColumn("m", least($"u", min($"v").over(wU)))
          .filter($"v" > $"u")
          .select($"v".as("id"), $"m".as("parent"))
        // small-star on the canonical edges: per child u with parent set
        // P(u), m = min P(u); emit (u, m) and (p, m) for p ∈ P(u), p ≠ m
        val next = large
          .withColumn("m", min($"parent").over(wId))
          .select(when($"parent" === $"m", $"id").otherwise($"parent").as("id"),
            $"m".as("parent"))
          .filter($"id" =!= $"parent")
          .distinct().checkpoint()
        val d2 = digest(next)
        converged = d2 == d
        d = d2
        state = next
        i += 1
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within maxIter=$maxIter")
    lastRounds = i
    state.select($"id", $"parent".as("label"))
      .unionByName(
        state.select($"parent".as("id")).distinct()
          .join(state.select($"id"), Seq("id"), "left_anti")
          .select($"id", $"id".as("label")))
  }

  /** Rounds the last [[connectedComponentsStar]] call took — spec probe
    * for the O(log n)-vs-diameter claim. */
  @volatile private[graft] var lastRounds: Int = 0

  /** q_graph_closeness entry: CLOSENESS + HARMONIC centrality of every
    * nation over the p75-strong undirected trade graph — the
    * "which hub reaches the network fastest?" ranking that complements
    * [[bfsQ]]'s single-source distances with the all-sources view.
    * Closeness(v) = (reach(v) − 1) / Σᵤ d(v,u) over v's reachable set
    * (0 when v is isolated); harmonic(v) = Σᵤ 1/d(v,u) — defined even
    * on disconnected graphs, which is why both are reported.
    *
    * Implementation: MULTI-SOURCE BFS — [[hops]] with every node as a
    * root relaxes all sources in one fixpoint over the node²-bounded
    * (root, node, hop) frame (nations: 625 rows) regardless of corpus
    * size; the corpus is touched exactly once, in the shared edge
    * collapse.
    *
    * Determinism: hops are exact integers; closeness is one IEEE
    * divide of exact ints; harmonic's 1/d terms round to 9 dp and sum
    * as DECIMAL(28,9) (order-independent). */
  def closenessQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = strongUndirected(s, dir).cache()
    val nodes = t(s, dir, "nation").select($"n_name".as("id"))
    hops(und, nodes, nodes.select($"id".as("root")), "closeness multi-bfs")
      .groupBy($"root")
      .agg(
        sum(when($"hop" < unreached, 1L).otherwise(0L)).as("n_reach"),
        sum(when($"hop" > 0 && $"hop" < unreached, $"hop").otherwise(0L))
          .as("sum_dist"),
        sum(when($"hop" > 0 && $"hop" < unreached,
          round(lit(1d) / $"hop", 9)).otherwise(lit(0d))
          .cast("decimal(28,9)")).as("harm"))
      .select($"root".as("node"), $"n_reach", $"sum_dist",
        when($"sum_dist" > 0,
          round(($"n_reach" - 1).cast("double") / $"sum_dist", 6))
          .otherwise(lit(0d)).as("closeness"),
        round($"harm".cast("double"), 6).as("harmonic"))
      .orderBy($"node")
  }

  val closenessSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM edges),
      |thr AS (SELECT w AS thr FROM rk WHERE rn = (75 * n + 99) // 100),
      |st AS (SELECT src, dst FROM edges, thr WHERE w >= thr),
      |und AS (SELECT DISTINCT src, dst FROM (
      |        SELECT src, dst FROM st
      |        UNION ALL SELECT dst, src FROM st)),
      |walk(root, node, hop) AS (
      |  SELECT n_name, n_name, 0 FROM nation
      |  UNION
      |  SELECT w.root, u.dst, w.hop + 1
      |  FROM walk w JOIN und u ON w.node = u.src
      |  WHERE w.hop < 30),
      |dist AS (SELECT root, node, MIN(hop) AS hop FROM walk GROUP BY 1, 2)
      |SELECT root AS node,
      |  CAST(COUNT(*) AS BIGINT) AS n_reach,
      |  CAST(SUM(CASE WHEN hop > 0 THEN hop ELSE 0 END) AS BIGINT) AS sum_dist,
      |  CASE WHEN SUM(CASE WHEN hop > 0 THEN hop ELSE 0 END) > 0 THEN
      |    ROUND(CAST(COUNT(*) - 1 AS DOUBLE)
      |      / SUM(CASE WHEN hop > 0 THEN hop ELSE 0 END), 6)
      |  ELSE 0.0 END AS closeness,
      |  ROUND(CAST(SUM(CAST(CASE WHEN hop > 0
      |    THEN ROUND(1.0 / hop, 9) ELSE 0.0 END AS DECIMAL(28,9)))
      |    AS DOUBLE), 6) AS harmonic
      |FROM dist GROUP BY root ORDER BY node""".stripMargin

  /** q_graph_betweenness entry: exact BETWEENNESS centrality of every
    * nation over the p75-strong undirected trade graph — the broker /
    * chokepoint ranking that completes the centrality set next to
    * closeness, Katz, and HITS: BC(v) = Σ_{s≠v≠t} σ_st(v)/σ_st, the
    * fraction of all shortest paths passing THROUGH v.
    *
    * Implementation — two multi-source fixpoints plus one bounded
    * triple join, NOT Brandes' backward pass (whose per-source
    * dependency recursion is sequential in level and awkward to
    * mirror in SQL):
    *   1. hop(s,v): the multi-source [[hops]] frame;
    *   2. σ(s,v): shortest-path COUNTS by level-synchronous DP —
    *      σ(s,v) = Σ_{u: hop(s,u)+1 = hop(s,v)} σ(s,u), iterated to
    *      fixpoint (σ at level ℓ is correct after ℓ rounds; counts
    *      grow monotonically from the σ(s,s)=1 base, so `chg` is
    *      well-founded) — exact integers;
    *   3. the σ-product identity: v lies on a shortest s→t path iff
    *      hop(s,v) + hop(v,t) = hop(s,t), contributing
    *      σ(s,v)·σ(v,t)/σ(s,t) — a three-way join of the (root,
    *      node, hop, σ) frame with itself, node³-bounded (25³ rows
    *      for nations) regardless of corpus size.
    *
    * Scale: the corpus is touched once (shared edge collapse); both
    * fixpoints and the triple join run on node²/node³-bounded frames.
    * Determinism: hops and σ are exact integers; each pair term is
    * ONE IEEE divide of exact ints, rounded to 9 dp and summed as
    * DECIMAL(28,9) (order-independent), halved once (unordered
    * pairs), rounded to 6 dp. The oracle mirrors σ by enumerating
    * shortest paths with a UNION ALL recursive CTE (multiplicity =
    * path count; terminates because hop strictly increases toward the
    * precomputed dist) — the level-DP and the enumeration count the
    * same DAG. */
  def betweennessQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = strongUndirected(s, dir).cache()
    val nodes = t(s, dir, "nation").select($"n_name".as("id"))
    val dist = hops(und, nodes, nodes.select($"id".as("root")),
      "betweenness multi-bfs")
    val sig0 = dist
      .withColumn("sigma", when($"hop" === 0, 1L).otherwise(0L))
    val sig = Iterate.fixpoint(sig0, 30, "betweenness sigma-dp") { state =>
      val contrib = state
        .select($"root".as("r2"), $"id".as("src"),
          ($"hop" + 1).as("hl"), $"sigma".as("s0"))
        .join(broadcast(und), Seq("src"))
        .groupBy($"r2", $"dst", $"hl").agg(sum($"s0").as("sg"))
      state
        .join(broadcast(contrib),
          $"root" === $"r2" && $"id" === $"dst" && $"hop" === $"hl", "left")
        .select($"root", $"id", $"hop",
          when($"hop" === 0, lit(1L))
            .otherwise(coalesce($"sg", lit(0L))).as("sigma"),
          (when($"hop" === 0, lit(1L))
            .otherwise(coalesce($"sg", lit(0L))) =!= $"sigma").as("chg"))
    }
    val f = sig.filter($"hop" < unreached).cache()
    val sv = f.select($"root".as("s"), $"id".as("v"),
      $"hop".as("d1"), $"sigma".as("sig1"))
    val vt = f.select($"root".as("v"), $"id".as("tt"),
      $"hop".as("d2"), $"sigma".as("sig2"))
    val st = f.select($"root".as("s"), $"id".as("tt"),
      $"hop".as("d"), $"sigma".as("sigst"))
    val bc = sv
      .join(vt, "v").join(st, Seq("s", "tt"))
      .filter($"s" =!= $"v" && $"tt" =!= $"v" && $"s" =!= $"tt" &&
        $"d1" + $"d2" === $"d")
      .groupBy($"v")
      .agg(count(lit(1)).as("n_pairs_through"),
        sum(round($"sig1".cast("double") * $"sig2".cast("double")
          / $"sigst".cast("double"), 9).cast("decimal(28,9)")).as("m"))
    nodes.join(bc, $"id" === $"v", "left")
      .select($"id".as("node"),
        round(coalesce($"m".cast("double"), lit(0d)) / 2, 6)
          .as("betweenness"),
        coalesce($"n_pairs_through", lit(0L)).cast("long")
          .as("n_pairs_through"))
      .orderBy($"node")
  }

  val betweennessSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM edges),
      |thr AS (SELECT w AS thr FROM rk WHERE rn = (75 * n + 99) // 100),
      |stx AS (SELECT src, dst FROM edges, thr WHERE w >= thr),
      |und AS (SELECT DISTINCT src, dst FROM (
      |        SELECT src, dst FROM stx
      |        UNION ALL SELECT dst, src FROM stx)),
      |walk(root, node, hop) AS (
      |  SELECT n_name, n_name, 0 FROM nation
      |  UNION
      |  SELECT w.root, u.dst, w.hop + 1
      |  FROM walk w JOIN und u ON w.node = u.src
      |  WHERE w.hop < 30),
      |dist AS (SELECT root, node, MIN(hop) AS hop FROM walk GROUP BY 1, 2),
      |sp(root, node, hop) AS (
      |  SELECT n_name, n_name, 0 FROM nation
      |  UNION ALL
      |  SELECT p.root, u.dst, p.hop + 1
      |  FROM sp p
      |  JOIN und u ON u.src = p.node
      |  JOIN dist dd ON dd.root = p.root AND dd.node = u.dst
      |    AND dd.hop = p.hop + 1),
      |sig AS (
      |  SELECT s2.root, s2.node, dd.hop, COUNT(*) AS sigma
      |  FROM sp s2 JOIN dist dd ON dd.root = s2.root AND dd.node = s2.node
      |  WHERE s2.hop = dd.hop
      |  GROUP BY 1, 2, 3),
      |bc AS (
      |  SELECT a.node AS v,
      |    CAST(COUNT(*) AS BIGINT) AS n_pairs_through,
      |    SUM(CAST(ROUND(CAST(a.sigma AS DOUBLE) * CAST(b.sigma AS DOUBLE)
      |      / CAST(c.sigma AS DOUBLE), 9) AS DECIMAL(28,9))) AS m
      |  FROM sig a
      |  JOIN sig b ON b.root = a.node
      |  JOIN sig c ON c.root = a.root AND c.node = b.node
      |  WHERE a.root <> a.node AND b.node <> a.node AND a.root <> b.node
      |    AND a.hop + b.hop = c.hop
      |  GROUP BY 1)
      |SELECT n.n_name AS node,
      |  ROUND(COALESCE(CAST(bc.m AS DOUBLE), 0.0) / 2, 6) AS betweenness,
      |  CAST(COALESCE(bc.n_pairs_through, 0) AS BIGINT) AS n_pairs_through
      |FROM nation n LEFT JOIN bc ON bc.v = n.n_name
      |ORDER BY node""".stripMargin

  /** q_graph_diameter entry: DISTANCE HISTOGRAM + exact and EFFECTIVE
    * diameter of the strong undirected trade graph — the pairwise-hop
    * distribution from multi-source BFS ([[hops]], re-aggregated by
    * distance instead of by root as [[closenessQ]] does), the
    * exact diameter (max finite hop), and the 90%-effective diameter
    * (smallest h covering ≥ 90% of reachable ordered pairs — the
    * metric reported for web/social graphs since Leskovec et al.'s
    * densification studies, robust where one long chain distorts the
    * true max). On a 10⁹-node graph the same histogram comes from
    * HyperANF-style probabilistic frontiers; here the node-bounded
    * exact BFS is both the operator and its own ground truth.
    *
    * Exactness: hop counts are integers; the 90% threshold test is
    * 10·cum ≥ 9·total — integer arithmetic, no FP anywhere. */
  def diameterQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val und = strongUndirected(s, dir).cache()
    val nodes = t(s, dir, "nation").select($"n_name".as("id"))
    val hist = hops(und, nodes, nodes.select($"id".as("root")),
        "diameter multi-bfs")
      .filter($"hop" > 0 && $"hop" < unreached)
      .groupBy($"hop").agg(count(lit(1)).as("n_pairs"))
    val wCum = Window.partitionBy(lit(0)).orderBy($"hop")
    val wAll = Window.partitionBy(lit(0))
    hist
      .withColumn("cum_pairs", sum($"n_pairs").over(wCum))
      .withColumn("total", sum($"n_pairs").over(wAll))
      .withColumn("diameter", max($"hop").over(wAll))
      .withColumn("eff_diameter",
        min(when($"cum_pairs" * 10 >= $"total" * 9, $"hop")).over(wAll))
      .select($"hop".cast("long").as("hop"),
        $"n_pairs".cast("long").as("n_pairs"),
        $"cum_pairs".cast("long").as("cum_pairs"),
        $"diameter".cast("long").as("diameter"),
        $"eff_diameter".cast("long").as("eff_diameter_90"))
      .orderBy($"hop")
  }

  val diameterSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM edges),
      |thr AS (SELECT w AS thr FROM rk WHERE rn = (75 * n + 99) // 100),
      |st AS (SELECT src, dst FROM edges, thr WHERE w >= thr),
      |und AS (SELECT DISTINCT src, dst FROM (
      |        SELECT src, dst FROM st
      |        UNION ALL SELECT dst, src FROM st)),
      |walk(root, node, hop) AS (
      |  SELECT n_name, n_name, 0 FROM nation
      |  UNION
      |  SELECT w.root, u.dst, w.hop + 1
      |  FROM walk w JOIN und u ON w.node = u.src
      |  WHERE w.hop < 30),
      |dist AS (SELECT root, node, MIN(hop) AS hop FROM walk GROUP BY 1, 2),
      |hist AS (
      |  SELECT hop, COUNT(*) AS n_pairs FROM dist WHERE hop > 0
      |  GROUP BY 1),
      |cum AS (
      |  SELECT hop, n_pairs,
      |    SUM(n_pairs) OVER (ORDER BY hop) AS cum_pairs,
      |    SUM(n_pairs) OVER () AS total,
      |    MAX(hop) OVER () AS diameter
      |  FROM hist)
      |SELECT CAST(hop AS BIGINT) AS hop,
      |  CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(cum_pairs AS BIGINT) AS cum_pairs,
      |  CAST(diameter AS BIGINT) AS diameter,
      |  CAST(MIN(CASE WHEN cum_pairs * 10 >= total * 9 THEN hop END)
      |    OVER () AS BIGINT) AS eff_diameter_90
      |FROM cum ORDER BY hop""".stripMargin

  /** q_graph_motifs entry: DIRECTED TRIAD MOTIF census over the
    * p75-strong DIRECTED trade graph (Milo et al., "Network motifs",
    * Science 2002): count two-hop paths a→b→c (a≠c) and classify each
    * by its closure — CYCLIC (c→a closes a 3-cycle), TRANSITIVE (a→c
    * closes a feed-forward triangle), or OPEN. The feed-forward /
    * cycle ratio is the classic signature separating hierarchical flow
    * networks from circulating ones; `n_cycles` reports closed triads
    * divided by 3 (each cycle is counted once per rotation).
    *
    * Scale shape: the path join is keyed on the shared middle node b —
    * per-b work is indeg(b)·outdeg(b), the standard motif-count cost —
    * and closure tests are broadcast hash joins against the edge list;
    * everything after the shared [[tradeEdges]] corpus pass is
    * |V|²-bounded. Exact integers throughout. */
  def motifsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = strongEdges(tradeEdges(s, dir))
      .filter($"src" =!= $"dst")
      .select($"src", $"dst")
    val paths = st.as("e1").join(st.as("e2"), $"e1.dst" === $"e2.src")
      .filter($"e1.src" =!= $"e2.dst")
      .select($"e1.src".as("a"), $"e1.dst".as("b"), $"e2.dst".as("c"))
    val closed = paths
      .join(broadcast(st.select($"src".as("c"), $"dst".as("a"))
        .withColumn("cyc", lit(1L))), Seq("c", "a"), "left")
      .join(broadcast(st.select($"src".as("a"), $"dst".as("c"))
        .withColumn("ff", lit(1L))), Seq("a", "c"), "left")
    closed.agg(count(lit(1)).as("n_paths"),
        sum(coalesce($"cyc", lit(0L))).as("n_cyclic_paths"),
        sum(coalesce($"ff", lit(0L))).as("n_ff"))
      .select($"n_paths".cast("long").as("n_two_hop_paths"),
        expr("CAST(n_cyclic_paths div 3 AS BIGINT)").as("n_cycles"),
        $"n_ff".cast("long").as("n_feed_forward"),
        expr("CAST((10000 * n_ff) div n_paths AS BIGINT)")
          .as("ff_per_path_bp"))
  }

  val motifsSql: String =
    """WITH edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM edges),
      |thr AS (SELECT w AS thr FROM rk WHERE rn = (75 * n + 99) // 100),
      |st AS (SELECT src, dst FROM edges, thr
      |  WHERE w >= thr AND src <> dst),
      |paths AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM st e1 JOIN st e2 ON e1.dst = e2.src
      |  WHERE e1.src <> e2.dst),
      |closed AS (
      |  SELECT p.*,
      |    CASE WHEN cy.src IS NOT NULL THEN 1 ELSE 0 END AS cyc,
      |    CASE WHEN ff.src IS NOT NULL THEN 1 ELSE 0 END AS ff
      |  FROM paths p
      |  LEFT JOIN st cy ON cy.src = p.c AND cy.dst = p.a
      |  LEFT JOIN st ff ON ff.src = p.a AND ff.dst = p.c)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_two_hop_paths,
      |  CAST(SUM(cyc) // 3 AS BIGINT) AS n_cycles,
      |  CAST(SUM(ff) AS BIGINT) AS n_feed_forward,
      |  CAST((10000 * SUM(ff)) // COUNT(*) AS BIGINT) AS ff_per_path_bp
      |FROM closed""".stripMargin

  /** q_graph_powerlaw entry: DEGREE DISTRIBUTION + Hill/Clauset
    * power-law exponent over the CUSTOMER interaction graph — the
    * heavy-tail diagnostic (Clauset, Shalizi & Newman, SIAM Rev 2009:
    * α̂ = 1 + n/Σ ln(dᵢ/(d_min − ½)) — the continuous-approximation
    * MLE with the standard half-shift for integer degrees). Whether a
    * graph is scale-free decides which algorithms survive it (hub caps
    * for [[adamicAdarQ]], skew salting for joins), so the exponent is
    * the first number a graph pipeline profiles. The 25-node nation
    * graph is too small to carry a tail, so degree here is the
    * per-customer ORDER count — a genuinely skewed integer
    * distribution at every SF (the estimator, not the network, is
    * the operator).
    *
    * Output: the degree histogram (degree, n_customers) with α̂ and
    * d_min repeated — the histogram IS the evidence for or against
    * the fitted tail.
    *
    * Exactness: degrees are exact integers; each ln term rounds to
    * 12 dp into a DECIMAL(38,12) merge; α̂ is one division. d_min is
    * pinned to the exact median degree (order statistic), the
    * standard "fit the tail, not the body" cut. */
  def powerlawQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val deg = t(s, dir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("d"))
    val wOrd = Window.partitionBy(lit(0)).orderBy($"d", $"o_custkey")
    val wAll = Window.partitionBy(lit(0))
    val dmin = deg
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("nn", count(lit(1)).over(wAll))
      .filter($"rn" === expr("(nn + 1) div 2"))
      .select($"d".as("dmin"))
    val tail = deg.crossJoin(broadcast(dmin)).filter($"d" >= $"dmin")
      .agg(count(lit(1)).as("n_tail"),
        sum(round(log($"d".cast("double") /
          ($"dmin".cast("double") - lit(0.5))), 12)
          .cast("decimal(38,12)")).as("slog"),
        max($"dmin").as("dmin"))
      .select($"dmin".cast("long").as("d_min"),
        $"n_tail".cast("long").as("n_tail"),
        round(lit(1.0) + $"n_tail".cast("double")
          / $"slog".cast("double"), 6).as("alpha"))
    deg.groupBy($"d").agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(tail))
      .select($"d".cast("long").as("degree"),
        $"n_customers".cast("long").as("n_customers"),
        $"d_min", $"n_tail", $"alpha")
      .orderBy($"degree")
  }

  val powerlawSql: String =
    """WITH deg AS (
      |  SELECT o_custkey, COUNT(*) AS d FROM orders GROUP BY 1),
      |dmin AS (
      |  SELECT d AS dmin FROM (
      |    SELECT d, row_number() OVER (ORDER BY d, o_custkey) AS rn,
      |      COUNT(*) OVER () AS nn
      |    FROM deg) WHERE rn = (nn + 1) // 2),
      |tail AS (
      |  SELECT CAST(MAX(dmin) AS BIGINT) AS d_min,
      |    CAST(COUNT(*) AS BIGINT) AS n_tail,
      |    ROUND(1.0 + CAST(COUNT(*) AS DOUBLE)
      |      / CAST(SUM(CAST(ROUND(LN(CAST(d AS DOUBLE)
      |          / (CAST(dmin AS DOUBLE) - 0.5)), 12)
      |        AS DECIMAL(38,12))) AS DOUBLE), 6) AS alpha
      |  FROM deg, dmin WHERE d >= dmin)
      |SELECT CAST(d AS BIGINT) AS degree,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(ANY_VALUE(t.d_min) AS BIGINT) AS d_min,
      |  CAST(ANY_VALUE(t.n_tail) AS BIGINT) AS n_tail,
      |  ANY_VALUE(t.alpha) AS alpha
      |FROM deg, tail t GROUP BY d ORDER BY degree""".stripMargin

  /** q_graph_mst entry: MAXIMUM SPANNING BACKBONE of the undirected
    * nation trade graph by the KSV MapReduce-MST shape (Karloff, Suri
    * & Vassilvitskii, SODA 2010, whose flagship example is exactly
    * MST): stage 1 runs a LOCAL maximum-spanning-forest Kruskal inside
    * every partition of the edge list — by the cycle property, an edge
    * rejected by any partition's local forest is the strictly-lightest
    * edge of a cycle it closes there, hence provably outside the
    * global MST, so survivors shrink to ≤ partitions·(nodes−1) while
    * never losing a tree edge — and stage 2 solves that bounded union
    * exactly in one task. Two `mapPartitions` passes, zero iterative
    * rounds. This replaced a 5-round distributed Borůvka whose
    * per-round label-propagation sync cost 54s (and a log-squaring
    * contraction variant, 227s) on a 25-node graph — the r10 bench
    * lesson: for a component graph bounded by nodes², round-free
    * filter-then-solve beats ANY convergence loop, because each Spark
    * round costs scheduler latency regardless of data volume. At
    * 100 TB the heavy pass is the checkpointed lineitem→edge
    * aggregation; stage 1 is embarrassingly parallel over arbitrary
    * edge volume with memory bounded per partition, and graphs whose
    * stage-2 survivor set still overflows one task take another
    * stage-1 round on a coarser partitioning (KSV proves O(1) rounds
    * suffice for m = n^(1+c)).
    *
    * Correctness cross-check: edge order (w DESC, a, b) is a STRICT
    * total order (pair keys are unique), so the maximum spanning tree
    * is UNIQUE and the oracle may compute it with a completely
    * different algorithm — sequential Kruskal, unrolled 24 steps of
    * (best cross-component edge, component relabel) — and must land on
    * the identical edge set; uniqueness also makes the result
    * independent of the stage-1 partitioning. Integer weights end to
    * end; no FP. */
  def mstQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = tradeEdges(s, dir)
      .filter($"src" =!= $"dst")
      .groupBy(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .agg(sum($"w").as("w"))
    // Local max-spanning-forest Kruskal over one partition's edges:
    // sort by the strict total order, keep an edge iff it joins two
    // distinct union-find components. O(m log m) time, O(nodes) state.
    def msf(it: Iterator[(String, String, Long)])
        : Iterator[(String, String, Long)] = {
      val edges = it.toArray
      java.util.Arrays.sort(edges, Ordering.by {
        e: (String, String, Long) => (-e._3, e._1, e._2) })
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.iterator.filter { case (a, b, _) =>
        val ra = find(a); val rb = find(b)
        ra != rb && { parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb; true }
      }
    }
    val typed = und.select($"a", $"b", $"w").as[(String, String, Long)]
    val mst = typed.mapPartitions(msf) // stage 1: per-partition MSF filter
      .coalesce(1).mapPartitions(msf)  // stage 2: bounded survivor union, exact
    mst.toDF("a", "b", "w").orderBy($"w".desc, $"a", $"b")
  }

  /** Oracle: sequential Kruskal over the same strict edge order,
    * unrolled — step k picks the globally best edge joining two
    * different components and relabels; empty steps no-op. */
  val mstSql: String = {
    def step(k: Int): String =
      s"""e$k AS MATERIALIZED (
         |  SELECT l1.comp AS ca, l2.comp AS cb, u.a, u.b, u.w
         |  FROM und u
         |  JOIN l$k l1 ON u.a = l1.node
         |  JOIN l$k l2 ON u.b = l2.node
         |  WHERE l1.comp <> l2.comp
         |  ORDER BY u.w DESC, u.a, u.b LIMIT 1),
         |l${k + 1} AS MATERIALIZED (
         |  SELECT l.node,
         |    CASE WHEN l.comp IN (SELECT ca FROM e$k UNION ALL
         |                         SELECT cb FROM e$k)
         |         THEN (SELECT LEAST(ca, cb) FROM e$k)
         |         ELSE l.comp END AS comp
         |  FROM l$k l)""".stripMargin
    val steps = (0 until 24).map(step).mkString(",\n")
    val unions = (0 until 24)
      .map(k => s"SELECT a, b, w FROM e$k").mkString("\nUNION ALL\n")
    s"""WITH und AS MATERIALIZED (
       |  SELECT LEAST(cn.n_name, sn.n_name) AS a,
       |    GREATEST(cn.n_name, sn.n_name) AS b,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  WHERE cn.n_name <> sn.n_name
       |  GROUP BY 1, 2),
       |l0 AS (SELECT a AS node, a AS comp FROM und
       |       UNION SELECT b, b FROM und),
       |$steps
       |$unions
       |ORDER BY w DESC, a, b""".stripMargin
  }

  /** q_graph_katz entry: truncated KATZ centrality (Katz 1953) over
    * the directed nation→nation trade graph — the walk-counting
    * centrality that credits a node for ALL inbound walks, not just
    * direct edges: κ = Σ_{t=1..T} α^t · (Aᵀ)^t · 1, here T=6 terms at
    * α=0.03 (safely below 1/λ_max for a ≤25-node graph, so the
    * truncation is within α^7/(1−α) of the infinite sum). PageRank
    * divides influence by out-degree; Katz doesn't — a hub passing
    * walks to everyone raises ALL its partners, which is why Katz is
    * the standard choice for "how reachable is this entity" in trade /
    * citation networks.
    *
    * Determinism contract (the [[pagerankQ]] pattern): per-edge
    * contributions α·(1+κ_t(u)) are rounded to 9 dp and merged as
    * DECIMAL(28,9), so every iterate is an exact multiple of 1e-9 —
    * bit-identical on both engines regardless of partitioning.
    *
    * Scale shape: per iteration one |edges|-row shuffle (the groupBy
    * dst) with the 25-row rank frame BROADCAST — identical cost to a
    * PageRank step; the unweighted edge set is the checkpointed
    * [[tradeEdges]] aggregate, built once. */
  def katzQ(s: SparkSession, dir: String, iterations: Int = 6): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir).select($"src", $"dst").distinct()
    val nodes = t(s, dir, "nation").select($"n_name".as("node"))
    var k = nodes.withColumn("kz", lit(0.0))
    for (_ <- 1 to iterations) {
      val contribs = edges
        .join(broadcast(k.withColumnRenamed("node", "src")), "src")
        .select($"dst",
          round(lit(0.03) * (lit(1.0) + $"kz"), 9)
            .cast("decimal(28,9)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("mass"))
      k = nodes.join(contribs, $"node" === $"dst", "left")
        .select($"node", coalesce($"mass", lit(0)).cast("double").as("kz"))
    }
    val indeg = edges.groupBy($"dst").agg(count(lit(1)).as("in_deg"))
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("out_deg"))
    k.join(broadcast(indeg), $"node" === $"dst", "left")
      .join(broadcast(outdeg), $"node" === $"src", "left")
      .select($"node".as("nation"), $"kz".cast("double").as("katz"),
        coalesce($"in_deg", lit(0L)).cast("long").as("in_deg"),
        coalesce($"out_deg", lit(0L)).cast("long").as("out_deg"))
      .orderBy($"katz".desc, $"nation")
  }

  val katzSql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.node, CAST(COALESCE(m.mass, 0) AS DOUBLE) AS kz
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst,
         |      SUM(CAST(ROUND(0.03 * (1.0 + p.kz), 9) AS DECIMAL(28,9)))
         |        AS mass
         |    FROM edges e JOIN $prev p ON p.node = e.src
         |    GROUP BY e.dst) m ON n.node = m.dst)""".stripMargin
    s"""WITH edges AS (
       |  SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
       |nodes AS (SELECT n_name AS node FROM nation),
       |k0 AS (SELECT node, 0.0::DOUBLE AS kz FROM nodes),
       |${iter("k0", "k1")},
       |${iter("k1", "k2")},
       |${iter("k2", "k3")},
       |${iter("k3", "k4")},
       |${iter("k4", "k5")},
       |${iter("k5", "k6")}
       |SELECT p.node AS nation, p.kz AS katz,
       |  CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg,
       |  CAST(COALESCE(od.out_deg, 0) AS BIGINT) AS out_deg
       |FROM k6 p
       |LEFT JOIN (SELECT dst, COUNT(*) AS in_deg FROM edges GROUP BY 1) i
       |  ON p.node = i.dst
       |LEFT JOIN (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1) od
       |  ON p.node = od.src
       |ORDER BY katz DESC, nation""".stripMargin
  }

  /** q_graph_lpa entry: SYNCHRONOUS WEIGHTED LABEL PROPAGATION
    * (Raghavan, Albert & Kumara 2007) over the undirected nation trade
    * graph — 3 rounds, each node adopting the label carrying the
    * largest summed incident edge weight among its neighbours, ties
    * broken by the lexicographically smallest label (the deterministic
    * variant: synchronous updates + total-order tiebreak make the
    * round a pure function of the edge list, so Spark and the oracle
    * agree exactly — the classic async/random-order LPA is
    * unreproducible by design and useless under a correctness gate).
    * Complements [[communitiesQ]] (connected components = the
    * density-blind partition): LPA splits a connected graph into
    * weight-coherent regions.
    *
    * Scale shape: the corpus cost is [[tradeEdges]] (paid once,
    * checkpointed); each round shuffles |edges| (label, weight)
    * contribution rows and argmaxes per node — the Pregel shape, 3
    * fixed supersteps. Self-loops are excluded (a node's own label
    * would otherwise dominate and freeze round 1). Determinism:
    * weights are exact integer counts, the argmax compares integer
    * sums with a string tiebreak. */
  def lpaQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val e0 = tradeEdges(s, dir).filter($"src" =!= $"dst")
    val und = e0.select($"src".as("a"), $"dst".as("b"), $"w")
      .unionByName(e0.select($"dst".as("a"), $"src".as("b"), $"w"))
      .groupBy($"a", $"b").agg(sum($"w").as("w"))
    var lab = t(s, dir, "nation")
      .select($"n_name".as("node"), $"n_name".as("label"))
    // r16: the per-node argmax by (s DESC, nl ASC) is min(struct(-s,
    // nl)) — one combinable aggregate instead of a row_number window
    // (no per-round sort, no Window exchange); the label frame is
    // |V|-bounded (nations) and broadcast-hinted so rounds never
    // re-exchange the edge frame.
    for (_ <- 1 to 3) {
      lab = und
        .join(broadcast(lab.select($"node".as("b"), $"label".as("nl"))), "b")
        .groupBy($"a", $"nl").agg(sum($"w").as("s"))
        .groupBy($"a")
        .agg(min(struct((-$"s").as("ns"), $"nl".as("nl"))).as("top"))
        .select($"a".as("node"), $"top.nl".as("label"))
    }
    lab = lab.checkpoint() // two downstream references re-embed the chain
    val sizes = lab.groupBy($"label").agg(count(lit(1)).as("community_size"))
    lab.join(sizes, "label")
      .select($"node", $"label", $"community_size".cast("long")
        .as("community_size"))
      .orderBy($"node")
  }

  val lpaSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT a AS node, nl AS label FROM (
         |    SELECT u.a, l.label AS nl, SUM(u.w) AS s,
         |      ROW_NUMBER() OVER (PARTITION BY u.a
         |        ORDER BY SUM(u.w) DESC, l.label) AS rn
         |    FROM und u JOIN $prev l ON l.node = u.b
         |    GROUP BY u.a, l.label)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH edges AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  WHERE cn.n_name <> sn.n_name
       |  GROUP BY 1, 2),
       |und AS (
       |  SELECT a, b, SUM(w) AS w FROM (
       |    SELECT src AS a, dst AS b, w FROM edges
       |    UNION ALL
       |    SELECT dst AS a, src AS b, w FROM edges)
       |  GROUP BY 1, 2),
       |l0 AS (SELECT n_name AS node, n_name AS label FROM nation),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |SELECT l.node, l.label,
       |  CAST(c.cs AS BIGINT) AS community_size
       |FROM l3 l
       |JOIN (SELECT label, COUNT(*) AS cs FROM l3 GROUP BY 1) c
       |  USING (label)
       |ORDER BY node""".stripMargin
  }

  /** q_graph_ppr entry: PERSONALIZED PAGERANK from a data-derived seed
    * (the nation with the largest outgoing trade mass, ties by name) —
    * prₜ₊₁(v) = 0.15·1{v=seed} + 0.85·Σ contribs, the restart
    * distribution concentrated on one node instead of uniform. PPR is
    * the similarity-to-a-vertex primitive under recommendation,
    * related-entity lookup, and local community detection (Andersen–
    * Chung–Lang); reported next to [[pagerankQ]] so the global and
    * personalized views of the same trade graph are comparable.
    *
    * Scale shape: identical to [[pagerankQ]] — per round, |edges|
    * contribution rows shuffle and the rank frame broadcasts; the seed
    * is a 1-row argmax frame (whitelisted broadcast). Determinism: the
    * [[pagerankQ]] contract (9-dp re-round each hop, DECIMAL(28,9)
    * mass merges); the seed argmax is decided on exact integer weight
    * with a name tiebreak. */
  def pprQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val outw = edges.groupBy($"src").agg(sum($"w").as("outw"))
    val seed = outw
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(0)).orderBy($"outw".desc, $"src")))
      .filter($"rk" === 1).select($"src".as("seed"))
    val nodes = t(s, dir, "nation").select($"n_name".as("node"))
      .crossJoin(broadcast(seed))
    var pr = nodes.withColumn("pr",
      when($"node" === $"seed", lit(1.0)).otherwise(lit(0.0)))
    for (_ <- 1 to iterations) {
      val contribs = edges
        .join(broadcast(outw), "src")
        .join(broadcast(pr.select($"node".as("src"), $"pr")), "src")
        .select($"dst",
          round($"pr" * $"w".cast("double") / $"outw".cast("double"), 9)
            .cast("decimal(28,9)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("mass"))
      pr = nodes
        .join(contribs, $"node" === $"dst", "left")
        .select($"node", $"seed",
          round(when($"node" === $"seed", lit(0.15)).otherwise(lit(0.0)) +
            lit(0.85) * coalesce($"mass", lit(0)).cast("double"), 9)
            .as("pr"))
    }
    pr.select($"node".as("nation"),
        $"pr".cast("double").as("ppr"),
        ($"node" === $"seed").cast("int").as("is_seed"))
      .orderBy($"ppr".desc, $"nation")
  }

  val pprSql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.node, n.seed,
         |    ROUND(CASE WHEN n.node = n.seed THEN 0.15 ELSE 0.0 END
         |      + 0.85 * CAST(COALESCE(m.mass, 0) AS DOUBLE), 9) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst,
         |      SUM(CAST(ROUND(p.pr * CAST(e.w AS DOUBLE)
         |        / CAST(o.outw AS DOUBLE), 9) AS DECIMAL(28,9))) AS mass
         |    FROM edges e JOIN outw o ON e.src = o.src
         |      JOIN $prev p ON p.node = e.src
         |    GROUP BY e.dst) m ON n.node = m.dst)""".stripMargin
    s"""WITH edges AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  GROUP BY 1, 2),
       |outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1),
       |seed AS (
       |  SELECT src AS seed FROM outw ORDER BY outw DESC, src LIMIT 1),
       |nodes AS (SELECT n_name AS node, seed FROM nation CROSS JOIN seed),
       |pr0 AS (
       |  SELECT node, seed,
       |    CASE WHEN node = seed THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS pr
       |  FROM nodes),
       |${iter("pr0", "pr1")},
       |${iter("pr1", "pr2")},
       |${iter("pr2", "pr3")}
       |SELECT node AS nation, CAST(pr AS DOUBLE) AS ppr,
       |  CAST(node = seed AS INT) AS is_seed
       |FROM pr3
       |ORDER BY ppr DESC, nation""".stripMargin
  }

  /** q_graph_richclub entry: RICH-CLUB COEFFICIENT φ(k) (Zhou &
    * Mondragón 2004) over the p75-strong UNDIRECTED trade graph — for
    * each degree threshold k, the edge density among the N_k nodes of
    * degree > k: φ(k) = 2E_k / (N_k(N_k−1)). Rising φ(k) means hubs
    * preferentially interconnect (a "rich club") — the structural
    * question behind supply-chain concentration and failure-cascade
    * risk that degree distributions alone cannot answer. The strong
    * graph ([[neighborSimQ]]'s exact p75 threshold) makes density
    * informative on an otherwise near-complete trade graph.
    *
    * Scale shape: everything after the shared [[tradeEdges]] build is
    * node-bounded — undirected edge list ≤ \|V\|², degree frame \|V\|
    * rows, and the k-grid join is \|V\|·k_max cells. Determinism: all
    * counts exact integers; φ in integer basis points. */
  def richClubQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // undirected simple edges: unordered strong pairs, self-loops out
    val und = strongEdges(tradeEdges(s, dir))
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
    val deg = und.select($"u".as("node")).unionAll(und.select($"v"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val ks = s.range(1, 13).select($"id".as("k"))
    val nk = ks.join(deg, $"deg" > $"k")
      .groupBy($"k").agg(count(lit(1)).as("n_k"))
    val ek = und
      .join(deg.select($"node".as("u"), $"deg".as("du")), "u")
      .join(deg.select($"node".as("v"), $"deg".as("dv")), "v")
      .crossJoin(broadcast(ks.select($"k".as("ke"))))
      .filter($"du" > $"ke" && $"dv" > $"ke")
      .groupBy($"ke".as("k")).agg(count(lit(1)).as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .withColumn("e_k", coalesce($"e_k", lit(0L)))
      .filter($"n_k" >= 2)
      .select($"k".cast("long").as("k"),
        $"n_k".cast("long").as("n_k"), $"e_k".cast("long").as("e_k"),
        expr("(10000 * 2 * e_k) div (n_k * (n_k - 1))").as("phi_bp"))
      .orderBy($"k")
  }

  val richClubSql: String =
    """WITH edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2),
      |thr AS (
      |  SELECT w AS thr FROM (
      |    SELECT w, ROW_NUMBER() OVER (ORDER BY w, src, dst) AS rn,
      |      COUNT(*) OVER () AS n
      |    FROM edges) WHERE rn = (75 * n + 99) // 100),
      |und AS (
      |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      |  FROM edges, thr WHERE w >= thr AND src <> dst),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      |  GROUP BY 1),
      |ks AS (SELECT unnest(range(1, 13)) AS k),
      |nk AS (
      |  SELECT k, COUNT(*) AS n_k FROM ks JOIN deg ON deg > k GROUP BY 1),
      |ek AS (
      |  SELECT ks.k, COUNT(*) AS e_k
      |  FROM und
      |  JOIN deg du ON du.node = und.u
      |  JOIN deg dv ON dv.node = und.v
      |  CROSS JOIN ks
      |  WHERE du.deg > ks.k AND dv.deg > ks.k
      |  GROUP BY 1)
      |SELECT CAST(nk.k AS BIGINT) AS k, CAST(n_k AS BIGINT) AS n_k,
      |  CAST(COALESCE(e_k, 0) AS BIGINT) AS e_k,
      |  CAST((10000 * 2 * COALESCE(e_k, 0)) // (n_k * (n_k - 1)) AS BIGINT)
      |    AS phi_bp
      |FROM nk LEFT JOIN ek ON ek.k = nk.k
      |WHERE n_k >= 2 ORDER BY nk.k""".stripMargin

  /** q_graph_conductance entry: CONDUCTANCE φ(C) = cut(C) /
    * min(vol(C), vol(G̅)) of each [[lpaQ]] community — the standard
    * community-QUALITY functional (low φ = a real cluster, cut edges
    * rare relative to internal volume; the objective local clustering
    * methods like ACL/PPR-sweeps optimize). LPA assigns labels;
    * conductance certifies whether the labels mean anything — the
    * audit a pipeline runs before trusting communities downstream.
    *
    * Scale shape: the label pass is [[lpaQ]]'s 3 Pregel rounds (the
    * corpus cost is the shared checkpointed edge build); conductance
    * itself is two node/edge-bounded joins (label onto each edge
    * endpoint) and a combinable per-label aggregate. Determinism:
    * weights and volumes are exact integers; φ in integer basis
    * points. */
  def conductanceQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the p75-strong sparsification ([[strongEdges]], over the
    // self-loop-free edges):
    // on the near-complete trade graph LPA collapses to ONE community
    // and every phi is degenerate; communities are only meaningful on
    // the strong backbone
    val strong = strongEdges(tradeEdges(s, dir).filter($"src" =!= $"dst"))
    val und = strong.select($"src".as("a"), $"dst".as("b"), $"w")
      .unionByName(strong.select($"dst".as("a"), $"src".as("b"), $"w"))
      .groupBy($"a", $"b").agg(sum($"w").as("w"))
    var lab = und.select($"a".as("node")).distinct()
      .select($"node", $"node".as("label"))
    // r16: the per-node argmax by (s DESC, nl ASC) is min(struct(-s,
    // nl)) — one combinable aggregate instead of a row_number window
    // (no per-round sort, no Window exchange); the label frame is
    // |V|-bounded (nations) and broadcast-hinted so rounds never
    // re-exchange the edge frame.
    for (_ <- 1 to 3) {
      lab = und
        .join(broadcast(lab.select($"node".as("b"), $"label".as("nl"))), "b")
        .groupBy($"a", $"nl").agg(sum($"w").as("s"))
        .groupBy($"a")
        .agg(min(struct((-$"s").as("ns"), $"nl".as("nl"))).as("top"))
        .select($"a".as("node"), $"top.nl".as("label"))
    }
    // checkpoint: lab is referenced three times downstream and each
    // reference re-embeds the 3-round chain (the communitiesQ finding)
    lab = lab.checkpoint()
    val tagged = und
      .join(broadcast(lab.select($"node".as("a"), $"label".as("la"))), "a")
      .join(broadcast(lab.select($"node".as("b"), $"label".as("lb"))), "b")
    val per = tagged.groupBy($"la".as("label"))
      .agg(sum($"w").as("vol"),
        sum(when($"la" =!= $"lb", $"w").otherwise(0L)).as("cut"))
    val tot = per.agg(sum($"vol").as("vol_g"))
    per.crossJoin(broadcast(tot))
      .join(lab.groupBy($"label").agg(count(lit(1)).as("n_members")),
        "label")
      .select($"label", $"n_members".cast("long").as("n_members"),
        $"vol".cast("long").as("vol"), $"cut".cast("long").as("cut"),
        expr("if(least(vol, vol_g - vol) = 0, null, " +
          "(10000 * cut) div least(vol, vol_g - vol))").cast("long")
          .as("phi_bp"))
      .orderBy($"label")
  }

  val conductanceSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT a AS node, nl AS label FROM (
         |    SELECT u.a, l.label AS nl, SUM(u.w) AS s,
         |      ROW_NUMBER() OVER (PARTITION BY u.a
         |        ORDER BY SUM(u.w) DESC, l.label) AS rn
         |    FROM und u JOIN $prev l ON l.node = u.b
         |    GROUP BY u.a, l.label)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH edges AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  WHERE cn.n_name <> sn.n_name
       |  GROUP BY 1, 2),
       |thr AS (
       |  SELECT w AS thr FROM (
       |    SELECT w, ROW_NUMBER() OVER (ORDER BY w, src, dst) AS rn,
       |      COUNT(*) OVER () AS n
       |    FROM edges) WHERE rn = (75 * n + 99) // 100),
       |strong AS (SELECT src, dst, w FROM edges, thr WHERE w >= thr),
       |und AS (
       |  SELECT a, b, SUM(w) AS w FROM (
       |    SELECT src AS a, dst AS b, w FROM strong
       |    UNION ALL SELECT dst AS a, src AS b, w FROM strong)
       |  GROUP BY 1, 2),
       |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")},
       |tagged AS (
       |  SELECT u.a, u.b, u.w, la.label AS la, lb.label AS lb
       |  FROM und u
       |  JOIN l3 la ON la.node = u.a
       |  JOIN l3 lb ON lb.node = u.b),
       |per AS (
       |  SELECT la AS label, SUM(w) AS vol,
       |    SUM(CASE WHEN la <> lb THEN w ELSE 0 END) AS cut
       |  FROM tagged GROUP BY 1),
       |tot AS (SELECT SUM(vol) AS vol_g FROM per),
       |szs AS (SELECT label, COUNT(*) AS n_members FROM l3 GROUP BY 1)
       |SELECT per.label, CAST(n_members AS BIGINT) AS n_members,
       |  CAST(vol AS BIGINT) AS vol, CAST(cut AS BIGINT) AS cut,
       |  CAST(CASE WHEN LEAST(vol, vol_g - vol) = 0 THEN NULL
       |    ELSE (10000 * cut) // LEAST(vol, vol_g - vol) END AS BIGINT)
       |    AS phi_bp
       |FROM per CROSS JOIN tot JOIN szs ON szs.label = per.label
       |ORDER BY per.label""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_conductance" -> conductanceQ,
    "q_graph_richclub" -> richClubQ,
    "q_graph_ppr" -> pprQ,
    "q_graph_lpa" -> lpaQ,
    "q_graph_katz" -> ((s, dir) => katzQ(s, dir)),
    "q_graph_mst" -> mstQ,
    "q_graph_closeness" -> closenessQ,
    "q_graph_betweenness" -> betweennessQ,
    "q_graph_assortativity" -> assortativityQ,
    "q_graph_modularity" -> modularityQ,
    "q_graph_communities" -> communitiesQ,
    "q_graph_kcore" -> kcoreQ,
    "q_graph_scc" -> sccQ,
    "q_graph_hits" -> hitsQ,
    "q_graph_pagerank" -> pagerankQ,
    "q_graph_triangles" -> trianglesQ,
    "q_graph_reciprocity" -> reciprocityQ,
    "q_graph_neighbor_sim" -> neighborSimQ,
    "q_graph_adamic_adar" -> adamicAdarQ,
    "q_graph_diameter" -> diameterQ,
    "q_graph_powerlaw" -> powerlawQ,
    "q_graph_motifs" -> motifsQ,
    "q_graph_bfs" -> bfsQ)

  def oracle: Map[String, String] = Map(
    "q_graph_lpa" -> lpaSql,
    "q_graph_katz" -> katzSql,
    "q_graph_mst" -> mstSql,
    "q_graph_closeness" -> closenessSql,
    "q_graph_betweenness" -> betweennessSql,
    "q_graph_assortativity" -> assortativitySql,
    "q_graph_modularity" -> modularitySql,
    "q_graph_communities" -> communitiesSql,
    "q_graph_kcore" -> kcoreSql,
    "q_graph_scc" -> sccSql,
    "q_graph_hits" -> hitsSql,
    "q_graph_conductance" -> conductanceSql,
    "q_graph_richclub" -> richClubSql,
    "q_graph_ppr" -> pprSql,
    "q_graph_pagerank" -> pagerankSql,
    "q_graph_triangles" -> trianglesSql,
    "q_graph_reciprocity" -> reciprocitySql,
    "q_graph_neighbor_sim" -> neighborSimSql,
    "q_graph_adamic_adar" -> adamicAdarSql,
    "q_graph_diameter" -> diameterSql,
    "q_graph_powerlaw" -> powerlawSql,
    "q_graph_motifs" -> motifsSql,
    "q_graph_bfs" -> bfsSql)
}
