package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class GraphSpec extends AnyFunSuite with SparkSpec {

  /** The collected p75-strong undirected trade graph as adjacency sets. */
  private def strongAdj(): Map[String, Set[String]] =
    Graph.strongUndirected(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** Driver BFS: the hop distance from `root` to every node it reaches. */
  private def driverBfs[T](adj: Map[T, Set[T]], root: T): Map[T, Long] = {
    val dist = scala.collection.mutable.Map(root -> 0L)
    var frontier = Set(root)
    var h = 0L
    while (frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty[T]))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = h)
    }
    dist.toMap
  }

  test("pagerank: mass sums to ~1, floor respected, ranks match a driver-side recompute") {
    import spark.implicits._
    val rows = Graph.pagerankQ(spark, sfDir).collect()
    assert(rows.length == 25)
    val ranks = rows.map(r => r.getAs[String]("nation") ->
      r.getAs[Double]("pagerank")).toMap
    // no dangling nodes in TPC-H trade → total mass conserved up to
    // 25 nodes × 9-dp rounding slack
    assert(math.abs(ranks.values.sum - 1.0) < 1e-5)
    ranks.values.foreach(p => assert(p >= 0.006 - 1e-12))

    // independent recompute: collect the tiny edge list, iterate the
    // same rounded-contribution recurrence in plain Scala
    val cn = graft.Tables.t(spark, sfDir, "customer")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("ck"), $"n_name".as("cn"))
    val sn = graft.Tables.t(spark, sfDir, "supplier")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("sk"), $"n_name".as("sn"))
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"ck").join(sn, $"l_suppkey" === $"sk")
      .groupBy($"cn", $"sn").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nodes = ranks.keySet
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    def r9(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    var pr = nodes.map(_ -> 0.04).toMap
    for (_ <- 1 to 3) {
      val mass = edges.groupBy(_._2).view.mapValues(es =>
        es.map(e => java.math.BigDecimal.valueOf(
            r9(pr(e._1) * e._3.toDouble / outw(e._1).toDouble))
          .setScale(9))
          .reduce(_.add(_)).doubleValue).toMap
      pr = nodes.map(n => n -> r9(0.006 + 0.85 * mass.getOrElse(n, 0.0)))
        .toMap
    }
    nodes.foreach(n => assert(math.abs(pr(n) - ranks(n)) < 1e-12,
      s"$n: recompute ${pr(n)} vs query ${ranks(n)}"))
  }

  test("conductance: strong-graph LPA labels + phi match an in-memory replay") {
    import spark.implicits._
    val rows = Graph.conductanceQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // rebuild directed edges + p75 threshold (the richclub replay)
    val cn = graft.Tables.t(spark, sfDir, "customer")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("ck"), $"n_name".as("cn"))
    val sn = graft.Tables.t(spark, sfDir, "supplier")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("sk"), $"n_name".as("sn"))
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"ck").join(sn, $"l_suppkey" === $"sk")
      .groupBy($"cn", $"sn").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .filter(e => e._1 != e._2)
    val sorted = edges.sortBy { case (a, b, w) => (w, a, b) }
    val thr = sorted((75 * edges.length + 99) / 100 - 1)._3
    val strong = edges.filter(_._3 >= thr)
    // undirected symmetrized multigraph with summed weights
    val und = (strong.map(e => ((e._1, e._2), e._3)) ++
      strong.map(e => ((e._2, e._1), e._3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val nodes = und.keySet.map(_._1)
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      val old = lab
      lab = nodes.toSeq.map { a =>
        val scores = und.toSeq.collect { case ((x, b), w) if x == a =>
          (old(b), w) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        a -> scores.sortBy { case (l, s0) => (-s0, l) }.head._1
      }.toMap
    }
    val labels = lab.values.toSet
    assert(rows.map(_.getAs[String]("label")).toSet == labels)
    rows.foreach { r =>
      val c = r.getAs[String]("label")
      val members = lab.filter(_._2 == c).keySet
      assert(r.getAs[Long]("n_members") == members.size)
      val vol = und.collect { case ((a, _), w) if lab(a) == c => w }.sum
      val cut = und.collect { case ((a, b), w)
        if lab(a) == c && lab(b) != c => w }.sum
      assert(r.getAs[Long]("vol") == vol)
      assert(r.getAs[Long]("cut") == cut)
      val volG = und.values.sum
      val den = math.min(vol, volG - vol)
      if (den > 0)
        assert(r.getAs[Long]("phi_bp") == 10000L * cut / den)
    }
  }

  test("richclub: phi matches an in-memory recount of the strong graph; monotone N_k") {
    val rows = Graph.richClubQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // strong undirected graph replay via the registered neighbor-sim path:
    // rebuild edges + p75 threshold in memory
    import spark.implicits._
    val cn = graft.Tables.t(spark, sfDir, "customer")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("ck"), $"n_name".as("cn"))
    val sn = graft.Tables.t(spark, sfDir, "supplier")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("sk"), $"n_name".as("sn"))
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"ck").join(sn, $"l_suppkey" === $"sk")
      .groupBy($"cn", $"sn").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sorted = edges.sortBy { case (s0, d0, w) => (w, s0, d0) }
    val thr = sorted((75 * edges.length + 99) / 100 - 1)._3
    val und = edges.filter(e => e._3 >= thr && e._1 != e._2)
      .map(e => if (e._1 < e._2) (e._1, e._2) else (e._2, e._1)).distinct
    val deg = und.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.length).toMap
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      val nk = deg.values.count(_ > k)
      val ek = und.count(e => deg(e._1) > k && deg(e._2) > k)
      assert(r.getAs[Long]("n_k") == nk, s"k=$k n_k")
      assert(r.getAs[Long]("e_k") == ek, s"k=$k e_k")
      assert(r.getAs[Long]("phi_bp") == 10000L * 2 * ek / (nk.toLong * (nk - 1)))
      assert(r.getAs[Long]("phi_bp") <= 10000L)
    }
    // N_k non-increasing in k
    val nks = rows.sortBy(_.getAs[Long]("k")).map(_.getAs[Long]("n_k"))
    assert(nks.zip(nks.tail).forall { case (a, b) => a >= b })
  }

  test("ppr: restart mass concentrates on the seed; ranks match a driver recompute") {
    import spark.implicits._
    val rows = Graph.pprQ(spark, sfDir).collect()
    assert(rows.length == 25)
    val ranks = rows.map(r => r.getAs[String]("nation") ->
      r.getAs[Double]("ppr")).toMap
    val seeds = rows.filter(_.getAs[Int]("is_seed") == 1)
    assert(seeds.length == 1)
    val seed = seeds.head.getAs[String]("nation")
    // same edge build as the pagerank spec
    val cn = graft.Tables.t(spark, sfDir, "customer")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("ck"), $"n_name".as("cn"))
    val sn = graft.Tables.t(spark, sfDir, "supplier")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("sk"), $"n_name".as("sn"))
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"ck").join(sn, $"l_suppkey" === $"sk")
      .groupBy($"cn", $"sn").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // seed = max outgoing mass, name tiebreak
    val expSeed = outw.toSeq.sortBy { case (n, w) => (-w, n) }.head._1
    assert(seed == expSeed)
    def r9(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val nodes = ranks.keySet
    var pr = nodes.map(n => n -> (if (n == seed) 1.0 else 0.0)).toMap
    for (_ <- 1 to 3) {
      val mass = edges.groupBy(_._2).view.mapValues(es =>
        es.map(e => java.math.BigDecimal.valueOf(
            r9(pr(e._1) * e._3.toDouble / outw(e._1).toDouble))
          .setScale(9))
          .reduce(_.add(_)).doubleValue).toMap
      pr = nodes.map(n => n -> r9((if (n == seed) 0.15 else 0.0) +
        0.85 * mass.getOrElse(n, 0.0))).toMap
    }
    nodes.foreach(n => assert(math.abs(pr(n) - ranks(n)) < 1e-12,
      s"$n: recompute ${pr(n)} vs query ${ranks(n)}"))
    // personalization: the seed keeps strictly more rank than the
    // uniform restart would give it
    assert(ranks(seed) >= 0.15 - 1e-12)
  }

  test("pagerank converged: fixpoint is reached and a further step is a no-op") {
    import spark.implicits._
    val fix = Graph.pagerankConverged(spark, sfDir)
    val ranks = fix.collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Double]("pr")).toMap
    assert(ranks.size == 25)
    // converged mass conserved (no dangling nodes) up to rounding slack
    assert(math.abs(ranks.values.sum - 1.0) < 1e-5)
    ranks.values.foreach(p => assert(p >= 0.006 - 1e-12))
    // fixpoint witness OUTSIDE the loop: apply ONE more step of the same
    // 9-dp-rounded recurrence driver-side from the converged ranks —
    // tol=0 convergence means the map must be stationary bit-for-bit
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(graft.Tables.t(spark, sfDir, "customer")
          .join(graft.Tables.t(spark, sfDir, "nation"), $"c_nationkey" === $"n_nationkey")
          .select($"c_custkey".as("ck"), $"n_name".as("cn")),
        $"o_custkey" === $"ck")
      .join(graft.Tables.t(spark, sfDir, "supplier")
          .join(graft.Tables.t(spark, sfDir, "nation"), $"s_nationkey" === $"n_nationkey")
          .select($"s_suppkey".as("sk"), $"n_name".as("sn")),
        $"l_suppkey" === $"sk")
      .groupBy($"cn", $"sn").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    def r9(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val mass = edges.groupBy(_._2).view.mapValues(es =>
      es.map(e => java.math.BigDecimal.valueOf(
          r9(ranks(e._1) * e._3.toDouble / outw(e._1).toDouble))
        .setScale(9))
        .reduce(_.add(_)).doubleValue).toMap
    val stepped = ranks.keySet.map(n =>
      n -> r9(0.006 + 0.85 * mass.getOrElse(n, 0.0))).toMap
    assert(stepped == ranks, "converged ranks are not a fixpoint of the recurrence")
    // the fixed 3-round unroll is an UNconverged prefix of the same
    // recurrence: same ordering of the top nation, nearby values
    val unrolled = Graph.pagerankQ(spark, sfDir).collect()
      .map(r => r.getAs[String]("nation") -> r.getAs[Double]("pagerank")).toMap
    assert(unrolled.maxBy(_._2)._1 == ranks.maxBy(_._2)._1)
    ranks.foreach { case (n, p) =>
      assert(math.abs(p - unrolled(n)) < 0.01, s"$n: $p vs 3-round ${unrolled(n)}")
    }
  }

  test("kcore: distributed peeling equals an in-memory peel of the same strong graph") {
    import spark.implicits._
    val k = 3
    val got = Graph.kcore(spark, sfDir, k).collect().map(_.getString(0)).toSet
    // rebuild the same p75-strong undirected edge list in memory
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(graft.Tables.t(spark, sfDir, "customer"),
        $"o_custkey" === $"c_custkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("cn"),
        $"c_nationkey" === $"cn.n_nationkey")
      .join(graft.Tables.t(spark, sfDir, "supplier"),
        $"l_suppkey" === $"s_suppkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("sn"),
        $"s_nationkey" === $"sn.n_nationkey")
      .groupBy($"cn.n_name".as("src"), $"sn.n_name".as("dst"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sorted = edges.sortBy(e => (e._3, e._1, e._2))
    val thr = sorted((75 * sorted.length + 99) / 100 - 1)._3
    var und = edges.filter(_._3 >= thr)
      .flatMap(e => Seq((e._1, e._2), (e._2, e._1))).distinct
    // naive peel to fixpoint
    var changed = true
    while (changed) {
      val deg = und.groupBy(_._1).view.mapValues(_.length).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter(e => keep(e._1) && keep(e._2))
      changed = next.length != und.length
      und = next
    }
    val expected = und.map(_._1).toSet
    assert(got == expected, s"kcore mismatch: got $got expected $expected")
    assert(got.nonEmpty, "p75-strong trade graph should retain a 3-core")
    // the oracle-registered query: same membership, induced degree >= k
    val q = Graph.kcoreQ(spark, sfDir).collect()
    assert(q.map(_.getString(0)).toSet == expected)
    val degIn = und.filter(e => expected(e._1) && expected(e._2))
      .groupBy(_._1).view.mapValues(_.length).toMap
    q.foreach { r =>
      val d = r.getAs[Long]("deg_in_core")
      assert(d >= k && d == degIn(r.getString(0)), s"${r.getString(0)} deg")
    }
  }

  test("bfs: hop distances match an in-memory BFS over the same strong graph") {
    val rows = Graph.bfsQ(spark, sfDir).collect()
    val got = rows.map(r => r.getString(0) -> r.getAs[Long]("hop")).toMap
    val root = rows.head.getAs[String]("root")
    assert(got.size == 25)
    assert(got(root) == 0L)
    // driver-side BFS over the SAME collected strong edge list
    val adj = strongAdj()
    // the anchor is the max-degree node, smallest name on ties
    val expectedRoot = adj.toSeq.map { case (n, ns) => (-ns.size, n) }
      .min._2
    assert(root == expectedRoot)
    val dist = driverBfs(adj, root)
    got.foreach { case (n, hop) =>
      assert(hop == dist.getOrElse(n, -1L), s"$n: $hop vs ${dist.get(n)}")
    }
    assert(got.values.count(_ > 0) > 0, "some node reached beyond the source")
  }

  test("assortativity: matches a JVM Pearson over the p75-strong edge endpoints") {
    import spark.implicits._
    val r = Graph.assortativityQ(spark, sfDir).collect().head
    // rebuild the weighted edge list and sparsify identically
    val cn = graft.Tables.t(spark, sfDir, "customer")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("ck"), $"n_name".as("cn"))
    val sn = graft.Tables.t(spark, sfDir, "supplier")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("sk"), $"n_name".as("sn"))
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"ck").join(sn, $"l_suppkey" === $"sk")
      .groupBy($"cn", $"sn").count()
      .collect().map(w => (w.getString(0), w.getString(1), w.getLong(2)))
    val sorted = edges.sortBy(e => (e._3, e._1, e._2))
    val thr = sorted((75 * sorted.length + 99) / 100 - 1)._3
    val strong = edges.filter(_._3 >= thr).map(e => (e._1, e._2))
    assert(r.getAs[Long]("n_edges") == strong.length.toLong)
    val dx = strong.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val dy = strong.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val xs = strong.map(e => dx(e._1)); val ys = strong.map(e => dy(e._2))
    val m = strong.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map(p => p._1 * p._2).sum
    val (sxx, syy) = (xs.map(x => x * x).sum, ys.map(y => y * y).sum)
    val expect = (m * sxy - sx * sy) /
      (math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy))
    val got = r.getAs[Double]("assortativity")
    assert(math.abs(got - expect) < 1e-5, s"$got vs $expect")
    assert(got >= -1.0 && got <= 1.0)
  }

  test("hits: L1-normalized scores match a driver-side recompute") {
    import spark.implicits._
    val rows = Graph.hitsQ(spark, sfDir).collect()
    assert(rows.length == 25)
    val auth = rows.map(r => r.getAs[String]("nation") ->
      r.getAs[Double]("authority")).toMap
    val hub = rows.map(r => r.getAs[String]("nation") ->
      r.getAs[Double]("hub")).toMap
    // L1 normalization: each score vector sums to 1 up to 25×9-dp slack
    assert(math.abs(auth.values.sum - 1.0) < 1e-6)
    assert(math.abs(hub.values.sum - 1.0) < 1e-6)
    auth.values.foreach(a => assert(a >= 0.0))
    hub.values.foreach(h => assert(h >= 0.0))

    // independent recompute with the identical rounding contract
    val cn = graft.Tables.t(spark, sfDir, "customer")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("ck"), $"n_name".as("cn"))
    val sn = graft.Tables.t(spark, sfDir, "supplier")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("sk"), $"n_name".as("sn"))
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"ck").join(sn, $"l_suppkey" === $"sk")
      .groupBy($"cn", $"sn").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nodes = auth.keySet
    def r9(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def half(prev: Map[String, Double], byDst: Boolean): Map[String, Double] = {
      val raw = edges.groupBy(e => if (byDst) e._2 else e._1).view
        .mapValues(es =>
          es.map(e => java.math.BigDecimal.valueOf(
              r9(prev(if (byDst) e._1 else e._2) * e._3.toDouble))
            .setScale(9))
            .reduce(_.add(_)).doubleValue).toMap
      val tot = raw.values.map(java.math.BigDecimal.valueOf(_).setScale(9))
        .reduce(_.add(_)).doubleValue
      nodes.map(n => n -> r9(raw.getOrElse(n, 0.0) / tot)).toMap
    }
    var h = nodes.map(_ -> 0.04).toMap
    var a = Map.empty[String, Double]
    for (_ <- 1 to 3) { a = half(h, byDst = true); h = half(a, byDst = false) }
    nodes.foreach { n =>
      assert(math.abs(a(n) - auth(n)) < 1e-12,
        s"$n auth: recompute ${a(n)} vs query ${auth(n)}")
      assert(math.abs(h(n) - hub(n)) < 1e-12,
        s"$n hub: recompute ${h(n)} vs query ${hub(n)}")
    }
  }

  test("entity resolution: every typo'd variant resolves to its clean record's entity") {
    val rows = graft.ops.Fuzzy.entityResolutionQ(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val nNames = graft.Tables.t(spark, sfDir, "part")
      .select("p_name").distinct().count().toInt
    assert(rows.size == 2 * nNames, s"$nNames clean + $nNames typo'd records")
    // ground truth (r15 md5-minted ids): rids 2h (clean) and 2h+1 (typo)
    // are the same entity — co-reference is exactly rid div 2 equality
    val twins = rows.keys.groupBy(_ / 2)
    assert(twins.size == nNames, "each clean/typo pair shares one h")
    twins.foreach { case (h, ids) =>
      assert(ids.size == 2, s"twin group $h incomplete")
      assert(rows(ids.head) == rows(ids.last),
        s"record pair $h split across entities")
    }
    // an entity id is always one of its member record ids (min-label)
    rows.values.foreach(e => assert(rows.contains(e) && rows(e) == e))
  }

  test("modularity: region partition Q matches a driver recompute; degree and weight identities hold") {
    import spark.implicits._
    val rows = Graph.modularityQ(spark, sfDir).collect()
    assert(rows.length == 5)
    val inW = rows.map(_.getAs[Long]("in_w"))
    val degW = rows.map(_.getAs[Long]("deg_w"))
    // identity: Σ deg_c = 2m and Σ in_c ≤ m
    val m = degW.sum / 2
    assert(degW.sum % 2 == 0 && inW.sum <= m)
    // driver recompute from the raw undirected edge list
    val regionOf = graft.Tables.t(spark, sfDir, "nation")
      .join(graft.Tables.t(spark, sfDir, "region"),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_name", $"r_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val want = r.getAs[Long]("in_w").toDouble / m -
        math.pow(r.getAs[Long]("deg_w").toDouble / (2.0 * m), 2)
      assert(math.abs(r.getAs[Double]("q_contrib") -
        BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6,
        s"${r.getString(0)}: q_contrib mismatch")
    }
    assert(regionOf.values.toSet.size == 5)
  }

  test("scc: repeated-squaring closure equals a driver DFS mutual-reachability recompute") {
    import spark.implicits._
    val rows = Graph.sccQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // rebuild the p75-strong DIRECTED edge list
    val edges = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(graft.Tables.t(spark, sfDir, "customer"),
        $"o_custkey" === $"c_custkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("cn"),
        $"c_nationkey" === $"cn.n_nationkey")
      .join(graft.Tables.t(spark, sfDir, "supplier"),
        $"l_suppkey" === $"s_suppkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("sn"),
        $"s_nationkey" === $"sn.n_nationkey")
      .filter($"cn.n_name" =!= $"sn.n_name")
      .groupBy($"cn.n_name".as("src"), $"sn.n_name".as("dst")).count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sorted = edges.sortBy(e => (e._3, e._1, e._2))
    val thr = sorted((75 * sorted.length + 99) / 100 - 1)._3
    val strong = edges.filter(_._3 >= thr).map(e => (e._1, e._2))
    val adj = strong.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = strong.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def reachFrom(u: String): Set[String] = {
      var seen = Set(u); var frontier = Set(u)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
        seen ++= frontier
      }
      seen
    }
    val reach = nodes.map(n => n -> reachFrom(n)).toMap
    val expected = nodes.map { u =>
      val scc = nodes.filter(v => reach(u)(v) && reach(v)(u))
      u -> (scc.min, scc.size.toLong)
    }.toMap
    assert(rows.length == nodes.length)
    rows.foreach { r =>
      val (id, sz) = expected(r.getAs[String]("node"))
      assert(r.getAs[String]("scc_id") == id, s"${r.getString(0)} id")
      assert(r.getAs[Long]("scc_size") == sz, s"${r.getString(0)} size")
      assert(r.getAs[Boolean]("is_trivial") == (sz == 1L))
    }
    // directed structure is non-trivial: at least one multi-node SCC
    // AND at least one singleton (the undirected version can't show this)
    assert(rows.exists(_.getAs[Long]("scc_size") > 1))
    assert(rows.exists(_.getAs[Long]("scc_size") == 1))
  }

  test("communities: 3-round weighted LPA matches a driver replay; partition identities hold") {
    import spark.implicits._
    val rows = Graph.communitiesQ(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // driver replay: rebuild the p90-strong graph and run 3 synchronous
    // weighted mode-label rounds with the (w DESC, lbl ASC) tie-break
    val raw = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(graft.Tables.t(spark, sfDir, "customer"),
        $"o_custkey" === $"c_custkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("cn"),
        $"c_nationkey" === $"cn.n_nationkey")
      .join(graft.Tables.t(spark, sfDir, "supplier"),
        $"l_suppkey" === $"s_suppkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("sn"),
        $"s_nationkey" === $"sn.n_nationkey")
      .filter($"cn.n_name" =!= $"sn.n_name")
      .groupBy($"cn.n_name".as("src"), $"sn.n_name".as("dst")).count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val und = raw.map { case (a, b, w) =>
      (Seq(a, b).min, Seq(a, b).max) -> w }
      .groupBy(_._1).map { case (k, g) => (k._1, k._2, g.map(_._2).sum) }.toSeq
    val sorted = und.sortBy { case (u, v, w) => (w, u, v) }
    val thr = sorted((90 * sorted.length + 99) / 100 - 1)._3
    val strong = und.filter(_._3 >= thr)
    val sym = strong.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    var lbl = sym.map(_._1).distinct.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      lbl = sym.groupBy(_._1).map { case (node, es) =>
        val byLbl = es.groupBy(e => lbl(e._2))
          .map { case (l, g) => l -> g.map(_._3).sum }
        node -> byLbl.toSeq.sortBy { case (l, w) => (-w, l) }.head._1
      }
    }
    val comms = lbl.groupBy(_._2).map { case (c, ms) => c -> ms.keys.toSet }
    assert(rows.map(_.getAs[String]("community")).toSet == comms.keySet)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") ==
        comms(r.getAs[String]("community")).size)
    }
    // partition identities over the strong graph
    val m = strong.map(_._3).sum
    assert(rows.map(_.getAs[Long]("deg_w")).sum == 2 * m)
    assert(rows.map(_.getAs[Long]("in_w")).sum <= m)
    rows.foreach { r =>
      val want = r.getAs[Long]("in_w").toDouble / m -
        math.pow(r.getAs[Long]("deg_w").toDouble / (2.0 * m), 2)
      assert(math.abs(r.getAs[Double]("q_contrib") -
        BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble) <= 1e-6)
    }
  }

  test("connected components (large-star/small-star): equal to min-label propagation on the real near-dup graph") {
    import spark.implicits._
    val pairs = graft.ops.Dedup.near(spark, sfDir)
      .select($"doc_a", $"doc_b")
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = labelsOf(Graph.connectedComponentsStar(pairs))
    // driver union-find over the collected pairs: each node's
    // component min, the map min-label propagation converges to
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.collect().foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val prop = parent.keys.toSeq.map(n => n -> find(n)).toMap
    assert(prop.nonEmpty && prop.exists { case (n, l) => n != l })
    assert(star == prop,
      "star CC must produce the identical (id → component-min) map")
  }

  test("connected components (large-star/small-star): chain of 200 converges in O(log n) rounds, labels exact") {
    import spark.implicits._
    // a 200-node path: diameter 199 — min-label propagation needs ~199
    // rounds; the star alternation must land in O(log n)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Graph.connectedComponentsStar(chain, maxIter = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 200 && labels.forall(_._2 == 0L),
      "every chain node must label to the component min")
    assert(Graph.lastRounds <= 10,
      s"star CC took ${Graph.lastRounds} rounds on a 200-chain — not sub-diameter")
    // two disjoint components stay disjoint
    val two = ((0L until 20L).map(i => (i, i + 1)) ++
      (100L until 120L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val l2 = Graph.connectedComponentsStar(two).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 20L).forall(n => l2(n) == 0L))
    assert((100L to 120L).forall(n => l2(n) == 100L))
  }

  test("survivorship: golden fields obey the rules and the clean variant always wins the name") {
    import spark.implicits._
    val rows = graft.ops.Fuzzy.survivorshipQ(spark, sfDir).collect()
    val recs = graft.ops.Fuzzy.entityResolutionQ(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("record_id"), r.getAs[String]("name"),
        r.getAs[Long]("entity_id")))
    val byEnt = recs.groupBy(_._3)
    assert(rows.length == byEnt.size)
    rows.foreach { r =>
      val e = r.getAs[Long]("entity_id")
      val members = byEnt(e)
      assert(r.getAs[Long]("n_records") == members.length)
      assert(r.getAs[Long]("n_names") == members.map(_._2).distinct.length)
      // name rule: longest wins — for merged clean+typo pairs that IS
      // the untruncated clean variant
      val golden = members.map(_._2).maxBy(n => (n.length, n))
      assert(r.getAs[String]("golden_name") == golden, s"entity $e name")
      assert(members.forall(_._2.length <= golden.length))
      // recency rule
      assert(r.getAs[Long]("last_day") == members.map(_._1 % 30).max)
      // most recent non-null phone
      val phones = members.filter(_._1 % 5 != 0)
        // mirror the query's overflow-safe digits: rid % 1e4 BEFORE ×7
        // (md5-minted 61-bit rids would wrap int64 under a direct ×7)
        .map(m => (m._1 % 30, -m._1, s"P${m._1 % 10000 * 7 % 10000}"))
      val expPhone = if (phones.isEmpty) null
        else phones.maxBy(p => (p._1, p._2))._3
      assert(r.getAs[String]("golden_phone") == expPhone, s"entity $e phone")
    }
    // every resolved clean+typo pair's golden name is the clean (even-rid) one
    byEnt.filter(_._2.length == 2).foreach { case (e, ms) =>
      val clean = ms.find(_._1 % 2 == 0)
      clean.foreach { c =>
        val row = rows.find(_.getAs[Long]("entity_id") == e).get
        assert(row.getAs[String]("golden_name") == c._2,
          s"entity $e should keep the clean name")
      }
    }
  }

  test("closeness: per-node closeness and harmonic match an all-sources driver BFS") {
    val rows = Graph.closenessQ(spark, sfDir).collect()
    assert(rows.length == 25)
    val adj = strongAdj()
    rows.foreach { r =>
      val root = r.getAs[String]("node")
      val dist = driverBfs(adj, root)
      assert(r.getAs[Long]("n_reach") == dist.size, s"$root reach")
      val sd = dist.values.filter(_ > 0).sum
      assert(r.getAs[Long]("sum_dist") == sd, s"$root sum_dist")
      val closeness = if (sd > 0) (dist.size - 1).toDouble / sd else 0.0
      assert(math.abs(r.getAs[Double]("closeness") - closeness) < 1e-5)
      val harm = dist.values.filter(_ > 0)
        .map(d => BigDecimal(1.0 / d).setScale(9, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      assert(math.abs(r.getAs[Double]("harmonic") - harm) < 1e-5, s"$root harmonic")
    }
    // on this connected trade graph the max-degree hub also wins closeness
    val best = rows.maxBy(_.getAs[Double]("closeness")).getAs[String]("node")
    val hub = adj.toSeq.map { case (n, ns) => (-ns.size, n) }.min._2
    assert(rows.exists(_.getAs[String]("node") == hub))
    assert(rows.find(_.getAs[String]("node") == best).get
      .getAs[Double]("closeness") >= rows.find(_.getAs[String]("node") == hub)
      .get.getAs[Double]("closeness"))
  }

  test("betweenness: sigma-product BC matches a driver all-pairs path count") {
    val rows = Graph.betweennessQ(spark, sfDir).collect()
    assert(rows.length == 25)
    val adj = strongAdj()
    val nodes = rows.map(_.getAs[String]("node")).toSeq
    // driver reference: per-source BFS with shortest-path counting
    def bfsCount(root: String): (Map[String, Long], Map[String, Long]) = {
      val dist = scala.collection.mutable.Map(root -> 0L)
      val sigma = scala.collection.mutable.Map(root -> 1L)
      var frontier = Seq(root)
      var h = 0L
      while (frontier.nonEmpty) {
        h += 1
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)
          .filter(w => !dist.contains(w) || dist(w) == h)
          .map(w => (w, sigma(n)))).groupBy(_._1)
        next.foreach { case (w, contribs) =>
          if (!dist.contains(w)) { dist(w) = h; sigma(w) = 0L }
          sigma(w) += contribs.map(_._2).sum
        }
        frontier = next.keys.filter(w => dist(w) == h).toSeq.distinct
      }
      (dist.toMap, sigma.toMap)
    }
    val per = nodes.map(n => n -> bfsCount(n)).toMap
    rows.foreach { r =>
      val v = r.getAs[String]("node")
      var pairs = 0L
      var acc = BigDecimal(0)
      for (s0 <- nodes; t0 <- nodes
           if s0 != v && t0 != v && s0 != t0
             && per(s0)._1.contains(v) && per(v)._1.contains(t0)
             && per(s0)._1.contains(t0)
             && per(s0)._1(v) + per(v)._1(t0) == per(s0)._1(t0)) {
        pairs += 1
        acc += BigDecimal(
          per(s0)._2(v).toDouble * per(v)._2(t0).toDouble
            / per(s0)._2(t0).toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      assert(r.getAs[Long]("n_pairs_through") == pairs, s"$v pairs")
      assert(math.abs(r.getAs[Double]("betweenness") - acc.toDouble / 2)
        < 1e-5, s"$v betweenness")
      assert(r.getAs[Double]("betweenness") >= 0.0)
    }
    // structure: some node carries positive betweenness on this graph
    assert(rows.exists(_.getAs[Double]("betweenness") > 0.0))
  }

  test("diameter: hop histogram and exact/90%-effective diameter match a driver BFS") {
    val rows = Graph.diameterQ(spark, sfDir).collect()
    val adj = strongAdj()
    val nodes = graft.Tables.t(spark, sfDir, "nation").select("n_name")
      .collect().map(_.getString(0))
    // ordered (root, node) pairs at each finite hop > 0
    val hist = nodes.toSeq.flatMap(driverBfs(adj, _).values.filter(_ > 0))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    assert(hist.nonEmpty, "the strong graph has at least one edge")
    val total = hist.map(_._2).sum
    val cum = hist.map(_._2).scanLeft(0L)(_ + _).tail
    val diameter = hist.last._1
    val eff = hist.zip(cum).collectFirst {
      case ((h, _), c) if 10 * c >= 9 * total => h }.get
    val expected = hist.zip(cum).map { case ((h, n), c) =>
      (h, n, c, diameter, eff) }
    val got = rows.toSeq.map(r => (r.getAs[Long]("hop"),
      r.getAs[Long]("n_pairs"), r.getAs[Long]("cum_pairs"),
      r.getAs[Long]("diameter"), r.getAs[Long]("eff_diameter_90")))
    assert(got == expected)
  }

  test("hops kernel: all-roots and one-root hops equal a driver BFS on random graphs") {
    import spark.implicits._
    for (seed <- Seq(3, 17, 99)) {
      val rnd = new scala.util.Random(seed)
      // three components drawn inside the blocks [0,10), [10,20),
      // [20,27); nodes 27..29 never get an edge, and a block node the
      // draw misses is isolated too
      val blocks = Seq(0 until 10, 10 until 20, 20 until 27)
      val edges = blocks.flatMap { b =>
        Seq.fill(10)((b(rnd.nextInt(b.size)).toLong,
          b(rnd.nextInt(b.size)).toLong))
      }.filter { case (a, b) => a != b }
      val und = (edges ++ edges.map(_.swap)).distinct
      val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val ids = 0L until 30L
      def expected(roots: Seq[Long]): Map[(Long, Long), Long] =
        roots.flatMap { r =>
          val d = driverBfs(adj, r)
          ids.map(i => (r, i) -> d.getOrElse(i, Graph.unreached))
        }.toMap
      val undDf = und.toDF("src", "dst")
      val nodes = ids.toDF("id")
      def run(roots: Seq[Long]): Map[(Long, Long), Long] = {
        val got = Graph.hops(undDf, nodes, roots.toDF("root"), s"spec $seed")
          .select("root", "id", "hop").collect()
        assert(got.length == roots.size * ids.size)
        got.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
      val all = expected(ids)
      assert(all.values.exists(_ == Graph.unreached) &&
        all.values.exists(h => h > 1 && h < Graph.unreached),
        s"seed $seed: the graph has both unreached pairs and multi-hop paths")
      assert(run(ids) == all, s"seed $seed, every root")
      val one = Seq(rnd.nextInt(27).toLong)
      assert(run(one) == expected(one), s"seed $seed, root ${one.head}")
    }
  }

  test("mst: KSV filter-then-solve equals a driver Kruskal; spans all trading nations") {
    import spark.implicits._
    val got = Graph.mstQ(spark, sfDir).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("w"))).toSet
    // driver recompute of the undirected weighted trade graph
    val e = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(graft.Tables.t(spark, sfDir, "customer"),
        $"o_custkey" === $"c_custkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("cn"),
        $"c_nationkey" === $"cn.n_nationkey")
      .join(graft.Tables.t(spark, sfDir, "supplier"),
        $"l_suppkey" === $"s_suppkey")
      .join(graft.Tables.t(spark, sfDir, "nation").as("sn"),
        $"s_nationkey" === $"sn.n_nationkey")
      .select($"cn.n_name".as("c"), $"sn.n_name".as("s")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(p => p._1 != p._2)
      .groupBy(p => (Seq(p._1, p._2).min, Seq(p._1, p._2).max))
      .map { case (k, v) => (k._1, k._2, v.length.toLong) }.toSeq
    val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct
    // driver Kruskal on (w desc, a, b) with union-find
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    val mst = scala.collection.mutable.Set.empty[(String, String, Long)]
    e.sortBy { case (a, b, w) => (-w, a, b) }.foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; mst += ((a, b, w)) }
    }
    assert(got == mst.toSet, "KSV MST must equal sequential Kruskal")
    assert(got.size == nodes.size - 1, "tree spans the trading nations")
    // spanning check: the edge set connects every node
    val p2 = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def f2(x: String): String =
      if (p2(x) == x) x else { val r = f2(p2(x)); p2(x) = r; r }
    got.foreach { case (a, b, _) => p2(f2(a)) = f2(b) }
    assert(nodes.map(f2).toSet.size == 1, "single connected component")
  }

  test("lpa: 3 synchronous rounds match a driver replay; sizes partition the nodes") {
    import spark.implicits._
    val rows = Graph.lpaQ(spark, sfDir).collect()
    assert(rows.length == 25)
    // independent replay: collect the tiny undirected edge list, run the
    // same synchronous max-weight/min-label update in plain Scala
    val cn = graft.Tables.t(spark, sfDir, "customer")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("ck"), $"n_name".as("cn"))
    val sn = graft.Tables.t(spark, sfDir, "supplier")
      .join(graft.Tables.t(spark, sfDir, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("sk"), $"n_name".as("sn"))
    val dir = graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"ck").join(sn, $"l_suppkey" === $"sk")
      .filter($"cn" =!= $"sn")
      .groupBy($"cn", $"sn").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val und = (dir.map(e => ((e._1, e._2), e._3)) ++
        dir.map(e => ((e._2, e._1), e._3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val nodes = graft.Tables.t(spark, sfDir, "nation")
      .select($"n_name").collect().map(_.getString(0)).toSeq
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lab = nodes.map { v =>
        // toSeq first: collecting (label, w) pairs straight out of the
        // Map would itself build a Map and silently drop same-label
        // contributions before the sum
        val byLabel = und.toSeq.collect {
          case ((a, b), w) if a == v => (lab(b), w)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        v -> byLabel.toSeq.minBy { case (l, s) => (-s, l) }._1
      }.toMap
    }
    val sizes = lab.values.groupBy(identity).view.mapValues(_.size).toMap
    rows.foreach { r =>
      val node = r.getAs[String]("node")
      assert(r.getAs[String]("label") == lab(node), s"$node label")
      assert(r.getAs[Long]("community_size") == sizes(lab(node)), s"$node size")
    }
    assert(rows.map(_.getAs[Long]("community_size")).sum ==
      sizes.values.map(s => s.toLong * s).sum, "sizes consistent per member")
  }
}
