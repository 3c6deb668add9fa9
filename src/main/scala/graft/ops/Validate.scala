package graft.ops

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality rule validation — the expectation-suite
  * gate a pipeline runs on every ingestion batch BEFORE data is
  * admitted downstream (range checks, domain membership, nullability,
  * temporal bounds). The report is per-rule violation accounting, not
  * pass/fail alone, so a 0.01%-violating batch is distinguishable from
  * a 40%-violating one.
  *
  * Shape: every rule is a boolean Column, so the whole suite compiles
  * into ONE whole-stage-codegen aggregate over ONE scan — adding a rule
  * adds a conditional sum, not a pass. `stack` pivots the 1-row result
  * into a row per rule. At 100 TB this is exactly one table read,
  * mergeable map-side like any sum. */
object Validate {

  /** One rule: name + the VIOLATION predicate (true = row fails). */
  final case class Rule(name: String, violated: Column)

  /** Per-rule accounting over `df`: (rule_name, n_checked, n_violations,
    * viol_frac). One scan regardless of rule count. */
  def report(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val aggs = count(lit(1)).as("graft_n") +:
      rules.map(r => sum(r.violated.cast("long")).as(s"graft_v_${r.name}"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val cells = rules.map(r =>
      s"'${r.name}', graft_n, graft_v_${r.name}").mkString(",\n")
    one.selectExpr(
      s"""stack(${rules.length},
         |$cells
         |) AS (rule_name, n_checked, n_violations)""".stripMargin)
      .selectExpr("rule_name", "n_checked", "n_violations",
        "round(CAST(n_violations AS DOUBLE) / n_checked, 6) AS viol_frac")
      .orderBy("rule_name")
  }

  /** q_validate_rules entry: a five-rule suite over lineitem — two
    * deliberately tight numeric ranges (real violations to count), a
    * domain check, a temporal lower bound, and a nullability check. */
  def rulesQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    report(t(s, dir, "lineitem"), Seq(
      Rule("quantity_in_1_45", !$"l_quantity".between(1, 45)),
      Rule("discount_le_8pct", !$"l_discount".between(0, 0.08)),
      Rule("returnflag_domain", !$"l_returnflag".isin("A", "N", "R")),
      Rule("shipdate_after_1992", $"l_shipdate" < to_timestamp(lit("1992-01-01"))),
      Rule("orderkey_not_null", $"l_orderkey".isNull)))
  }

  val rulesSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 45) THEN 1 ELSE 0 END) AS v_qty,
      |    SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.08) THEN 1 ELSE 0 END) AS v_disc,
      |    SUM(CASE WHEN NOT (l_returnflag IN ('A','N','R')) THEN 1 ELSE 0 END) AS v_flag,
      |    SUM(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01' THEN 1 ELSE 0 END) AS v_date,
      |    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_null
      |  FROM lineitem),
      |u AS (
      |  SELECT 'quantity_in_1_45' AS rule_name, n, CAST(v_qty AS BIGINT) AS n_violations FROM a
      |  UNION ALL SELECT 'discount_le_8pct', n, CAST(v_disc AS BIGINT) FROM a
      |  UNION ALL SELECT 'returnflag_domain', n, CAST(v_flag AS BIGINT) FROM a
      |  UNION ALL SELECT 'shipdate_after_1992', n, CAST(v_date AS BIGINT) FROM a
      |  UNION ALL SELECT 'orderkey_not_null', n, CAST(v_null AS BIGINT) FROM a)
      |SELECT rule_name, n AS n_checked, n_violations,
      |  ROUND(CAST(n_violations AS DOUBLE) / n, 6) AS viol_frac
      |FROM u ORDER BY rule_name""".stripMargin

  /** Functional-dependency audit for one candidate FD A → B: does each
    * A value map to exactly one B value? Returns (n_groups,
    * n_violating_groups, n_violating_rows): a violating group is an A
    * with >1 distinct B; its rows beyond the majority B are the
    * violating rows a repair pass would rewrite.
    *
    * Shape: one groupBy(A, B) collapse (combinable, value-bounded) →
    * one groupBy(A) over the collapsed frame. The corpus is touched
    * once; everything after runs on ≤|distinct (A,B)| rows. */
  def fdAudit(df: DataFrame, a: Column, b: Column): DataFrame = {
    val ab = df.groupBy(a.as("graft_a"), b.as("graft_b"))
      .agg(count(lit(1)).as("graft_n"))
    ab.groupBy(col("graft_a"))
      .agg(countDistinct(col("graft_b")).as("n_b"),
        sum(col("graft_n")).as("rows_a"),
        max(col("graft_n")).as("rows_majority"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n_b") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("n_b") > 1, col("rows_a") - col("rows_majority"))
          .otherwise(0L)).cast("long").as("n_violating_rows"))
  }

  /** q_validate_fd entry: audit three candidate FDs of the star schema
    * — two that must HOLD (`n_nationkey → n_regionkey` on nation,
    * `c_custkey → c_mktsegment` on customer: key-determined) and one
    * expected to FAIL (`l_partkey → l_suppkey` on lineitem: a part
    * ships from several suppliers) — the schema-inference /
    * denormalization-safety check a pipeline runs before assuming a
    * column is join-stable. One row per audited FD. */
  def fdQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def one(name: String, df: DataFrame, a: Column, b: Column): DataFrame =
      fdAudit(df, a, b).select(lit(name).as("fd"), $"n_groups",
        $"n_violating_groups", $"n_violating_rows")
    one("nation_to_region", t(s, dir, "nation"), $"n_nationkey", $"n_regionkey")
      .unionByName(one("cust_to_segment", t(s, dir, "customer"),
        $"c_custkey", $"c_mktsegment"))
      .unionByName(one("part_to_supp", t(s, dir, "lineitem"),
        $"l_partkey", $"l_suppkey"))
      .orderBy($"fd")
  }

  val fdSql: String = {
    def one(name: String, table: String, a: String, b: String): String =
      s"""SELECT '$name' AS fd, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(CASE WHEN n_b > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating_groups,
         |  CAST(SUM(CASE WHEN n_b > 1 THEN rows_a - rows_majority ELSE 0 END)
         |    AS BIGINT) AS n_violating_rows
         |FROM (
         |  SELECT $a, COUNT(DISTINCT $b) AS n_b, SUM(n) AS rows_a,
         |    MAX(n) AS rows_majority
         |  FROM (SELECT $a, $b, COUNT(*) AS n FROM $table GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    s"""SELECT * FROM (
       |${one("nation_to_region", "nation", "n_nationkey", "n_regionkey")}
       |UNION ALL
       |${one("cust_to_segment", "customer", "c_custkey", "c_mktsegment")}
       |UNION ALL
       |${one("part_to_supp", "lineitem", "l_partkey", "l_suppkey")})
       |ORDER BY fd""".stripMargin
  }

  /** q_validate_fk entry: referential-integrity audit of every
    * foreign-key edge in the star schema — per edge, child cardinality
    * and orphan count (child keys with no parent). The
    * join-coverage gate a pipeline runs before trusting any equi-join
    * downstream: a silently-orphaned 2% does not error, it just
    * vanishes from every inner join.
    *
    * Scale shape: each edge is one LEFT ANTI join counting survivors —
    * dimension sides broadcast (nation/customer/part/supplier at their
    * natural sizes), the two fact-fact edges shuffle on the key like
    * any join; counts are map-side-combinable. Child keys are
    * projected to the key column only before the join, so the audit
    * ships keys, never rows. */
  def fkQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val keys = child.select(col(ck))
      val orphans = keys.join(parent.select(col(pk)),
        col(ck) === col(pk), "left_anti")
      keys.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("edge"), $"n_child", $"n_orphans")
    }
    edge("lineitem_orders", t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey")
      .unionByName(edge("lineitem_part", t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "part"), "p_partkey"))
      .unionByName(edge("lineitem_supplier", t(s, dir, "lineitem"), "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey"))
      .unionByName(edge("orders_customer", t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .unionByName(edge("customer_nation", t(s, dir, "customer"), "c_nationkey",
        t(s, dir, "nation"), "n_nationkey"))
      .unionByName(edge("supplier_nation", t(s, dir, "supplier"), "s_nationkey",
        t(s, dir, "nation"), "n_nationkey"))
      .orderBy($"edge")
  }

  val fkSql: String = {
    def edge(name: String, child: String, ck: String,
        parent: String, pk: String): String =
      s"""SELECT '$name' AS edge,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child) AS n_child,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child
         |   WHERE $ck NOT IN (SELECT $pk FROM $parent)) AS n_orphans""".stripMargin
    s"""SELECT * FROM (
       |${edge("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${edge("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")}
       |UNION ALL
       |${edge("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey")}
       |UNION ALL
       |${edge("orders_customer", "orders", "o_custkey", "customer", "c_custkey")}
       |UNION ALL
       |${edge("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey")}
       |UNION ALL
       |${edge("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey")})
       |ORDER BY edge""".stripMargin
  }

  /** q_validate_islands entry: gaps-and-islands audit of the event-id
    * sequence per event type — for each type, how fragmented its slice
    * of the global id sequence is: id count, contiguous-run count,
    * longest run, and internal holes (ids between the slice's min and
    * max that belong to other types). The completeness check an
    * ingestion pipeline runs on any sequenced feed (Kafka offsets, CDC
    * LSNs, export file counters): n_runs == 1 and n_missing == 0 means
    * the feed arrived whole; anything else localizes the loss.
    *
    * Scale: the classic `id − row_number()` island key — one exchange
    * keyed on the type (each partition sorts its own slice), runs
    * collapse by (type, island) with map-side combine, and the final
    * per-type rollup is domain-bounded. Pure integer arithmetic. */
  def islandsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byT = Window.partitionBy($"event_type").orderBy($"event_id")
    val runs = t(s, dir, "events")
      .select($"event_type", $"event_id")
      .withColumn("isl", $"event_id" - row_number().over(byT))
      .groupBy($"event_type", $"isl")
      .agg(count(lit(1)).as("run_len"))
    runs
      .groupBy($"event_type")
      .agg(sum($"run_len").as("n_ids"),
        count(lit(1)).as("n_runs"),
        max($"run_len").as("max_run"))
      .join(
        t(s, dir, "events").groupBy($"event_type")
          .agg((max($"event_id") - min($"event_id") + 1).as("span")),
        Seq("event_type"))
      .select($"event_type", $"n_ids", $"n_runs", $"max_run",
        ($"span" - $"n_ids").as("n_missing_internal"))
      .orderBy($"event_type")
  }

  val islandsSql: String =
    """WITH i AS (
      |  SELECT event_type, event_id,
      |    event_id - row_number() OVER (PARTITION BY event_type
      |      ORDER BY event_id) AS isl
      |  FROM events),
      |runs AS (
      |  SELECT event_type, isl, COUNT(*) AS run_len
      |  FROM i GROUP BY 1, 2),
      |per AS (
      |  SELECT event_type, CAST(SUM(run_len) AS BIGINT) AS n_ids,
      |    COUNT(*) AS n_runs, MAX(run_len) AS max_run
      |  FROM runs GROUP BY 1),
      |span AS (
      |  SELECT event_type, MAX(event_id) - MIN(event_id) + 1 AS span
      |  FROM events GROUP BY 1)
      |SELECT p.event_type, p.n_ids, p.n_runs, p.max_run,
      |  s.span - p.n_ids AS n_missing_internal
      |FROM per p JOIN span s ON p.event_type = s.event_type
      |ORDER BY p.event_type""".stripMargin

  /** q_validate_freshness entry: ingestion FRESHNESS / completeness SLA
    * audit per feed — for every (event_type, calendar day) on the
    * densified January grid, today's arrival count is judged against
    * the trailing-7-day MEDIAN (robust to yesterday's spike in a way a
    * trailing mean isn't): `missing` if zero, `low` if under 50% of
    * the median, `ok` otherwise. This is the data-contract monitor a
    * pipeline runs before consuming any upstream feed — q_validate_
    * islands finds sequence gaps; this row finds VOLUME regressions.
    *
    * Scale shape: the corpus collapses once to (type, day) counts
    * (combinable, calendar-bounded); the median is an exact sort of
    * each 7-element window frame on that tiny grid. Determinism: all
    * counts and the 7-element median are exact integers; the one
    * ratio rounds from exact operands. */
  def freshnessQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("c"))
    val dense = TimeSeries.densify(t(s, dir, "events"),
      TimeSeries.calendarDates(s), daily, Seq("event_type", "day"))
      .select($"event_type", $"day", coalesce($"c", lit(0L)).as("c"))
    val w7 = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-7, -1)
    dense
      .withColumn("hist", collect_list($"c").over(w7))
      .filter(size($"hist") === 7)
      .withColumn("med", expr("sort_array(hist)[3]"))
      .withColumn("status",
        when($"c" === 0, "missing")
          .when($"c" * 2 < $"med", "low")
          .otherwise("ok"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days_checked"),
        sum(when($"status" === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(when($"status" === "low", 1L).otherwise(0L)).as("n_low"),
        sum(when($"status" === "missing", 1L).otherwise(0L)).as("n_missing"),
        min(when($"med" > 0,
          round($"c".cast("double") / $"med", 6))).as("worst_ratio"))
      .orderBy($"event_type")
  }

  val freshnessSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
      |    INTERVAL 1 DAY))::DATE AS day),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT ty.event_type, g.day, COALESCE(d.c, 0) AS c
      |  FROM grid g CROSS JOIN ty
      |  LEFT JOIN daily d ON d.event_type = ty.event_type AND d.day = g.day),
      |hist AS (
      |  SELECT event_type, day, c,
      |    list_sort(list(c) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS h
      |  FROM dense),
      |judged AS (
      |  SELECT event_type, c, h[4] AS med,
      |    CASE WHEN c = 0 THEN 'missing'
      |         WHEN c * 2 < h[4] THEN 'low'
      |         ELSE 'ok' END AS status
      |  FROM hist WHERE len(h) = 7)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days_checked,
      |  CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
      |  CAST(SUM(CASE WHEN status = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(SUM(CASE WHEN status = 'missing' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_missing,
      |  MIN(CASE WHEN med > 0
      |    THEN ROUND(CAST(c AS DOUBLE) / med, 6) END) AS worst_ratio
      |FROM judged GROUP BY event_type ORDER BY event_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_validate_freshness" -> freshnessQ,
    "q_validate_rules" -> rulesQ,
    "q_validate_fd" -> fdQ,
    "q_validate_fk" -> fkQ,
    "q_validate_islands" -> islandsQ)

  def oracle: Map[String, String] = Map(
    "q_validate_freshness" -> freshnessSql,
    "q_validate_rules" -> rulesSql,
    "q_validate_fd" -> fdSql,
    "q_validate_fk" -> fkSql,
    "q_validate_islands" -> islandsSql)
}
