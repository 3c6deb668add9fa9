package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Data-repair operators — the cleaning pass between ingestion and
  * training: impute missing numerics from group statistics, clip
  * outliers to robust bounds. The test tables carry no nulls or
  * injected junk, so each query plants a deterministic defect pattern
  * in-query (same construction in the oracle) and repairs it — the
  * repair logic, not the defect, is what's under test.
  *
  * Determinism: every statistic that feeds a repair comes from EXACT
  * arithmetic (decimal sums for means, the ordered-row definition for
  * percentiles) so both engines repair with bit-identical fill values.
  *
  * Scale shapes:
  *  - [[imputeQ]]: one map-side-combinable groupBy for the means +
  *    a broadcast stats join — two scan-speed passes, no sort.
  *  - [[winsorizeQ]]: per-group p05/p95 via ONE sort-within-group
  *    window pass (rank against count), then a broadcast bounds join;
  *    the clip itself is a pure map.
  */
object Repair {

  /** Null every 10th value (by event_id) and impute per-type means
    * computed over the SURVIVING values; report per-type imputation
    * accounting plus an order-independent checksum of the repaired
    * column so the oracle verifies every repaired row, not just the
    * counts.
    *
    * Every emitted number is a BIGINT in micro units (value × 10⁶):
    * source values are exact few-decimal doubles, so
    * `cast(value as decimal(18,6)) * 1e6 → long` is lossless, the fill
    * value is integer floor division of the scaled sum, and the
    * repaired-column checksum is an integer sum. No IEEE division or
    * `round`-on-double ever reaches the output (the CORRECTNESS r6–r8
    * driver-hash fragility class). At petabyte row counts the micro
    * sums would need DECIMAL(38,0) accumulators; the shape is unchanged. */
  def imputeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dam = t(s, dir, "events")
      .select($"event_id", $"event_type",
        when($"event_id" % 10 === 0, lit(null)).otherwise($"value")
          .as("v"))
      .withColumn("vm", ($"v".cast("decimal(18,6)") * 1000000).cast("long"))
    // fill_micro = floor(sum(vm) / count(vm)): pure integer arithmetic
    // over surviving (positive) values — bit-identical on both engines
    val stats = dam.groupBy($"event_type")
      .agg(expr("CAST(sum(vm) DIV count(vm) AS BIGINT)").as("fill_micro"))
    dam.join(broadcast(stats), "event_type")
      .select($"event_type", $"vm",
        coalesce($"vm", $"fill_micro").as("rm"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"vm".isNull.cast("long")).as("n_imputed"),
        (max($"rm") - min($"rm")).as("range_micro"),
        sum($"rm").cast("long").as("sum_micro"))
      .orderBy($"event_type")
  }

  val imputeSql: String =
    """WITH dam AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END
      |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
      |  FROM events),
      |st AS (
      |  SELECT event_type, CAST(sum(vm) // count(vm) AS BIGINT) AS fill_micro
      |  FROM dam GROUP BY event_type),
      |r AS (
      |  SELECT dam.event_type, vm,
      |    COALESCE(vm, fill_micro) AS rm
      |  FROM dam JOIN st USING (event_type))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN vm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
      |  CAST(max(rm) - min(rm) AS BIGINT) AS range_micro,
      |  CAST(sum(rm) AS BIGINT) AS sum_micro
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Winsorize per-type values at the exact p05/p95 ordered-row bounds
    * (rank r of n: p-quantile row = the value whose rank equals
    * ceil(p·n), ties broken by event_id — an exact, engine-neutral
    * definition, unlike interpolated quantiles whose FP differs).
    * Everything — ranks, bounds, the clip, the output checksum — runs
    * in micro-unit BIGINT space ([[imputeQ]]'s contract): the scaled
    * values order identically to the doubles, ceil(p·n) is the integer
    * identity ceil(k·n/20) = (k·n + 19) div 20, and the sums are
    * integer-exact on both engines. */
  def winsorizeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ev = t(s, dir, "events").select($"event_id", $"event_type",
      ($"value".cast("decimal(18,6)") * 1000000).cast("long").as("vm"))
    val w = Window.partitionBy($"event_type").orderBy($"vm", $"event_id")
    val ranked = ev
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
    val bounds = ranked
      .filter(expr("r = (n + 19) DIV 20 OR r = (19 * n + 19) DIV 20"))
      .groupBy($"event_type")
      .agg(min($"vm").as("lo"), max($"vm").as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .select($"event_type", $"vm",
        least(greatest($"vm", $"lo"), $"hi").as("cm"),
        ($"vm" < $"lo" || $"vm" > $"hi").cast("long").as("was_clipped"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"was_clipped").cast("long").as("n_clipped"),
        min($"cm").as("v_lo_micro"), max($"cm").as("v_hi_micro"),
        sum($"cm").cast("long").as("sum_micro"))
      .orderBy($"event_type")
  }

  val winsorizeSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
      |  FROM events),
      |ranked AS (
      |  SELECT event_type, event_id, vm,
      |    row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id) AS r,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev),
      |b AS (
      |  SELECT event_type, min(vm) AS lo, max(vm) AS hi
      |  FROM ranked
      |  WHERE r = (n + 19) // 20 OR r = (19 * n + 19) // 20
      |  GROUP BY event_type),
      |c AS (
      |  SELECT e.event_type, vm,
      |    least(greatest(vm, lo), hi) AS cm,
      |    CASE WHEN vm < lo OR vm > hi THEN 1 ELSE 0 END AS was_clipped
      |  FROM ev e JOIN b USING (event_type))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(was_clipped) AS BIGINT) AS n_clipped,
      |  CAST(min(cm) AS BIGINT) AS v_lo_micro,
      |  CAST(max(cm) AS BIGINT) AS v_hi_micro,
      |  CAST(sum(cm) AS BIGINT) AS sum_micro
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_repair_interpolate entry: time-aware LINEAR interpolation of
    * missing values per user series — the repair [[imputeQ]]'s group
    * mean cannot give when the signal has local structure: each
    * planted null (same every-10th-event defect pattern) is filled on
    * the line between its nearest non-null neighbors in the user's
    * (ts, event_id) order, weighted by actual timestamp distance;
    * series edges fall back to the one available neighbor
    * (ffill/bfill), tagged per row.
    *
    * Scale shape: one user-keyed exchange serves both
    * neighbor-window scans (ignore-null last/first over the same
    * sort); the fill is a pure map. Determinism: anchors are exact
    * (micros, micro-unit value) longs; the interpolation is ONE
    * shared IEEE expression on identical inputs, rounded to 6 dp, and
    * emitted as DOUBLE (never decimal-cast — the r6–r8 driver-hash
    * lesson). */
  def interpolateQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dam = t(s, dir, "events")
      .select($"user_id", $"event_id", $"ts",
        when($"event_id" % 10 === 0, lit(null)).otherwise($"value")
          .as("v"))
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val after = ord.rowsBetween(1, Window.unboundedFollowing)
    dam
      .withColumn("vp", last(when($"v".isNotNull, $"v"), ignoreNulls = true)
        .over(before))
      .withColumn("tp", last(when($"v".isNotNull, unix_micros($"ts")),
        ignoreNulls = true).over(before))
      .withColumn("vn", first(when($"v".isNotNull, $"v"), ignoreNulls = true)
        .over(after))
      .withColumn("tn", first(when($"v".isNotNull, unix_micros($"ts")),
        ignoreNulls = true).over(after))
      .filter($"v".isNull)
      .select($"event_id", $"user_id",
        when($"vp".isNotNull && $"vn".isNotNull, lit("interp"))
          .when($"vp".isNotNull, lit("ffill")).otherwise(lit("bfill"))
          .as("method"),
        round(
          when($"vp".isNotNull && $"vn".isNotNull,
            $"vp" + ($"vn" - $"vp") *
              ((unix_micros($"ts").cast("double") - $"tp") / ($"tn" - $"tp")))
            .otherwise(coalesce($"vp", $"vn")), 6).as("v_filled"))
      .orderBy($"event_id")
  }

  val interpolateSql: String =
    """WITH dam AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_id, ts, v,
      |    last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
      |      OVER bef AS vp,
      |    last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END
      |      IGNORE NULLS) OVER bef AS tp,
      |    first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
      |      OVER aft AS vn,
      |    first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END
      |      IGNORE NULLS) OVER aft AS tn
      |  FROM dam
      |  WINDOW bef AS (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    aft AS (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id,
      |  CASE WHEN vp IS NOT NULL AND vn IS NOT NULL THEN 'interp'
      |       WHEN vp IS NOT NULL THEN 'ffill' ELSE 'bfill' END AS method,
      |  ROUND(CASE WHEN vp IS NOT NULL AND vn IS NOT NULL THEN
      |      vp + (vn - vp) * ((CAST(epoch_us(ts) AS DOUBLE) - tp) / (tn - tp))
      |    ELSE COALESCE(vp, vn) END, 6) AS v_filled
      |FROM w WHERE v IS NULL ORDER BY event_id""".stripMargin

  /** q_repair_qnorm entry: cross-source QUANTILE NORMALIZATION table —
    * for every source and decile, the source's exact n_chars value at
    * that decile next to the POOLED corpus value at the same decile,
    * and the shift between them: the batch-effect correction map
    * (microarray quantile normalization, applied to corpus slices)
    * that re-expresses "source A's 70th-percentile document" in pooled
    * terms before any cross-source length threshold is applied.
    *
    * Selection is the exact order-statistic-by-PREFIX-COUNT idiom:
    * collapse to per-distinct-length counts first (combinable,
    * value-bounded), then the value at rank r = ⌈d·n/10⌉ is the one
    * whose exclusive prefix count is below r and inclusive count
    * reaches it — no raw-row rank frame ever exists. The pooled leg
    * runs through the distributed [[Rank.orderedPrefix]]; the
    * per-source leg windows the same collapsed frame keyed by
    * source. All outputs are exact integers. */
  def qnormQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = t(s, dir, "documents").select($"source", $"n_chars")
    def selCols = (1 to 9).map(d =>
      max(when($"cum" - $"c" < expr(s"($d * n + 9) div 10") &&
        $"cum" >= expr(s"($d * n + 9) div 10"), $"n_chars"))
        .as(s"p$d"))
    val stackExpr = "stack(9, " +
      (1 to 9).map(d => s"$d, p$d").mkString(", ") + ") as (decile, v)"
    val bySrc = docs.groupBy($"source", $"n_chars")
      .agg(count(lit(1)).as("c"))
    val wSrc = Window.partitionBy($"source")
    val srcRows = bySrc
      .withColumn("cum", sum($"c").over(wSrc.orderBy($"n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum($"c").over(wSrc))
      .groupBy($"source").agg(selCols.head, selCols.tail: _*)
      .select($"source", expr(stackExpr))
      .select($"source", $"decile", $"v".as("src_val"))
    val pooledRows = Rank.orderedPrefix(
      docs.groupBy($"n_chars").agg(count(lit(1)).as("c")),
      order = Seq($"n_chars"),
      cums = Seq(Rank.Cum($"c", "cum")),
      // one row per distinct char count: length-domain bounded at any
      // corpus size — the Rank bounds job measures that and sizes
      // its own buckets (r15)
      totals = Seq(($"c", "n")))
      .groupBy().agg(selCols.head, selCols.tail: _*)
      .select(expr(stackExpr))
      .select($"decile", $"v".as("pooled_val"))
    srcRows.join(broadcast(pooledRows), "decile")
      .select($"source", $"decile".cast("int").as("decile"),
        $"src_val".cast("long").as("src_val"),
        $"pooled_val".cast("long").as("pooled_val"),
        ($"pooled_val" - $"src_val").cast("long").as("shift"))
      .orderBy($"source", $"decile")
  }

  val qnormSql: String =
    """WITH rs AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents),
      |src AS (
      |  SELECT source, d,
      |    MAX(CASE WHEN rn = (d * n + 9) // 10 THEN n_chars END) AS src_val
      |  FROM rs, range(1, 10) t(d) GROUP BY source, d),
      |rg AS (
      |  SELECT n_chars,
      |    row_number() OVER (ORDER BY n_chars) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM documents),
      |pooledq AS (
      |  SELECT d,
      |    MAX(CASE WHEN rn = (d * n + 9) // 10 THEN n_chars END) AS pooled_val
      |  FROM rg, range(1, 10) t(d) GROUP BY d)
      |SELECT source, CAST(d AS INT) AS decile,
      |  CAST(src_val AS BIGINT) AS src_val,
      |  CAST(pooled_val AS BIGINT) AS pooled_val,
      |  CAST(pooled_val - src_val AS BIGINT) AS shift
      |FROM src JOIN pooledq USING (d)
      |ORDER BY source, decile""".stripMargin

  /** q_repair_hampel entry: HAMPEL FILTER over the dense 30-day event-
    * count series per type — the ROBUST de-spiker every telemetry
    * pipeline runs before modelling: a point is an outlier iff
    * |x − rolling_median₇| > 3·1.4826·rolling_MAD₇, and outliers are
    * replaced by the rolling median. Unlike mean/σ clipping
    * ([[winsorizeQ]] cousin), both center and spread are 50%-breakdown
    * robust, so the spike cannot mask itself. Per the file convention
    * the defect is planted in-query (counts ×10 on two pinned days,
    * same construction in the oracle) — the filter, not the defect, is
    * under test; both planted spikes must flag.
    *
    * Scale shape: one combinable daily collapse to the calendar-
    * bounded grid; the ±3-day rolling median and the deviation-from-
    * center MAD each come from a grid-sized neighbor equi-join on the
    * type key (Spark disallows `median` with an explicit window frame,
    * and MAD is inexpressible in one window anyway). Determinism:
    * counts are integers, medians are exact .5-unit interpolations,
    * MADs exact .25 units — the flag comparison is one shared IEEE
    * chain of exact values. */
  def hampelQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dense = TimeSeries.denseCounts(t(s, dir, "events"), "day")
      .select($"event_type", $"day".as("d"),
        ($"x" * when($"day" === lit("2024-01-10").cast("timestamp") ||
            $"day" === lit("2024-01-22").cast("timestamp"), 10L)
          .otherwise(1L)).as("x"))
    // Spark disallows aggregate `median` with an explicit window frame,
    // so the rolling median uses the same grid-sized neighbor equi-join
    // as the MAD pass (the oracle mirrors this join formulation).
    val nb = dense.select($"event_type", $"d".as("dn"), $"x".as("xn"))
    val centered = dense.join(nb, "event_type")
      .filter(abs(datediff($"dn", $"d")) <= 3)
      .groupBy($"event_type", $"d", $"x")
      .agg(median($"xn".cast("double")).as("med"))
    val mad = centered.join(nb, "event_type")
      .filter(abs(datediff($"dn", $"d")) <= 3)
      .groupBy($"event_type", $"d", $"x", $"med")
      .agg(median(abs($"xn".cast("double") - $"med")).as("mad"))
    mad
      .withColumn("flagged",
        (abs($"x".cast("double") - $"med") >
          lit(3.0) * 1.4826 * $"mad").cast("int"))
      .select($"event_type", $"d", $"x".cast("long").as("x"),
        round($"med", 6).as("med"), round($"mad", 6).as("mad"),
        $"flagged",
        round(when($"flagged" === 1, $"med")
          .otherwise($"x".cast("double")), 6).as("repaired"))
      .orderBy($"event_type", $"d")
  }

  val hampelSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
      |    TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS d),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.d,
      |    CASE WHEN grid.d IN (TIMESTAMP '2024-01-10', TIMESTAMP '2024-01-22')
      |      THEN COALESCE(daily.cnt, 0) * 10
      |      ELSE COALESCE(daily.cnt, 0) END AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN daily ON daily.d = grid.d
      |    AND daily.event_type = series.event_type),
      |centered AS (
      |  SELECT c.event_type, c.d, c.x,
      |    median(CAST(n.x AS DOUBLE)) AS med
      |  FROM dense c JOIN dense n ON n.event_type = c.event_type
      |  WHERE ABS(datediff('day', c.d, n.d)) <= 3
      |  GROUP BY c.event_type, c.d, c.x),
      |madt AS (
      |  SELECT c.event_type, c.d, c.x, c.med,
      |    median(ABS(CAST(n.x AS DOUBLE) - c.med)) AS mad
      |  FROM centered c JOIN dense n ON n.event_type = c.event_type
      |  WHERE ABS(datediff('day', c.d, n.d)) <= 3
      |  GROUP BY c.event_type, c.d, c.x, c.med),
      |fl AS (
      |  SELECT *, CAST(ABS(CAST(x AS DOUBLE) - med) > 3.0 * 1.4826 * mad
      |    AS INT) AS flagged
      |  FROM madt)
      |SELECT event_type, d, CAST(x AS BIGINT) AS x,
      |  ROUND(med, 6) AS med, ROUND(mad, 6) AS mad, flagged,
      |  ROUND(CASE WHEN flagged = 1 THEN med ELSE CAST(x AS DOUBLE) END, 6)
      |    AS repaired
      |FROM fl ORDER BY event_type, d""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_repair_impute" -> imputeQ,
    "q_repair_winsorize" -> winsorizeQ,
    "q_repair_interpolate" -> interpolateQ,
    "q_repair_hampel" -> hampelQ,
    "q_repair_qnorm" -> qnormQ)

  def oracle: Map[String, String] = Map(
    "q_repair_impute" -> imputeSql,
    "q_repair_winsorize" -> winsorizeSql,
    "q_repair_interpolate" -> interpolateSql,
    "q_repair_hampel" -> hampelSql,
    "q_repair_qnorm" -> qnormSql)
}
