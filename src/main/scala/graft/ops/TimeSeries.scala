package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Time-series resampling — irregular event streams onto a REGULAR
  * grid, the shape monitoring, feature windows, and forecasting inputs
  * all require: one row per (hour, series) whether or not data arrived,
  * with gaps forward-filled from the last observation.
  *
  * Scale shape: the grid is `explode(sequence(start, end, interval))` ×
  * a broadcast series dimension — generated, never stored, and sized
  * by the TIME RANGE (720 hours/month), not the data. The hourly
  * aggregate is map-side-combinable; the forward fill is one
  * `last(ignoreNulls)` window per series ordered by hour — state is a
  * single value per series, the exact streaming-friendly shape.
  * Determinism: hourly means divide an exact decimal sum by an exact
  * count (one shared IEEE division), and the fill copies prior
  * values bit-for-bit. */
object TimeSeries {

  /** The events calendar: one row per `step` ("hour": 720 rows, "day":
    * 30 rows) from 2024-01-01 00:00 UTC through 2024-01-30, as a
    * TIMESTAMP column named after the step. Every dense series in graft
    * is laid on this grid, so a step with no events reads as a 0 cell
    * instead of a missing row. */
  private[ops] def calendar(s: SparkSession, step: String): DataFrame =
    s.sql(
      s"""SELECT explode(sequence(timestamp'2024-01-01 00:00:00',
        |  timestamp'2024-01-30 23:00:00', interval 1 $step)) AS $step"""
        .stripMargin)

  /** The calendar's 30 days as a DATE column `day`. */
  private[ops] def calendarDates(s: SparkSession): DataFrame =
    s.sql(
      """SELECT explode(sequence(date'2024-01-01', date'2024-01-30',
        |  interval 1 day)) AS day""".stripMargin)

  /** `grid` × every event type of `events` (broadcast), left joined to
    * the per-(type, step) `cells` on `keys`: one row per cell of the
    * grid, `cells`' columns null where a cell saw no events. */
  private[ops] def densify(events: DataFrame, grid: DataFrame,
      cells: DataFrame, keys: Seq[String]): DataFrame =
    grid.crossJoin(broadcast(events.select(col("event_type")).distinct()))
      .join(cells, keys, "left")

  /** Dense (event_type × [[calendar]] step) count series: columns
    * `event_type`, the step column and `x`, the number of `rows` in the
    * cell (0 when none). `rows` is `events` or a filter of it; the
    * series are every type of `events`. */
  private[ops] def denseCounts(events: DataFrame, step: String,
      rows: DataFrame): DataFrame = {
    val cells = rows
      .groupBy(col("event_type"), date_trunc(step, col("ts")).as(step))
      .agg(count(lit(1)).as("cnt"))
    densify(events, calendar(events.sparkSession, step), cells,
      Seq(step, "event_type"))
      .select(col("event_type"), col(step), coalesce(col("cnt"), lit(0L)).as("x"))
  }

  private[ops] def denseCounts(events: DataFrame, step: String): DataFrame =
    denseCounts(events, step, events)

  def resampleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_obs"),
        (sum($"value".cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_v"))
    val w = Window.partitionBy($"event_type").orderBy($"hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    densify(t(s, dir, "events"), calendar(s, "hour"), hourly,
      Seq("hour", "event_type"))
      .select($"hour", $"event_type",
        coalesce($"n_obs", lit(0L)).as("n_obs"),
        $"mean_v".isNull.cast("int").as("gap"),
        round(last($"mean_v", ignoreNulls = true).over(w), 6).as("v_filled"))
      .filter($"event_type" <= "error") // bound the dump: 2 of 5 series
      .orderBy($"event_type", $"hour")
  }

  val resampleSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    CAST(count(*) AS BIGINT) AS n_obs,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_v
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |series AS (SELECT DISTINCT event_type FROM events),
      |g AS (
      |  SELECT grid.hour, series.event_type, hourly.n_obs, hourly.mean_v
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN hourly ON hourly.hour = grid.hour
      |    AND hourly.event_type = series.event_type)
      |SELECT hour, event_type,
      |  COALESCE(n_obs, 0) AS n_obs,
      |  CAST(mean_v IS NULL AS INT) AS gap,
      |  round(last_value(mean_v IGNORE NULLS) OVER (
      |    PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
      |FROM g WHERE event_type <= 'error' ORDER BY event_type, hour""".stripMargin

  /** EWMA smoothing of an irregular series — the monitoring /
    * feature-engineering primitive: per series, an exponentially
    * time-decayed weighted mean of the last 20 HOURS of observations
    * (weight 0.7^Δh, normalized). Decay runs on TIME distance, not row
    * lag, so a gap hour decays the signal exactly as a calendar hour
    * should — row-lag EWMA silently stretches its half-life across
    * gaps.
    *
    * Scale shape: the hourly pre-aggregate is map-side-combinable and
    * collapses the stream to |series| × |hours| rows; the decay pass is
    * a BANDED interval self-join on (series, hour-bucket distance ≤ 19)
    * — per-row fan-out is a constant 20, never the series length, and
    * the weighted sum is again a plain combinable aggregate. No window
    * over the full series, no per-row state: the same plan shape works
    * on a 10-year stream. Determinism: weights are pow(0.7, integer Δh)
    * — identical in both engines — over identical hourly means (exact
    * decimal sum / count), summed then rounded to 6 dp (the ~1e-15
    * summation-order jitter sits 9 orders below the rounding grain). */
  def ewmaQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg((sum($"value".cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("v"))
      .filter($"event_type" <= "error") // bound the dump: 2 of 5 series
    val h = hourly.withColumn("hb",
      (unix_timestamp($"hour") / 3600L).cast("long"))
    // banded: bucket width = band width (20h), so a row's lookback window
    // spans at most its own and the previous bucket — the join is an
    // EQUI-join on (series, bucket) with the range as residual, exactly
    // the q_join_interval shape; no series-wide key, no NLJ at scale
    val a = h.withColumn("bk",
      explode(array(floor($"hb" / 20), floor($"hb" / 20) - 1)))
    val b = h.withColumn("bk", floor($"hb" / 20))
    a.as("a").join(b.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.bk" === $"b.bk" &&
          $"b.hb".between($"a.hb" - 19, $"a.hb"))
      .groupBy($"a.event_type".as("event_type"), $"a.hour".as("hour"))
      .agg(round(
        sum($"b.v" * pow(lit(0.7), ($"a.hb" - $"b.hb").cast("double"))) /
          sum(pow(lit(0.7), ($"a.hb" - $"b.hb").cast("double"))), 6)
        .as("ewma"))
      .orderBy($"event_type", $"hour")
  }

  val ewmaSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS v
      |  FROM events GROUP BY 1, 2),
      |h AS (
      |  SELECT hour, event_type, v,
      |    CAST(epoch(hour) / 3600 AS BIGINT) AS hb
      |  FROM hourly WHERE event_type <= 'error')
      |SELECT a.event_type, a.hour,
      |  ROUND(SUM(b.v * pow(0.7, CAST(a.hb - b.hb AS DOUBLE)))
      |    / SUM(pow(0.7, CAST(a.hb - b.hb AS DOUBLE))), 6) AS ewma
      |FROM h a JOIN h b ON a.event_type = b.event_type
      |  AND b.hb BETWEEN a.hb - 19 AND a.hb
      |GROUP BY a.event_type, a.hour
      |ORDER BY a.event_type, a.hour""".stripMargin

  /** Seasonal anomaly detection: per (event_type, hour-of-day) baseline
    * over the month, flag (day, hour) cells whose event count sits ≥ 2
    * population-σ from their seasonal mean. The grid is DENSIFIED
    * first (on the 720-hour [[calendar]], via [[densify]]): a naive
    * groupBy never emits a zero row, so the most important anomaly — a
    * silent pipeline dropout — would be invisible to it AND would bias
    * every baseline upward.
    *
    * Scale shape: counts are one map-side-combinable groupBy; the grid
    * is generated (time-range-sized, never data-sized) against a
    * broadcast series dimension; baseline stats run as windows over
    * |types|·24 partitions of |days| rows each. Determinism: mean and
    * σ derive from exact integer Σn and Σn² (identical IEEE ops both
    * engines), so the z threshold compares identical doubles. */
  def seasonalQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"), hour($"ts").as("h"))
      .agg(count(lit(1)).as("n"))
    val grid = calendar(s, "hour")
      .select(to_date($"hour").as("d"), hour($"hour").as("h"))
    val dense = densify(t(s, dir, "events"), grid, counts,
      Seq("event_type", "d", "h"))
      .select($"event_type", $"d", $"h", coalesce($"n", lit(0L)).as("n"))
    val p = Window.partitionBy($"event_type", $"h")
    dense
      .withColumn("s1", sum($"n").over(p).cast("double"))
      .withColumn("s2", sum($"n" * $"n").over(p).cast("double"))
      .withColumn("m", count(lit(1)).over(p).cast("double"))
      .withColumn("mean", $"s1" / $"m")
      .withColumn("std", sqrt($"s2" / $"m" - ($"s1" / $"m") * ($"s1" / $"m")))
      .filter($"std" > 0 && abs(round(($"n" - $"mean") / $"std", 6)) >= 2.0)
      .select($"event_type", $"d", $"h", $"n".as("n_events"),
        round($"mean", 6).as("mean_n"),
        round(($"n" - $"mean") / $"std", 6).as("z"))
      .orderBy($"event_type", $"d", $"h")
  }

  val seasonalSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(EXTRACT(hour FROM ts) AS INT) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT CAST(hr AS DATE) AS d, CAST(EXTRACT(hour FROM hr) AS INT) AS h
      |  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hr)),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.d, grid.h, COALESCE(c.n, 0) AS n
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN c ON c.event_type = series.event_type
      |    AND c.d = grid.d AND c.h = grid.h),
      |w AS (
      |  SELECT event_type, d, h, n,
      |    CAST(SUM(n) OVER p AS DOUBLE) AS s1,
      |    CAST(SUM(n * n) OVER p AS DOUBLE) AS s2,
      |    CAST(COUNT(*) OVER p AS DOUBLE) AS m
      |  FROM dense WINDOW p AS (PARTITION BY event_type, h)),
      |z AS (
      |  SELECT event_type, d, h, n, s1 / m AS mean,
      |    sqrt(s2 / m - (s1 / m) * (s1 / m)) AS std
      |  FROM w)
      |SELECT event_type, d, h, CAST(n AS BIGINT) AS n_events,
      |  ROUND(mean, 6) AS mean_n, ROUND((n - mean) / std, 6) AS z
      |FROM z WHERE std > 0 AND ABS(ROUND((n - mean) / std, 6)) >= 2.0
      |ORDER BY event_type, d, h""".stripMargin

  /** Per-series daily-count trend: least-squares slope / intercept / R²
    * of events-per-day against the day index, over the densified
    * [[calendarDates]] grid — the "is this feed growing, shrinking, or
    * flat" monitor, with R² separating a real trend from noise.
    *
    * Scale shape: one map-side-combinable daily groupBy, grid-densified,
    * then a regression over |days| rows per series — the sums are again
    * a combinable aggregate, so the whole query is two tiny exchanges.
    * Determinism: x (day index) and y (count) are INTEGERS; all five
    * regression sums are exact integer arithmetic, and the closed-form
    * slope/intercept/R² run identical IEEE ops on both engines — no
    * rounding contract needed anywhere before the final display round. */
  def trendQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val dense = densify(t(s, dir, "events"), calendarDates(s), daily,
      Seq("event_type", "day"))
      .select($"event_type",
        (datediff($"day", lit("2024-01-01")) + 1).cast("long").as("x"),
        coalesce($"n", lit(0L)).as("y"))
    dense.groupBy($"event_type")
      .agg(count(lit(1)).cast("double").as("m"),
        sum($"x").cast("double").as("sx"), sum($"y").cast("double").as("sy"),
        sum($"x" * $"y").cast("double").as("sxy"),
        sum($"x" * $"x").cast("double").as("sxx"),
        sum($"y" * $"y").cast("double").as("syy"))
      .withColumn("slope_raw",
        ($"m" * $"sxy" - $"sx" * $"sy") / ($"m" * $"sxx" - $"sx" * $"sx"))
      .select($"event_type",
        round($"slope_raw", 6).as("slope"),
        round(($"sy" - $"slope_raw" * $"sx") / $"m", 6).as("intercept"),
        round((($"m" * $"sxy" - $"sx" * $"sy") * ($"m" * $"sxy" - $"sx" * $"sy"))
          / (($"m" * $"sxx" - $"sx" * $"sx") * ($"m" * $"syy" - $"sy" * $"sy")), 6)
          .as("r2"))
      .orderBy($"event_type")
  }

  val trendSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT CAST(gd AS DATE) AS d FROM (SELECT unnest(generate_series(
      |    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS gd)),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type,
      |    CAST(DATEDIFF('day', DATE '2024-01-01', grid.d) + 1 AS BIGINT) AS x,
      |    COALESCE(daily.n, 0) AS y
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN daily ON daily.event_type = series.event_type
      |    AND daily.d = grid.d),
      |a AS (
      |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS m,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx,
      |    CAST(SUM(y * y) AS DOUBLE) AS syy
      |  FROM dense GROUP BY event_type)
      |SELECT event_type,
      |  ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - ((m * sxy - sx * sy) / (m * sxx - sx * sx)) * sx) / m, 6)
      |    AS intercept,
      |  ROUND(((m * sxy - sx * sy) * (m * sxy - sx * sy))
      |    / ((m * sxx - sx * sx) * (m * syy - sy * sy)), 6) AS r2
      |FROM a ORDER BY event_type""".stripMargin

  /** q_ts_cusum entry: CUSUM changepoint scan per event-type series —
    * the cumulative deviation-from-mean curve whose extremum locates
    * the most likely level-shift hour (Page's CUSUM, the sequential
    * change detector an ingestion monitor runs on arrival rates).
    *
    * Exact-arithmetic formulation: with hourly counts xⱼ on the dense
    * 720-hour grid, CUSUMᵢ = Σ_{j≤i}(xⱼ − x̄) = cumᵢ − i·tot/nh; scaling
    * by nh gives devᵢ = nh·cumᵢ − i·tot — ALL INTEGERS, so the argmax
    * over |devᵢ| is decided on exact values (a double cumsum would let
    * 1-ulp drift flip the winning hour between engines). The peak row
    * is picked by a rank window ordered (|dev| desc, hour asc); only
    * the reported cusum_peak = dev/nh divides doubles, rounded 6 dp.
    *
    * Scale shape: grid-sized frames (720·|types| rows) after one
    * combinable groupBy of the corpus; cumsum + rank windows shard by
    * event_type. */
  def cusumQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dense = denseCounts(t(s, dir, "events"), "hour")
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    val wAll = Window.partitionBy($"event_type")
    val scored = dense
      .withColumn("i", row_number().over(w))
      .withColumn("cum", sum($"x").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum($"x").over(wAll))
      .withColumn("nh", count(lit(1)).over(wAll))
      .withColumn("dev", $"nh" * $"cum" - $"i" * $"tot")
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy(abs($"dev").desc, $"hour")))
      .filter($"rk" === 1)
      .select($"event_type", $"nh".cast("long").as("n_hours"),
        $"tot".cast("long").as("total"),
        round($"tot".cast("double") / $"nh", 6).as("mean_rate"),
        $"hour".as("peak_hour"),
        round($"dev".cast("double") / $"nh", 6).as("cusum_peak"))
      .orderBy($"event_type")
  }

  val cusumSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.hour, COALESCE(hourly.cnt, 0) AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN hourly ON hourly.hour = grid.hour
      |    AND hourly.event_type = series.event_type),
      |scored AS (
      |  SELECT event_type, hour,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour) AS i,
      |    SUM(x) OVER (PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(x) OVER (PARTITION BY event_type) AS tot,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nh
      |  FROM dense),
      |dev AS (
      |  SELECT event_type, hour, nh, tot, nh * cum - i * tot AS dev,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ABS(nh * cum - i * tot) DESC, hour) AS rk
      |  FROM scored)
      |SELECT event_type, CAST(nh AS BIGINT) AS n_hours,
      |  CAST(tot AS BIGINT) AS total,
      |  ROUND(CAST(tot AS DOUBLE) / nh, 6) AS mean_rate,
      |  hour AS peak_hour,
      |  ROUND(CAST(dev AS DOUBLE) / nh, 6) AS cusum_peak
      |FROM dev WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** q_ts_dow_profile entry: weekday × hour traffic heatmap — event
    * counts and share-of-total per (day-of-week, hour-of-day) cell,
    * the operational load profile behind capacity planning and the
    * weekly-seasonality baseline ([[seasonalQ]] models the daily
    * cycle; this exposes the weekly one for a human).
    *
    * Scale shape: one map-side-combinable groupBy over ≤ 168 keys;
    * the share divides by a broadcast 1-row total. Counts exact,
    * one IEEE division, 6-dp rounding. Day-of-week numbering is
    * pinned to ISO (1 = Monday) on both engines. */
  def dowProfileQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = t(s, dir, "events")
      .groupBy(dayofweek($"ts").as("dow_sun1"), hour($"ts").as("hour"))
      .agg(count(lit(1)).as("n"))
      // Spark dayofweek is 1=Sunday; re-pin to ISO 1=Monday
      .select((($"dow_sun1" + 5) % 7 + 1).as("iso_dow"), $"hour", $"n")
    val total = cells.agg(sum($"n").as("tot"))
    cells.crossJoin(broadcast(total))
      .select($"iso_dow", $"hour", $"n",
        round($"n".cast("double") / $"tot", 6).as("share"))
      .orderBy($"iso_dow", $"hour")
  }

  val dowProfileSql: String =
    """WITH c AS (
      |  SELECT isodow(ts) AS iso_dow, CAST(hour(ts) AS INT) AS hour,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT SUM(n) AS tot FROM c)
      |SELECT CAST(iso_dow AS INT) AS iso_dow, hour, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(n AS DOUBLE) / tot, 6) AS share
      |FROM c, t ORDER BY iso_dow, hour""".stripMargin

  /** q_ts_interarrival entry: per-user inter-event gap profile — event
    * count, gap count, and the min / median / mean / max gap in
    * MICROSECONDS. Interarrival structure is the load model behind
    * capacity planning and the bot-vs-human signal behind traffic
    * triage (metronomic medians = automation), and gaps in µs are pure
    * integers, so the whole profile is exact: mean is integer division,
    * median is percentile-disc row SELECTION (value at row
    * ceil(n/2) in gap order) — no FP anywhere.
    *
    * Scale: one shuffle keyed on user_id serves both windows (lag for
    * gaps, ranked selection over gaps); per-user state is the gap list,
    * bounded by that user's events, and the output is one row per user.
    * Ordering within ties pins (ts, event_id) so re-runs are stable. */
  def interarrivalQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val gaps = t(s, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"))
      .withColumn("gap_us", $"tus" - lag($"tus", 1).over(byUser))
    // rank gaps per user; the same exchange's data, second sort only.
    // NULLS LAST on both engines so the first event's null gap ranks
    // after every real gap and non-null ranks are 1..n unshifted.
    val byGap = Window.partitionBy($"user_id")
      .orderBy($"gap_us".asc_nulls_last, $"event_id")
    val cntW = Window.partitionBy($"user_id")
    gaps
      .withColumn("rk", when($"gap_us".isNotNull, row_number().over(byGap)))
      .withColumn("ng", count($"gap_us").over(cntW))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        count($"gap_us").as("n_gaps"),
        min($"gap_us").as("min_gap_us"),
        max(when($"rk" === expr("(ng + 1) div 2"), $"gap_us"))
          .as("median_gap_us"),
        expr("sum(gap_us) div count(gap_us)").as("mean_gap_us"),
        max($"gap_us").as("max_gap_us"))
      .filter($"n_gaps" > 0)
      .orderBy($"user_id")
  }

  val interarrivalSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |g AS (
      |  SELECT user_id, event_id, tus,
      |    tus - lag(tus) OVER (PARTITION BY user_id
      |      ORDER BY tus, event_id) AS gap_us
      |  FROM e),
      |r AS (
      |  SELECT user_id, gap_us,
      |    CASE WHEN gap_us IS NOT NULL THEN
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY gap_us NULLS LAST, event_id) END AS rk,
      |    COUNT(gap_us) OVER (PARTITION BY user_id) AS ng
      |  FROM g)
      |SELECT user_id, COUNT(*) AS n_events,
      |  COUNT(gap_us) AS n_gaps,
      |  MIN(gap_us) AS min_gap_us,
      |  MAX(CASE WHEN rk = (ng + 1) // 2 THEN gap_us END) AS median_gap_us,
      |  CAST(SUM(gap_us) AS BIGINT) // COUNT(gap_us) AS mean_gap_us,
      |  MAX(gap_us) AS max_gap_us
      |FROM r GROUP BY user_id HAVING COUNT(gap_us) > 0
      |ORDER BY user_id""".stripMargin

  /** q_ts_concurrency entry: peak concurrent user sessions per day —
    * the interval-stabbing / sweep-line primitive behind capacity
    * questions ("how many sessions were open at once?"). Each user's
    * activity span [first event, last event] becomes a +1/−1 delta
    * pair; the peak at any instant is the running sum of deltas in time
    * order (+1 before −1 at ties, so a session ending exactly when
    * another starts counts both).
    *
    * Distributed shape — the two-level prefix sum, NOT one global
    * window: deltas cumulate WITHIN their day partition (day-keyed
    * exchange), per-day totals cumulate across days in a second
    * window that is CALENDAR-bounded (≤ observation days — the
    * [[graft.ops.Skyline]] cross-partition correction applied to
    * time), and each day's peak is carry-in + its local running max.
    * All integers; ties are order-insensitive for the peak (prefix
    * sums over identical deltas are permutation-invariant).
    */
  def concurrencyQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val spans = t(s, dir, "events")
      .groupBy($"user_id")
      .agg(min(unix_micros($"ts")).as("t0"), max(unix_micros($"ts")).as("t1"))
    val deltas = spans.select($"t0".as("t"), lit(1L).as("d"))
      .unionByName(spans.select(($"t1" + 1).as("t"), lit(-1L).as("d")))
      .withColumn("day", expr("t div 86400000000"))
    val inDay = Window.partitionBy($"day").orderBy($"t", $"d".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = deltas.withColumn("run", sum($"d").over(inDay))
    val perDay = run.groupBy($"day")
      .agg(max($"run").as("local_peak"),
        sum($"d").as("day_total"),
        sum(when($"d" === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when($"d" === -1L, 1L).otherwise(0L)).as("n_ends"))
    val acrossDays = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("carry", coalesce(sum($"day_total").over(acrossDays), lit(0L)))
      // the day's peak can also be its carried-in level (a day whose
      // first delta is an end never exceeds the level it started at)
      .select($"day", $"n_starts", $"n_ends",
        greatest($"carry", $"carry" + $"local_peak").as("peak_concurrent"))
      .orderBy($"day")
  }

  val concurrencySql: String =
    """WITH spans AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
      |  FROM events GROUP BY user_id),
      |deltas AS (
      |  SELECT t0 AS t, CAST(1 AS BIGINT) AS d FROM spans
      |  UNION ALL
      |  SELECT t1 + 1, CAST(-1 AS BIGINT) FROM spans),
      |r AS (
      |  SELECT t // 86400000000 AS day, t, d,
      |    SUM(d) OVER (PARTITION BY t // 86400000000 ORDER BY t, d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM deltas),
      |per AS (
      |  SELECT day, CAST(MAX(run) AS BIGINT) AS local_peak,
      |    CAST(SUM(d) AS BIGINT) AS day_total,
      |    CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
      |    CAST(SUM(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
      |  FROM r GROUP BY day)
      |SELECT day, n_starts, n_ends,
      |  CAST(greatest(
      |    COALESCE(SUM(day_total) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
      |    COALESCE(SUM(day_total) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + local_peak) AS BIGINT) AS peak_concurrent
      |FROM per ORDER BY day""".stripMargin

  /** q_ts_decompose entry: STL-lite trend/seasonal/residual
    * decomposition of each event type's hourly series — trend from a
    * centered 25-hour moving average, hour-of-day seasonal means of
    * the detrended series, and the per-type SEASONAL STRENGTH
    * F = max(0, 1 − Var(resid)/Var(detrended)) (Wang–Hyndman–Smith
    * feature form): the one number that says whether the daily cycle
    * explains a series before anyone trusts [[seasonalQ]]'s per-hour
    * baseline for anomaly work.
    *
    * Scale shape: the corpus collapses to the densified (type, hour)
    * grid FIRST ([[seasonalQ]]'s bounded grid dim — rows = series ×
    * calendar hours, never events); the MA is a 25-row window per
    * type, the seasonal means a combinable groupBy over ≤ series·24
    * keys, the variances one aggregate with the 9-dp-rounded
    * DECIMAL(28,9) sum contract. Edge hours without a full 25-hour
    * window are excluded exactly (window row count = 25), identically
    * on both engines. */
  def decomposeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"), hour($"ts").as("h"))
      .agg(count(lit(1)).as("n"))
    val grid = calendar(s, "hour")
      .select(to_date($"hour").as("d"), hour($"hour").as("h"))
    val dense = densify(t(s, dir, "events"), grid, counts,
      Seq("event_type", "d", "h"))
      .select($"event_type", $"d", $"h", coalesce($"n", lit(0L)).as("n"))
    val ma = Window.partitionBy($"event_type").orderBy($"d", $"h")
      .rowsBetween(-12, 12)
    val detr = dense
      .withColumn("win_n", count(lit(1)).over(ma))
      .withColumn("trend", sum($"n").over(ma).cast("double") / lit(25.0))
      .filter($"win_n" === 25)
      .withColumn("detr", $"n".cast("double") - $"trend")
    val seas = detr.groupBy($"event_type", $"h")
      .agg(round(sum(round($"detr", 9).cast("decimal(28,9)")).cast("double") /
        count(lit(1)), 9).as("seas"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(28,9)")).cast("double")
    detr.join(seas, Seq("event_type", "h"))
      .withColumn("resid", $"detr" - $"seas")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("m"),
        dsum($"detr").as("sx"), dsum($"detr" * $"detr").as("sxx"),
        dsum($"resid").as("rx"), dsum($"resid" * $"resid").as("rxx"))
      .withColumn("var_d",
        $"sxx" / $"m" - ($"sx" / $"m") * ($"sx" / $"m"))
      .withColumn("var_r",
        $"rxx" / $"m" - ($"rx" / $"m") * ($"rx" / $"m"))
      .select($"event_type", $"m".cast("long").as("n_hours"),
        round($"var_d", 6).as("var_detrended"),
        round($"var_r", 6).as("var_resid"),
        round(greatest(lit(0d), lit(1d) - $"var_r" / $"var_d"), 6)
          .as("seasonal_strength"))
      .orderBy($"event_type")
  }

  val decomposeSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(EXTRACT(hour FROM ts) AS INT) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT CAST(hr AS DATE) AS d, CAST(EXTRACT(hour FROM hr) AS INT) AS h
      |  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hr)),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.d, grid.h, COALESCE(c.n, 0) AS n
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN c ON c.event_type = series.event_type
      |    AND c.d = grid.d AND c.h = grid.h),
      |w AS (
      |  SELECT event_type, d, h, n,
      |    COUNT(*) OVER ma AS win_n,
      |    CAST(SUM(n) OVER ma AS DOUBLE) / 25.0 AS trend
      |  FROM dense
      |  WINDOW ma AS (PARTITION BY event_type ORDER BY d, h
      |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |detr AS (
      |  SELECT event_type, d, h, CAST(n AS DOUBLE) - trend AS detr
      |  FROM w WHERE win_n = 25),
      |seas AS (
      |  SELECT event_type, h,
      |    ROUND(CAST(SUM(CAST(ROUND(detr, 9) AS DECIMAL(28,9))) AS DOUBLE)
      |      / COUNT(*), 9) AS seas
      |  FROM detr GROUP BY 1, 2),
      |r AS (
      |  SELECT detr.event_type, detr.detr, detr.detr - seas AS resid
      |  FROM detr JOIN seas ON detr.event_type = seas.event_type
      |    AND detr.h = seas.h),
      |a AS (
      |  SELECT event_type, COUNT(*) AS m,
      |    CAST(SUM(CAST(ROUND(detr, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(detr * detr, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(resid, 9) AS DECIMAL(28,9))) AS DOUBLE) AS rx,
      |    CAST(SUM(CAST(ROUND(resid * resid, 9) AS DECIMAL(28,9))) AS DOUBLE) AS rxx
      |  FROM r GROUP BY event_type),
      |v AS (
      |  SELECT event_type, m,
      |    sxx / m - (sx / m) * (sx / m) AS var_d,
      |    rxx / m - (rx / m) * (rx / m) AS var_r
      |  FROM a)
      |SELECT event_type, CAST(m AS BIGINT) AS n_hours,
      |  ROUND(var_d, 6) AS var_detrended,
      |  ROUND(var_r, 6) AS var_resid,
      |  ROUND(GREATEST(0.0, 1.0 - var_r / var_d), 6) AS seasonal_strength
      |FROM v ORDER BY event_type""".stripMargin

  /** q_ts_expfit entry: exponential interarrival fit + KS
    * goodness-of-fit per event type — λ̂ = 1/mean-gap (the MLE) and
    * the Kolmogorov–Smirnov distance between the empirical gap CDF
    * and Exp(λ̂): the "is this actually a Poisson process?"
    * answer behind every queueing/capacity model and anomaly baseline
    * that assumes memoryless arrivals (a large D = bursty or
    * scheduled traffic; the fit parameters feed the
    * [[graft.ops.Drift]] monitors as reference distributions).
    *
    * Scale shape: gaps come from one type-keyed lag window; the CDF
    * comparison collapses to per-DISTINCT-gap counts first (the
    * [[graft.ops.Stats.mannWhitneyQ]] value-collapse), one cumulative
    * window over the reduced frame, and D is a combinable MAX of
    * per-row 9-dp-rounded terms (max is order-independent, so no
    * decimal sum contract is needed). Exact integers to the final
    * IEEE formulas. */
  def expfitQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lagW = Window.partitionBy($"event_type").orderBy($"tu", $"event_id")
    val gaps = t(s, dir, "events")
      .select($"event_type", unix_micros($"ts").as("tu"), $"event_id")
      .withColumn("g", $"tu" - lag($"tu", 1).over(lagW))
      .filter($"g".isNotNull)
      .groupBy($"event_type", $"g").agg(count(lit(1)).as("c"))
    val tot = gaps.groupBy($"event_type")
      .agg(sum($"c").as("n"), sum($"g" * $"c").as("sg"))
    val cum = Window.partitionBy($"event_type").orderBy($"g")
      .rowsBetween(Window.unboundedPreceding, 0)
    gaps.join(broadcast(tot), "event_type")
      .withColumn("cumc", sum($"c").over(cum))
      .withColumn("lam", $"n".cast("double") / $"sg".cast("double"))
      .withColumn("fexp",
        lit(1.0) - exp(lit(-1.0) * $"lam" * $"g".cast("double")))
      .withColumn("term", round(greatest(
        abs($"cumc".cast("double") / $"n" - $"fexp"),
        abs(($"cumc" - $"c").cast("double") / $"n" - $"fexp")), 9))
      .groupBy($"event_type")
      .agg(max($"n").cast("long").as("n_gaps"),
        expr("max(sg div n)").cast("long").as("mean_gap_us"),
        round(max($"lam") * 3.6e9, 6).as("rate_per_hour"),
        round(max($"term"), 6).as("ks_d"))
      .orderBy($"event_type")
  }

  val expfitSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tu,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id) AS pu
      |  FROM events),
      |g AS (
      |  SELECT event_type, tu - pu AS g, COUNT(*) AS c
      |  FROM e WHERE pu IS NOT NULL GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, SUM(c) AS n, SUM(g * c) AS sg
      |  FROM g GROUP BY event_type),
      |k AS (
      |  SELECT g.event_type, g.g, g.c, t.n, t.sg,
      |    SUM(c) OVER (PARTITION BY g.event_type ORDER BY g.g
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
      |    CAST(n AS DOUBLE) / CAST(sg AS DOUBLE) AS lam
      |  FROM g JOIN t USING (event_type)),
      |d AS (
      |  SELECT event_type, n, sg, lam,
      |    ROUND(GREATEST(
      |      ABS(CAST(cumc AS DOUBLE) / n
      |        - (1.0 - exp(-1.0 * lam * CAST(g AS DOUBLE)))),
      |      ABS(CAST(cumc - c AS DOUBLE) / n
      |        - (1.0 - exp(-1.0 * lam * CAST(g AS DOUBLE))))), 9) AS term
      |  FROM k)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
      |  CAST(MAX(sg // n) AS BIGINT) AS mean_gap_us,
      |  ROUND(MAX(lam) * 3.6e9, 6) AS rate_per_hour,
      |  ROUND(MAX(term), 6) AS ks_d
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_ts_theilsen entry: THEIL–SEN robust trend per event type — the
    * median of all pairwise slopes between daily totals. OLS
    * ([[trendQ]]) moves arbitrarily far under one corrupted day;
    * Theil–Sen has a 29% breakdown point, which is why monitoring
    * pipelines prefer it for "is this metric drifting" over dirty
    * telemetry. Median = the LOWER median by exact row selection
    * (position ⌈n/2⌉ of the slope order) — deterministic on both
    * engines without an averaging convention.
    *
    * Scale shape: the corpus collapses to (type, day) daily totals
    * FIRST (one combinable groupBy); the pairwise self-join runs on
    * that calendar-bounded frame — days², not events², and the join is
    * type-keyed (equi), so it shuffles the tiny daily frame only. At
    * 100 TB the daily frame is still |types| × |days|. */
  def theilSenQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(sum($"value".cast("decimal(18,2)")).as("v"))
      .withColumn("day", datediff($"d", lit("2024-01-01").cast("date")))
    val a = daily.select($"event_type", $"day".as("di"), $"v".as("vi"))
    val b = daily.select($"event_type", $"day".as("dj"), $"v".as("vj"))
    val slopes = a.join(b, "event_type").filter($"di" < $"dj")
      .select($"event_type",
        (($"vj" - $"vi").cast("double") / ($"dj" - $"di").cast("double"))
          .as("slope"))
    val w = Window.partitionBy($"event_type").orderBy($"slope")
    val n = Window.partitionBy($"event_type")
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(n))
      .filter($"rn" === expr("(np + 1) div 2")) // lower median, 1-based
      .select($"event_type",
        $"np".cast("long").as("n_pairs"),
        round($"slope", 6).as("theil_sen_slope"))
      .orderBy($"event_type")
  }

  val theilSenSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS v
      |  FROM events GROUP BY 1, 2),
      |dd AS (
      |  SELECT event_type, date_diff('day', DATE '2024-01-01', d) AS day, v
      |  FROM daily),
      |slopes AS (
      |  SELECT a.event_type,
      |    CAST(b.v - a.v AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
      |  FROM dd a JOIN dd b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |rk AS (
      |  SELECT event_type, slope,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS np
      |  FROM slopes)
      |SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
      |  ROUND(slope, 6) AS theil_sen_slope
      |FROM rk WHERE rn = (np + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** q_ts_xcorr entry: CROSS-correlation between the hourly `click`
    * and `purchase` series at lags −3..+3 — the lead–lag detector that
    * answers "do purchases follow clicks, and by how many hours?": the
    * lag with max r is the funnel delay, and an asymmetric correlogram
    * (r(+L) ≫ r(−L)) is the causality-direction smoke test. At lag L,
    * x_t (clicks) pairs with y_{t+L} (purchases) over the densified
    * 720-hour January grid — densified because skipping empty hours
    * would silently misalign the lag (the same reason [[Stats.acfQ]]
    * densifies).
    *
    * Scale shape: one combinable (type, hour) collapse; the correlogram
    * runs on the calendar-bounded dense frame (720 rows × 7 lags).
    * Determinism: counts are exact integers — every Pearson sum (Σx,
    * Σy, Σxy, …) is integer arithmetic, and r is one IEEE tree at the
    * end. */
  def xcorrQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val hourly = t(s, dir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("xc"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("yc"))
    val dense = calendar(s, "hour").join(hourly, Seq("hour"), "left")
      .select($"hour", coalesce($"xc", lit(0L)).as("x"),
        coalesce($"yc", lit(0L)).as("y"))
    val w = Window.orderBy($"hour")
    def rAt(lagK: Int): DataFrame = dense
      .withColumn("ys", lag($"y", -lagK).over(w)) // y_{t+L}
      .filter($"ys".isNotNull)
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"ys").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"ys" * $"ys").as("syy"),
        sum($"x" * $"ys").as("sxy"))
      .select(lit(lagK.toLong).as("lag"), $"n",
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6).as("r"))
    (-3 to 3).map(rAt).reduce(_ unionByName _)
      .orderBy($"lag")
  }

  val xcorrSql: String = {
    def at(k: Int): String =
      s"""SELECT CAST($k AS BIGINT) AS lag, n,
         |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |    / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
         |      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
         |FROM (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
         |    SUM(ys) AS sy, SUM(x * x) AS sxx, SUM(ys * ys) AS syy,
         |    SUM(x * ys) AS sxy
         |  FROM (
         |    SELECT x, lag(y, ${-k}) OVER (ORDER BY hour) AS ys
         |    FROM dense) WHERE ys IS NOT NULL)""".stripMargin
    s"""WITH grid AS (
       |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
       |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
       |hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS xc,
       |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS yc
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY 1),
       |dense AS (
       |  SELECT g.hour, COALESCE(h.xc, 0) AS x, COALESCE(h.yc, 0) AS y
       |  FROM grid g LEFT JOIN hourly h ON h.hour = g.hour)
       |${(-3 to 3).map(at).mkString("\nUNION ALL\n")}
       |ORDER BY lag""".stripMargin
  }

  /** q_ts_holt entry: HOLT'S LINEAR TREND (double exponential
    * smoothing, α = 0.5, β = 0.3) over each event type's daily series —
    * the one-pass level+trend forecaster operations teams actually run
    * for capacity lines: unlike the suite's EWMA (level only) it
    * carries an explicit trend state, so the 1-step-ahead forecast
    * l_n + b_n extrapolates growth instead of lagging it.
    *
    * The recursion (l_t = αx_t + (1−α)(l_{t−1}+b_{t−1});
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}; init l₁ = x₁, b₁ = x₂−x₁)
    * is inherently sequential per series — on the Spark side it runs
    * as a codegen'd `aggregate` fold over the sorted calendar-bounded
    * daily array (30 elements; the corpus collapses to (type, day)
    * counts first), and the oracle mirrors it as a recursive CTE
    * stepping the SAME formula text. Determinism: both engines fold
    * the identical IEEE expression left-to-right over identical
    * integer inputs, so every intermediate double matches bit-for-bit
    * — the [[Stats.normP2]] shared-expression trick applied to a
    * recurrence. */
  def holtQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"d", $"c"))).as("arr"))
      .withColumn("xs", expr("transform(arr, e -> cast(e.c as double))"))
      .filter(size($"xs") >= 2)
      .withColumn("st", expr(
        """aggregate(slice(xs, 2, size(xs) - 1),
          |  named_struct('l', xs[0], 'b', xs[1] - xs[0]),
          |  (st, x) -> named_struct(
          |    'l', 0.5 * x + 0.5 * (st.l + st.b),
          |    'b', 0.3 * ((0.5 * x + 0.5 * (st.l + st.b)) - st.l)
          |         + 0.7 * st.b))""".stripMargin))
      .select($"event_type",
        size($"xs").cast("long").as("n_days"),
        round($"st.l", 6).as("level"),
        round($"st.b", 6).as("trend"),
        round($"st.l" + $"st.b", 6).as("forecast"))
      .orderBy($"event_type")
  }

  val holtSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, CAST(c AS DOUBLE) AS x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily),
      |rec(event_type, i, n, l, b) AS (
      |  SELECT i1.event_type, 2, i1.n, i1.x,
      |    (SELECT x FROM idx i2
      |     WHERE i2.event_type = i1.event_type AND i2.i = 2) - i1.x
      |  FROM idx i1 WHERE i1.i = 1 AND i1.n >= 2
      |  UNION ALL
      |  SELECT r.event_type, r.i + 1, r.n,
      |    0.5 * d.x + 0.5 * (r.l + r.b),
      |    0.3 * ((0.5 * d.x + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b
      |  FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
      |  WHERE r.i <= r.n)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
      |  ROUND(l + b, 6) AS forecast
      |FROM rec WHERE i = n + 1 ORDER BY event_type""".stripMargin

  /** q_ts_holt_winters entry: ADDITIVE HOLT–WINTERS (triple exponential
    * smoothing, period m = 7) over each event type's daily counts —
    * [[holtQ]] plus the seasonal component, i.e. the classical
    * forecaster for anything with a weekly rhythm. Standard two-season
    * initialization: l₀ = mean(week 1), b₀ = (mean(week 2) −
    * mean(week 1))/7, s_i = x_i − l₀; updates (α=.5, β=.3, γ=.2) run
    * from day 15:
    * l_t = α(x_t − s_{t−7}) + (1−α)(l_{t−1} + b_{t−1}),
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1},
    * s_t = γ(x_t − l_t) + (1−γ)s_{t−7}.
    *
    * Determinism is the [[holtQ]] contract: the recurrence runs as ONE
    * sequential fold per series (Spark `aggregate` vs DuckDB recursive
    * CTE) with every compound expression expanded identically, so both
    * engines execute the same IEEE sequence; the rotating 7-slot
    * seasonal state is an in-fold array. Scale shape: one combinable
    * daily rollup, then one bounded per-series fold; series parallelize
    * across keys. */
  def holtWintersQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"d", $"c"))).as("arr"))
      .withColumn("xs", expr("transform(arr, e -> cast(e.c as double))"))
      .filter(size($"xs") >= 15)
      .withColumn("l0", expr(
        "(xs[0]+xs[1]+xs[2]+xs[3]+xs[4]+xs[5]+xs[6])/7"))
      .withColumn("b0", expr(
        "((xs[7]+xs[8]+xs[9]+xs[10]+xs[11]+xs[12]+xs[13])/7 - l0)/7"))
      .withColumn("seas0", expr("transform(slice(xs, 1, 7), v -> v - l0)"))
      .withColumn("st", expr(
        """aggregate(slice(xs, 15, size(xs) - 14),
          |  named_struct('l', l0, 'b', b0, 'seas', seas0),
          |  (st, x) -> named_struct(
          |    'l', 0.5 * (x - st.seas[0]) + 0.5 * (st.l + st.b),
          |    'b', 0.3 * ((0.5 * (x - st.seas[0]) + 0.5 * (st.l + st.b))
          |           - st.l) + 0.7 * st.b,
          |    'seas', concat(slice(st.seas, 2, 6), array(
          |      0.2 * (x - (0.5 * (x - st.seas[0]) + 0.5 * (st.l + st.b)))
          |        + 0.8 * st.seas[0]))))""".stripMargin))
      .select($"event_type",
        size($"xs").cast("long").as("n_days"),
        round($"st.l", 6).as("level"),
        round($"st.b", 6).as("trend"),
        round(expr("st.seas[0]"), 6).as("season_next"),
        round(expr("st.l + st.b + st.seas[0]"), 6).as("forecast"),
        round(expr("array_max(st.seas) - array_min(st.seas)"), 6)
          .as("seasonal_amplitude"))
      .orderBy($"event_type")
  }

  val holtWintersSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |arr AS (
      |  SELECT event_type,
      |    list_transform(list(c ORDER BY d), v -> CAST(v AS DOUBLE)) AS a
      |  FROM daily GROUP BY 1),
      |init0 AS (
      |  SELECT event_type, CAST(len(a) AS BIGINT) AS n, a,
      |    (a[1]+a[2]+a[3]+a[4]+a[5]+a[6]+a[7])/7 AS l0
      |  FROM arr WHERE len(a) >= 15),
      |init AS (
      |  SELECT event_type, n, a, l0,
      |    ((a[8]+a[9]+a[10]+a[11]+a[12]+a[13]+a[14])/7 - l0)/7 AS b0,
      |    list_transform(a[1:7], v -> v - l0) AS seas0
      |  FROM init0),
      |idx AS (
      |  SELECT event_type, unnest(a) AS x,
      |    unnest(range(1, len(a) + 1)) AS i
      |  FROM init),
      |rec(event_type, i, n, l, b, seas) AS (
      |  SELECT event_type, 15, n, l0, b0, seas0 FROM init
      |  UNION ALL
      |  SELECT r.event_type, r.i + 1, r.n,
      |    0.5 * (d.x - r.seas[1]) + 0.5 * (r.l + r.b),
      |    0.3 * ((0.5 * (d.x - r.seas[1]) + 0.5 * (r.l + r.b)) - r.l)
      |      + 0.7 * r.b,
      |    r.seas[2:7] || [0.2 * (d.x - (0.5 * (d.x - r.seas[1])
      |      + 0.5 * (r.l + r.b))) + 0.8 * r.seas[1]]
      |  FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
      |  WHERE r.i <= r.n)
      |SELECT event_type, n AS n_days,
      |  ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
      |  ROUND(seas[1], 6) AS season_next,
      |  ROUND(l + b + seas[1], 6) AS forecast,
      |  ROUND(list_max(seas) - list_min(seas), 6) AS seasonal_amplitude
      |FROM rec WHERE i = n + 1 ORDER BY event_type""".stripMargin

  /** q_ts_backtest entry: rolling-origin ONE-STEP-AHEAD forecast
    * BACKTEST — the evaluation loop that decides whether a forecaster
    * is allowed to page anyone: for each event type's daily series,
    * replay history and score every t = 2..n one-step forecast from
    * (a) the naive last-value carry-forward and (b) simple exponential
    * smoothing (α = 0.5), reporting MAE and sMAPE for both plus the
    * skill ratio mae_ses/mae_naive (< 1 ⇔ smoothing beats naive —
    * the sanity bar most "models" fail on short series).
    *
    * Scale shape: same as [[holtQ]] — one combinable daily rollup,
    * then ONE sequential fold per series over its own (bounded,
    * calendar-length) array; series fold in parallel across types.
    * Determinism: the fold is a sequential recurrence with error sums
    * accumulated INSIDE the fold state, so both engines run the
    * IDENTICAL IEEE operation sequence (the [[holtQ]] contract —
    * Spark `aggregate` vs recursive CTE, same formula text). */
  def backtestQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"d", $"c"))).as("arr"))
      .withColumn("xs", expr("transform(arr, e -> cast(e.c as double))"))
      .filter(size($"xs") >= 3)
      .withColumn("st", expr(
        """aggregate(slice(xs, 2, size(xs) - 1),
          |  named_struct('s', xs[0], 'prev', xs[0],
          |    'sae_n', cast(0 as double), 'sae_s', cast(0 as double),
          |    'sm_n', cast(0 as double), 'sm_s', cast(0 as double)),
          |  (st, x) -> named_struct(
          |    's', 0.5 * x + 0.5 * st.s,
          |    'prev', x,
          |    'sae_n', st.sae_n + abs(x - st.prev),
          |    'sae_s', st.sae_s + abs(x - st.s),
          |    'sm_n', st.sm_n + 2 * abs(x - st.prev) / (abs(x) + abs(st.prev)),
          |    'sm_s', st.sm_s + 2 * abs(x - st.s) / (abs(x) + abs(st.s))))"""
          .stripMargin))
      .select($"event_type",
        size($"xs").cast("long").as("n_days"),
        round($"st.sae_n" / (size($"xs") - 1), 6).as("mae_naive"),
        round($"st.sae_s" / (size($"xs") - 1), 6).as("mae_ses"),
        round($"st.sm_n" / (size($"xs") - 1), 6).as("smape_naive"),
        round($"st.sm_s" / (size($"xs") - 1), 6).as("smape_ses"),
        round($"st.sae_s" / $"st.sae_n", 6).as("skill"))
      .orderBy($"event_type")
  }

  val backtestSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, CAST(c AS DOUBLE) AS x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily),
      |rec(event_type, i, n, s, prev, sae_n, sae_s, sm_n, sm_s) AS (
      |  SELECT event_type, 2, n, x, x,
      |    0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
      |  FROM idx WHERE i = 1 AND n >= 3
      |  UNION ALL
      |  SELECT r.event_type, r.i + 1, r.n,
      |    0.5 * d.x + 0.5 * r.s,
      |    d.x,
      |    r.sae_n + ABS(d.x - r.prev),
      |    r.sae_s + ABS(d.x - r.s),
      |    r.sm_n + 2 * ABS(d.x - r.prev) / (ABS(d.x) + ABS(r.prev)),
      |    r.sm_s + 2 * ABS(d.x - r.s) / (ABS(d.x) + ABS(r.s))
      |  FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
      |  WHERE r.i <= r.n)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  ROUND(sae_n / (n - 1), 6) AS mae_naive,
      |  ROUND(sae_s / (n - 1), 6) AS mae_ses,
      |  ROUND(sm_n / (n - 1), 6) AS smape_naive,
      |  ROUND(sm_s / (n - 1), 6) AS smape_ses,
      |  ROUND(sae_s / sae_n, 6) AS skill
      |FROM rec WHERE i = n + 1 ORDER BY event_type""".stripMargin

  /** q_ts_sax entry: SAX symbolization (Lin, Keogh, Lonardi & Chiu,
    * DMKD 2007) of each event type's DAILY value series — z-normalize
    * per series, discretize each day into a 4-letter alphabet at the
    * standard Gaussian breakpoints (−0.6745, 0, 0.6745), and assemble
    * one WORD per (series, week). SAX is how time-series corpora get
    * indexed, clustered, and motif-mined at scale: a month of doubles
    * becomes a handful of short strings that equal-width hashing,
    * grouping, and edit-distance all handle natively.
    *
    * Scale shape: the daily collapse is one combinable exchange; μ/σ
    * reduce to one row per series and broadcast back; word assembly is
    * a per-(series, week) sort of ≤ 7 symbols. Determinism: daily sums
    * are exact integer cents; Σx and Σx² reduce as DECIMAL(38,0), so
    * μ and σ are one shared IEEE expression of exact integers — the
    * z-scores are bit-identical across engines and partitionings; the
    * breakpoint CASE and string assembly are exact. */
  /** Per-(series, day) z-score and SAX symbol — the shared frame under
    * [[saxQ]] (word assembly) and [[saxDistQ]] (MINDIST). Exact
    * integer-cents moments; see [[saxQ]] for the contract. */
  private def saxDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(sum(($"value".cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    val stats = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("nd"),
        sum($"cents".cast("decimal(38,0)")).as("sx"),
        sum(($"cents".cast("decimal(38,0)") * $"cents").cast("decimal(38,0)"))
          .as("sxx"))
      .select($"event_type", $"nd",
        ($"sx".cast("double") / $"nd").as("mu"),
        sqrt(($"sxx".cast("double") -
          $"sx".cast("double") * $"sx".cast("double") / $"nd") /
          ($"nd" - 1)).as("sigma"))
    daily.join(broadcast(stats), "event_type")
      .withColumn("z", ($"cents".cast("double") - $"mu") / $"sigma")
      .withColumn("sym",
        when($"z" < -0.6745, "a").when($"z" < 0.0, "b")
          .when($"z" < 0.6745, "c").otherwise("d"))
      .withColumn("si",
        when($"z" < -0.6745, 0).when($"z" < 0.0, 1)
          .when($"z" < 0.6745, 2).otherwise(3))
  }

  /** The shared daily/z/symbol CTE chain for the SAX oracles. */
  private val saxDailySql: String =
    """daily AS MATERIALIZED (
      |  SELECT event_type, date_trunc('day', ts) AS d,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |st AS MATERIALIZED (
      |  SELECT event_type, COUNT(*) AS nd,
      |    CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
      |    CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS sxx
      |  FROM daily GROUP BY 1),
      |mo AS MATERIALIZED (
      |  SELECT event_type, nd, CAST(sx AS DOUBLE) / nd AS mu,
      |    SQRT((CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nd) / (nd - 1)) AS sigma
      |  FROM st),
      |sy AS MATERIALIZED (
      |  SELECT d.event_type, d.d,
      |    (CAST(cents AS DOUBLE) - mu) / sigma AS z,
      |    CASE WHEN (CAST(cents AS DOUBLE) - mu) / sigma < -0.6745 THEN 'a'
      |         WHEN (CAST(cents AS DOUBLE) - mu) / sigma < 0.0 THEN 'b'
      |         WHEN (CAST(cents AS DOUBLE) - mu) / sigma < 0.6745 THEN 'c'
      |         ELSE 'd' END AS sym,
      |    CASE WHEN (CAST(cents AS DOUBLE) - mu) / sigma < -0.6745 THEN 0
      |         WHEN (CAST(cents AS DOUBLE) - mu) / sigma < 0.0 THEN 1
      |         WHEN (CAST(cents AS DOUBLE) - mu) / sigma < 0.6745 THEN 2
      |         ELSE 3 END AS si
      |  FROM daily d JOIN mo ON mo.event_type = d.event_type)"""
      .stripMargin

  def saxQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    saxDaily(s, dir)
      .groupBy($"event_type", date_trunc("week", $"d").as("week_start"))
      .agg(count(lit(1)).as("n_days"),
        array_join(expr("transform(array_sort(collect_list(struct(d, sym))), x -> x.sym)"), "")
          .as("word"))
      .select($"event_type", $"week_start".cast("date").as("week_start"),
        $"n_days", $"word")
      .orderBy($"event_type", $"week_start")
  }

  val saxSql: String =
    s"""WITH $saxDailySql
      |SELECT event_type, CAST(date_trunc('week', d) AS DATE) AS week_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_days,
      |  string_agg(sym, '' ORDER BY d) AS word
      |FROM sy GROUP BY 1, 2 ORDER BY event_type, week_start""".stripMargin

  /** q_ts_sax_dist entry: SAX MINDIST between every pair of event
    * types' weekly symbol strings, with the LOWER-BOUNDING LEMMA as an
    * in-result gate — MINDIST(Â, B̂) ≤ dist(A, B) in z-space (Lin et
    * al., DMKD 2007, the property that makes SAX an INDEX: a symbolic
    * prune can never miss a true near-neighbor). Cell distance is 0
    * for adjacent-or-equal symbols, else the breakpoint gap; with one
    * symbol per day the √(n/w) factor is 1. `tightness` =
    * mindist/dist is the index-selectivity readout.
    *
    * Determinism: squared cell gaps are EXACT decimal literals
    * (0.6745² = 0.45495025, 1.349² = 1.819801) summed as decimals;
    * z-gap squares round to 12 dp and sum as decimals; the gate
    * compares decimals with a 1e-9 guard for the 12-dp truncation.
    * Scale: the daily frame is series×days; the pair join is
    * types²-bounded per day. */
  def saxDistQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = saxDaily(s, dir)
    val a = d.select($"event_type".as("type_a"), $"d",
      date_trunc("week", $"d").as("wk"), $"z".as("za"), $"si".as("sa"))
    val b = d.select($"event_type".as("type_b"), $"d",
      $"z".as("zb"), $"si".as("sb"))
    val cell2 = when(abs($"sa" - $"sb") <= 1, lit("0"))
      .when(abs($"sa" - $"sb") === 2, lit("0.45495025"))
      .otherwise(lit("1.819801")).cast("decimal(28,12)")
    a.join(b, Seq("d")).filter($"type_a" < $"type_b")
      .groupBy($"wk", $"type_a", $"type_b")
      .agg(count(lit(1)).as("n_days"),
        sum(cell2).as("msum"),
        sum(round(($"za" - $"zb") * ($"za" - $"zb"), 12)
          .cast("decimal(28,12)")).as("dsum"))
      .select($"wk".cast("date").as("week_start"), $"type_a", $"type_b",
        $"n_days",
        round(sqrt($"msum".cast("double")), 6).as("mindist"),
        round(sqrt($"dsum".cast("double")), 6).as("dist"),
        ($"msum" <= $"dsum" + lit("0.000000001").cast("decimal(28,12)"))
          .cast("int").as("bound_ok"),
        when($"dsum" > 0, round(sqrt($"msum".cast("double")) /
          sqrt($"dsum".cast("double")), 6)).otherwise(0.0).as("tightness"))
      .orderBy($"week_start", $"type_a", $"type_b")
  }

  val saxDistSql: String =
    s"""WITH $saxDailySql,
      |pr AS (
      |  SELECT date_trunc('week', a.d) AS wk,
      |    a.event_type AS type_a, b.event_type AS type_b,
      |    CASE WHEN ABS(a.si - b.si) <= 1 THEN CAST('0' AS DECIMAL(28,12))
      |         WHEN ABS(a.si - b.si) = 2 THEN CAST('0.45495025' AS DECIMAL(28,12))
      |         ELSE CAST('1.819801' AS DECIMAL(28,12)) END AS cell2,
      |    CAST(ROUND((a.z - b.z) * (a.z - b.z), 12) AS DECIMAL(28,12)) AS zg2
      |  FROM sy a JOIN sy b ON a.d = b.d AND a.event_type < b.event_type),
      |ag AS (
      |  SELECT wk, type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(cell2) AS DECIMAL(38,12)) AS msum,
      |    CAST(SUM(zg2) AS DECIMAL(38,12)) AS dsum
      |  FROM pr GROUP BY 1, 2, 3)
      |SELECT CAST(wk AS DATE) AS week_start, type_a, type_b, n_days,
      |  ROUND(SQRT(CAST(msum AS DOUBLE)), 6) AS mindist,
      |  ROUND(SQRT(CAST(dsum AS DOUBLE)), 6) AS dist,
      |  CAST(msum <= dsum + CAST('0.000000001' AS DECIMAL(28,12)) AS INT)
      |    AS bound_ok,
      |  CASE WHEN dsum > 0 THEN ROUND(SQRT(CAST(msum AS DOUBLE))
      |    / SQRT(CAST(dsum AS DOUBLE)), 6) ELSE 0.0 END AS tightness
      |FROM ag ORDER BY week_start, type_a, type_b""".stripMargin

  /** q_ts_hurst entry: HURST EXPONENT by rescaled-range (R/S) analysis
    * (Hurst 1951; Mandelbrot & Wallis 1969) over the global dense
    * hourly event-count series — the long-range-dependence diagnostic
    * that tells a capacity planner whether load fluctuations are
    * mean-reverting (H < 0.5), memoryless (H ≈ 0.5), or PERSISTENT
    * (H > 0.5, the "bursts cluster" regime where naive Poisson sizing
    * underprovisions). Method: for block sizes n ∈ {8,16,32,64} split
    * the 720-hour series into ⌊720/n⌋ full blocks; per block compute
    * the range R of cumulative mean-deviations and the population std
    * S; H = the log-log OLS slope of the per-size mean R/S against n.
    *
    * Determinism contract: all block moments stay EXACT integers —
    * the cumulative deviation is carried as Z·n = n·prefix − j·sum
    * (bigint), so R/S = (max−min)/sqrt(n·Σx²−S²) is one sqrt + one
    * division per block; per-size means merge 9-dp DECIMAL(28,9)
    * components; the final slope is a fixed-order scalar expression
    * over four 9-dp logs (equally-spaced design: slope =
    * (−1.5y₈ −0.5y₁₆ +0.5y₃₂ +1.5y₆₄)/(5·ln2)). Zero-variance blocks
    * are excluded on both engines.
    *
    * Scale shape: the dense grid is time-range-bounded (720 rows here;
    * at 100 TB you shard R/S by series key and this is per-series
    * work); the one shuffle keys on (n, block) so prefix windows run
    * partition-local, and everything after the per-block rollup is a
    * ≤ Σ⌊720/n⌋-row frame. */
  def hurstQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val dense = calendar(s, "hour").join(hourly, Seq("hour"), "left")
      .select($"hour", coalesce($"cnt", lit(0L)).as("x"))
      .withColumn("idx",
        (row_number().over(Window.orderBy($"hour")) - 1).cast("long"))
    val sizes = Seq(8L, 16L, 32L, 64L).toDF("n")
    val wb = Window.partitionBy($"n", $"blk").orderBy($"idx")
    val wf = Window.partitionBy($"n", $"blk")
    val pre = dense.crossJoin(broadcast(sizes))
      .withColumn("blk", expr("idx div n"))
      .withColumn("p", sum($"x").over(wb))
      .withColumn("j", row_number().over(wb).cast("long"))
      .withColumn("sm", sum($"x").over(wf))
      .withColumn("q", sum($"x" * $"x").over(wf))
      .withColumn("cb", count(lit(1)).over(wf))
      .filter($"cb" === $"n")
      .withColumn("zn", $"n" * $"p" - $"j" * $"sm")
    val rs = pre.groupBy($"n", $"blk")
      .agg(max($"zn").as("mx"), min($"zn").as("mn"),
        max($"sm").as("sm"), max($"q").as("q"))
      .filter($"n" * $"q" - $"sm" * $"sm" > 0)
      .select($"n",
        (($"mx" - $"mn").cast("double") /
          sqrt(($"n" * $"q" - $"sm" * $"sm").cast("double"))).as("rs"))
    val per = rs.groupBy($"n")
      .agg(count(lit(1)).as("nb"),
        sum(round($"rs", 9).cast("decimal(28,9)")).as("srs"))
      .select($"n", ($"srs".cast("double") / $"nb").as("mrs"))
      .withColumn("y", round(log($"mrs"), 9))
    per.agg(
      max(when($"n" === 8, round($"mrs", 6))).as("rs8"),
      max(when($"n" === 16, round($"mrs", 6))).as("rs16"),
      max(when($"n" === 32, round($"mrs", 6))).as("rs32"),
      max(when($"n" === 64, round($"mrs", 6))).as("rs64"),
      max(when($"n" === 8, $"y")).as("y3"),
      max(when($"n" === 16, $"y")).as("y4"),
      max(when($"n" === 32, $"y")).as("y5"),
      max(when($"n" === 64, $"y")).as("y6"))
      .select($"rs8", $"rs16", $"rs32", $"rs64",
        expr("round(((-1.5)*y3 + (-0.5)*y4 + 0.5*y5 + 1.5*y6) / (5 * 0.6931471805599453), 6)")
          .as("hurst"))
  }

  val hurstSql: String =
    """WITH grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |dense AS (
      |  SELECT g.hour, COALESCE(h.cnt, 0) AS x,
      |    CAST(ROW_NUMBER() OVER (ORDER BY g.hour) AS BIGINT) - 1 AS idx
      |  FROM grid g LEFT JOIN hourly h ON h.hour = g.hour),
      |sizes AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS n),
      |pre AS (
      |  SELECT n, idx // n AS blk, idx, x,
      |    SUM(x) OVER (PARTITION BY n, idx // n ORDER BY idx) AS p,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY n, idx // n ORDER BY idx)
      |      AS BIGINT) AS j,
      |    SUM(x) OVER (PARTITION BY n, idx // n) AS sm,
      |    SUM(x * x) OVER (PARTITION BY n, idx // n) AS q,
      |    COUNT(*) OVER (PARTITION BY n, idx // n) AS cb
      |  FROM dense CROSS JOIN sizes),
      |z AS (SELECT n, blk, n * p - j * sm AS zn, sm, q FROM pre WHERE cb = n),
      |bs AS (
      |  SELECT n, blk, MAX(zn) AS mx, MIN(zn) AS mn,
      |    MAX(sm) AS sm, MAX(q) AS q
      |  FROM z GROUP BY 1, 2),
      |rs AS (
      |  SELECT n, CAST(mx - mn AS DOUBLE)
      |    / SQRT(CAST(n * q - sm * sm AS DOUBLE)) AS rs
      |  FROM bs WHERE n * q - sm * sm > 0),
      |per AS (
      |  SELECT n, COUNT(*) AS nb,
      |    SUM(CAST(ROUND(rs, 9) AS DECIMAL(28,9))) AS srs
      |  FROM rs GROUP BY 1),
      |y AS (
      |  SELECT n, CAST(srs AS DOUBLE) / nb AS mrs,
      |    ROUND(LN(CAST(srs AS DOUBLE) / nb), 9) AS y
      |  FROM per)
      |SELECT
      |  MAX(CASE WHEN n = 8 THEN ROUND(mrs, 6) END) AS rs8,
      |  MAX(CASE WHEN n = 16 THEN ROUND(mrs, 6) END) AS rs16,
      |  MAX(CASE WHEN n = 32 THEN ROUND(mrs, 6) END) AS rs32,
      |  MAX(CASE WHEN n = 64 THEN ROUND(mrs, 6) END) AS rs64,
      |  ROUND(((-1.5) * MAX(CASE WHEN n = 8 THEN y END)
      |    + (-0.5) * MAX(CASE WHEN n = 16 THEN y END)
      |    + 0.5 * MAX(CASE WHEN n = 32 THEN y END)
      |    + 1.5 * MAX(CASE WHEN n = 64 THEN y END))
      |    / (5 * 0.6931471805599453), 6) AS hurst
      |FROM y""".stripMargin

  /** q_ts_ar2 entry: AR(2) autoregression fit by YULE-WALKER (the
    * moment-matching solve every ARIMA library starts from) per event
    * type's dense hourly series, with an in-sample one-step backtest
    * over the final 120 hours against the naive x̂=x_{t−1} carry —
    * the go/no-go readout for "does linear memory beat persistence on
    * this series". φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) from
    * the lag-1/lag-2 Pearson pair autocorrelations (the [[Stats.acfQ]]
    * estimator), prediction x̂_t = μ + φ₁(x_{t−1}−μ) + φ₂(x_{t−2}−μ).
    *
    * Determinism: r₁/r₂ come from exact integer power sums (6 dp);
    * φ's and μ are fixed-order scalar chains rounded to 9 dp;
    * per-row absolute errors are rounded to 9 dp and merged as
    * DECIMAL(28,9), so MAEs cannot drift with partitioning.
    *
    * Scale shape: the dense grid is time-range-bounded; lag features
    * are two `lag` windows over the per-series partition (one
    * shuffle); both correlation aggregates and the backtest rollup
    * are map-side combinable; the 5-row parameter frame broadcasts
    * back. Identical cost to ONE [[Stats.acfQ]] pass plus a scan. */
  def ar2Q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    val dense = denseCounts(t(s, dir, "events"), "hour")
      .withColumn("idx",
        (row_number().over(w) - 1).cast("long"))
      .withColumn("x1", lag($"x", 1).over(w))
      .withColumn("x2", lag($"x", 2).over(w))
    def rAt(xc: String, lagCol: String): Column =
      round((count(lit(1)) * sum(col(xc) * col(lagCol)) -
        sum(col(xc)) * sum(col(lagCol))).cast("double") /
        sqrt((count(lit(1)) * sum(col(xc) * col(xc)) -
          sum(col(xc)) * sum(col(xc))).cast("double") *
          (count(lit(1)) * sum(col(lagCol) * col(lagCol)) -
            sum(col(lagCol)) * sum(col(lagCol))).cast("double")), 6)
    val r1 = dense.filter($"x1".isNotNull).groupBy($"event_type")
      .agg(rAt("x", "x1").as("r1"))
    val r2 = dense.filter($"x2".isNotNull).groupBy($"event_type")
      .agg(rAt("x", "x2").as("r2"))
    val mu = dense.groupBy($"event_type")
      .agg(round(sum($"x").cast("double") / count(lit(1)), 9).as("mu"))
    val params = r1.join(r2, Seq("event_type")).join(mu, Seq("event_type"))
      .select($"event_type",
        expr("round(r1 * (1 - r2) / (1 - r1 * r1), 9)").as("phi1"),
        expr("round((r2 - r1 * r1) / (1 - r1 * r1), 9)").as("phi2"),
        $"mu")
    dense.filter($"idx" >= 600 && $"x2".isNotNull)
      .join(broadcast(params), Seq("event_type"))
      .withColumn("pred",
        expr("mu + phi1 * (x1 - mu) + phi2 * (x2 - mu)"))
      .withColumn("e_ar", round(abs($"x" - $"pred"), 9).cast("decimal(28,9)"))
      .withColumn("e_nv",
        round(abs(($"x" - $"x1").cast("double")), 9).cast("decimal(28,9)"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_test"), max($"phi1").as("p1"),
        max($"phi2").as("p2"), sum($"e_ar").as("sar"), sum($"e_nv").as("snv"))
      .select($"event_type", $"n_test".cast("long").as("n_test"),
        round($"p1", 6).as("phi1"), round($"p2", 6).as("phi2"),
        round($"sar".cast("double") / $"n_test", 6).as("mae_ar2"),
        round($"snv".cast("double") / $"n_test", 6).as("mae_naive"))
      .withColumn("ar2_wins", $"mae_ar2" < $"mae_naive")
      .orderBy($"event_type")
  }

  val ar2Sql: String = {
    def rSel(pair: String, out: String): String =
      s"""$out AS (
         |  SELECT event_type,
         |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
         |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
         |  FROM (
         |    SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM($pair) AS sy,
         |      SUM(x * x) AS sxx, SUM($pair * $pair) AS syy,
         |      SUM(x * $pair) AS sxy
         |    FROM lagged WHERE $pair IS NOT NULL GROUP BY 1))""".stripMargin
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
      |lagged AS (
      |  SELECT event_type, hour, x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour)
      |      AS BIGINT) - 1 AS idx,
      |    LAG(x, 1) OVER (PARTITION BY event_type ORDER BY hour) AS x1,
      |    LAG(x, 2) OVER (PARTITION BY event_type ORDER BY hour) AS x2
      |  FROM dense),
      |${rSel("x1", "r1t")},
      |${rSel("x2", "r2t")},
      |mu AS (
      |  SELECT event_type,
      |    ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 9) AS mu
      |  FROM dense GROUP BY 1),
      |params AS (
      |  SELECT r1t.event_type,
      |    ROUND(r1t.r * (1 - r2t.r) / (1 - r1t.r * r1t.r), 9) AS phi1,
      |    ROUND((r2t.r - r1t.r * r1t.r) / (1 - r1t.r * r1t.r), 9) AS phi2,
      |    mu.mu
      |  FROM r1t JOIN r2t ON r1t.event_type = r2t.event_type
      |  JOIN mu ON mu.event_type = r1t.event_type),
      |bt AS (
      |  SELECT l.event_type, p.phi1, p.phi2,
      |    CAST(ROUND(ABS(l.x - (p.mu + p.phi1 * (l.x1 - p.mu)
      |      + p.phi2 * (l.x2 - p.mu))), 9) AS DECIMAL(28,9)) AS e_ar,
      |    CAST(ROUND(ABS(CAST(l.x - l.x1 AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS e_nv
      |  FROM lagged l JOIN params p ON p.event_type = l.event_type
      |  WHERE l.idx >= 600 AND l.x2 IS NOT NULL)
      |SELECT event_type, COUNT(*) AS n_test,
      |  ROUND(MAX(phi1), 6) AS phi1, ROUND(MAX(phi2), 6) AS phi2,
      |  ROUND(CAST(SUM(e_ar) AS DOUBLE) / COUNT(*), 6) AS mae_ar2,
      |  ROUND(CAST(SUM(e_nv) AS DOUBLE) / COUNT(*), 6) AS mae_naive,
      |  ROUND(CAST(SUM(e_ar) AS DOUBLE) / COUNT(*), 6)
      |    < ROUND(CAST(SUM(e_nv) AS DOUBLE) / COUNT(*), 6) AS ar2_wins
      |FROM bt GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  /** q_ts_croston entry: CROSTON'S METHOD (1972) for INTERMITTENT
    * demand — the forecaster for series that are mostly zeros with
    * occasional spikes, where exponential smoothing of the raw series
    * collapses toward zero between events. Series: hourly counts of
    * HIGH-VALUE events (value > 120, ≈ the p90 tail) per event type —
    * genuinely sparse. Croston smooths two series separately at
    * α = 0.1: demand SIZE z (updated only on demand hours) and
    * inter-demand INTERVAL p (periods since the previous demand);
    * forecast = z/p demand per hour. Init: first demand's size and
    * its 1-based position.
    *
    * Determinism: the [[holtQ]] fold contract — one sequential
    * `aggregate` fold per series whose IEEE expression text is
    * mirrored verbatim by the oracle's recursive CTE, so the floating
    * chain is bit-identical; output rounded at 6 dp.
    *
    * Scale shape: one combinable hourly collapse; the fold runs once
    * per series over the calendar-bounded array (720 doubles) —
    * series parallelize across keys, the fold never shuffles. */
  def crostonQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = t(s, dir, "events")
    denseCounts(events, "hour", events.filter($"value" > 120.0))
      .withColumn("x", $"x".cast("double"))
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"hour", $"x"))).as("arr"))
      .withColumn("xs", expr("transform(arr, e -> e.x)"))
      .withColumn("st", expr(
        """aggregate(xs,
          |  named_struct('z', cast(0.0 as double), 'p', cast(0.0 as double),
          |               'q', cast(0.0 as double), 'started', false,
          |               'n_demands', cast(0L as bigint)),
          |  (st, x) -> if(x > 0.0,
          |    if(st.started,
          |      named_struct(
          |        'z', st.z + 0.1 * (x - st.z),
          |        'p', st.p + 0.1 * ((st.q + 1.0) - st.p),
          |        'q', cast(0.0 as double), 'started', true,
          |        'n_demands', st.n_demands + 1L),
          |      named_struct(
          |        'z', x, 'p', st.q + 1.0,
          |        'q', cast(0.0 as double), 'started', true,
          |        'n_demands', 1L)),
          |    named_struct('z', st.z, 'p', st.p, 'q', st.q + 1.0,
          |      'started', st.started, 'n_demands', st.n_demands)))"""
          .stripMargin))
      .filter($"st.started")
      .select($"event_type",
        $"st.n_demands".as("n_demands"),
        round($"st.z", 6).as("demand_size"),
        round($"st.p", 6).as("demand_interval"),
        round($"st.z" / $"st.p", 6).as("forecast_per_hour"))
      .orderBy($"event_type")
  }

  /** Oracle twin: the same fold as a recursive CTE over the dense
    * indexed grid — identical IEEE update expressions. */
  val crostonSql: String =
    """WITH RECURSIVE grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS c
      |  FROM events WHERE value > 120.0 GROUP BY 1, 2),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT s.event_type, CAST(COALESCE(h.c, 0) AS DOUBLE) AS x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY g.hour)
      |      AS BIGINT) AS i,
      |    COUNT(*) OVER (PARTITION BY s.event_type) AS n
      |  FROM grid g CROSS JOIN series s
      |  LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = s.event_type),
      |rec(event_type, i, n, z, p, q, started, n_demands) AS (
      |  SELECT event_type, 0, n, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
      |    FALSE, CAST(0 AS BIGINT)
      |  FROM dense WHERE i = 1
      |  UNION ALL
      |  SELECT r.event_type, r.i + 1, r.n,
      |    CASE WHEN d.x > 0.0 THEN
      |      CASE WHEN r.started THEN r.z + 0.1 * (d.x - r.z) ELSE d.x END
      |    ELSE r.z END,
      |    CASE WHEN d.x > 0.0 THEN
      |      CASE WHEN r.started THEN r.p + 0.1 * ((r.q + 1.0) - r.p)
      |        ELSE r.q + 1.0 END
      |    ELSE r.p END,
      |    CASE WHEN d.x > 0.0 THEN 0.0 ELSE r.q + 1.0 END,
      |    r.started OR d.x > 0.0,
      |    r.n_demands + CASE WHEN d.x > 0.0 THEN 1 ELSE 0 END
      |  FROM rec r JOIN dense d
      |    ON d.event_type = r.event_type AND d.i = r.i + 1
      |  WHERE r.i < r.n)
      |SELECT event_type, n_demands,
      |  ROUND(z, 6) AS demand_size,
      |  ROUND(p, 6) AS demand_interval,
      |  ROUND(z / p, 6) AS forecast_per_hour
      |FROM rec WHERE i = n AND started ORDER BY event_type""".stripMargin

  /** q_ts_changepoint entry: OPTIMAL SINGLE CHANGEPOINT per series by
    * two-segment least squares — for each event type's daily-count
    * series, the split k* maximizing SSE(total) − SSE(left) − SSE(right)
    * (the scan that binary segmentation and PELT, Killick et al. JASA
    * 2012, apply recursively; one level is the "did the metric shift,
    * and when" primitive behind deploy regression detection and drift
    * root-causing). Complements [[cusumQ]]: CUSUM detects drift online
    * against a FIXED reference mean; the changepoint scan finds the
    * single best retrospective break with both segment means free.
    *
    * Distributed shape: one combinable daily collapse over the corpus,
    * then every candidate split is scored from per-series prefix sums —
    * two window passes over the calendar-bounded grid (T ≤ days), no
    * per-split re-aggregation (the O(T²) naïve shape), no corpus
    * re-scan. At 100 TB the scan costs one pass + a days-sized window.
    *
    * Determinism: all sums are exact integers; every derived quantity
    * (SSE terms, gain) is the same sequence of IEEE ops on identical
    * operands in both engines, so even the UNROUNDED gain ordering
    * matches — the argmax needs no rounding contract, only the day
    * tiebreak for exact ties. */
  def changepointQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val pre = daily
      .withColumn("k", row_number().over(w))
      .withColumn("s1", sum($"v").over(w))
      .withColumn("s2", sum($"v" * $"v").over(w))
      .withColumn("tt", count(lit(1)).over(wAll))
      .withColumn("s1t", sum($"v").over(wAll))
      .withColumn("s2t", sum($"v" * $"v").over(wAll))
    val gains = pre.filter($"k" < $"tt")
      .withColumn("gain",
        ($"s2t" - $"s1t" * $"s1t" / $"tt")
          - ($"s2" - $"s1" * $"s1" / $"k")
          - (($"s2t" - $"s2")
             - ($"s1t" - $"s1") * ($"s1t" - $"s1") / ($"tt" - $"k")))
    gains
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"gain".desc, $"day")))
      .filter($"rn" === 1)
      .select($"event_type", $"tt".cast("long").as("n_days"),
        $"day".as("last_day_left"),
        round($"gain", 6).as("sse_gain"),
        round($"s1" / $"k", 6).as("mean_left"),
        round(($"s1t" - $"s1") / ($"tt" - $"k"), 6).as("mean_right"))
      .orderBy($"event_type")
  }

  val changepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS v
      |  FROM events GROUP BY 1, 2),
      |pre AS (
      |  SELECT event_type, day, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
      |    SUM(v) OVER (PARTITION BY event_type ORDER BY day) AS s1,
      |    SUM(v * v) OVER (PARTITION BY event_type ORDER BY day) AS s2,
      |    COUNT(*) OVER (PARTITION BY event_type) AS tt,
      |    SUM(v) OVER (PARTITION BY event_type) AS s1t,
      |    SUM(v * v) OVER (PARTITION BY event_type) AS s2t
      |  FROM daily),
      |gains AS (
      |  SELECT *,
      |    (s2t - s1t * s1t / tt)
      |      - (s2 - s1 * s1 / k)
      |      - ((s2t - s2) - (s1t - s1) * (s1t - s1) / (tt - k)) AS gain
      |  FROM pre WHERE k < tt),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY gain DESC, day) AS rn FROM gains)
      |SELECT event_type, CAST(tt AS BIGINT) AS n_days,
      |  day AS last_day_left,
      |  ROUND(gain, 6) AS sse_gain,
      |  ROUND(s1 / k, 6) AS mean_left,
      |  ROUND((s1t - s1) / (tt - k), 6) AS mean_right
      |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** q_ts_reconcile entry: HIERARCHICAL FORECAST RECONCILIATION
    * (Hyndman et al., "Optimal combination forecasts for hierarchical
    * time series", 2011 — the bottom-up / top-down coherence problem
    * every metrics hierarchy has): per-type daily forecasts and the
    * direct total forecast are produced INDEPENDENTLY, and because the
    * base forecaster is nonlinear (exact 7-day MEDIAN — medians don't
    * commute with addition), the bottom-up sum disagrees with the
    * direct total. The operator reports both reconciliation policies
    * side by side: bottom-up (coherent by construction, trusts the
    * leaves) and top-down by historical proportions (trusts the total,
    * distributes by 30-day share), plus the coherence gap the naive
    * independent forecasts carry. The dashboard-vs-rollup discrepancy
    * audit, at any hierarchy scale.
    *
    * Determinism: medians are exact order statistics over 7 integer
    * daily counts (row_number = 4 of 7 — the percentile_disc idiom);
    * shares and top-down values are single IEEE divisions of exact
    * integers. The calendar bound (≤ days × types grid) makes every
    * window frame bounded; the only corpus-sized work is the daily
    * collapse. */
  def reconcileQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("v"))
    val last7 = daily.filter($"day" >= lit("2024-01-24").cast("date"))
    // per-type median of the last-7 daily counts (exact order statistic)
    val wTy = Window.partitionBy($"event_type").orderBy($"v", $"day")
    val base = last7
      .withColumn("rn", row_number().over(wTy))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy($"event_type")))
      .filter($"rn" === expr("(nn + 1) div 2"))
      .select($"event_type", $"v".as("base_forecast"))
    // direct total forecast: median of the last-7 TOTAL daily counts
    val wTot = Window.partitionBy(lit(0)).orderBy($"tv", $"day")
    val direct = last7.groupBy($"day").agg(sum($"v").as("tv"))
      .withColumn("rn", row_number().over(wTot))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(lit(0))))
      .filter($"rn" === expr("(nn + 1) div 2"))
      .select($"tv".as("direct_total"))
    // 30-day historical shares for the top-down split
    val shares = daily.groupBy($"event_type").agg(sum($"v").as("n30"))
      .withColumn("tot30", sum($"n30").over(Window.partitionBy(lit(0))))
    val wAll = Window.partitionBy(lit(0))
    base.join(shares, "event_type")
      .crossJoin(broadcast(direct))
      .withColumn("bu_total", sum($"base_forecast").over(wAll))
      .select($"event_type",
        $"base_forecast".cast("long").as("base_forecast"),
        round($"n30".cast("double") / $"tot30", 6).as("share_30d"),
        round($"n30".cast("double") / $"tot30" * $"direct_total", 6)
          .as("top_down_forecast"),
        $"bu_total".cast("long").as("bottom_up_total"),
        $"direct_total".cast("long").as("direct_total"),
        ($"bu_total" - $"direct_total").cast("long").as("coherence_gap"))
      .orderBy($"event_type")
  }

  val reconcileSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS v
      |  FROM events GROUP BY 1, 2),
      |last7 AS (SELECT * FROM daily WHERE day >= DATE '2024-01-24'),
      |base AS (
      |  SELECT event_type, v AS base_forecast FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type
      |        ORDER BY v, day) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS nn
      |    FROM last7) WHERE rn = (nn + 1) // 2),
      |direct AS (
      |  SELECT tv AS direct_total FROM (
      |    SELECT *, row_number() OVER (ORDER BY tv, day) AS rn,
      |      COUNT(*) OVER () AS nn
      |    FROM (SELECT day, SUM(v) AS tv FROM last7 GROUP BY 1))
      |  WHERE rn = (nn + 1) // 2),
      |shares AS (
      |  SELECT event_type, SUM(v) AS n30, SUM(SUM(v)) OVER () AS tot30
      |  FROM daily GROUP BY 1)
      |SELECT b.event_type,
      |  CAST(b.base_forecast AS BIGINT) AS base_forecast,
      |  ROUND(CAST(s.n30 AS DOUBLE) / s.tot30, 6) AS share_30d,
      |  ROUND(CAST(s.n30 AS DOUBLE) / s.tot30 * d.direct_total, 6)
      |    AS top_down_forecast,
      |  CAST(SUM(b.base_forecast) OVER () AS BIGINT) AS bottom_up_total,
      |  CAST(d.direct_total AS BIGINT) AS direct_total,
      |  CAST(SUM(b.base_forecast) OVER () - d.direct_total AS BIGINT)
      |    AS coherence_gap
      |FROM base b JOIN shares s ON b.event_type = s.event_type
      |CROSS JOIN direct d
      |ORDER BY b.event_type""".stripMargin

  /** q_ts_ljungbox entry: LJUNG–BOX portmanteau whiteness test per
    * event type — Q = n(n+2)·Σ_{k=1..12} r²ₖ/(n−k) over the dense
    * 720-hour count series, where rₖ is the classical (common-mean)
    * autocorrelation estimator. THE residual-diagnostics gate: a
    * forecasting pipeline runs it on model residuals to decide "is
    * there structure left?" — here it certifies the raw arrival series
    * is (un)autocorrelated, complementing [[graft.ops.Stats.acfQ]]'s
    * two spot lags with a single χ²(12)-calibrated statistic.
    *
    * Scale shape: one combinable hourly collapse; the 12 lag passes
    * run over the GRID-sized frame (720·|types| rows), each a window
    * lag + combinable integer-sum aggregate; corpus data is touched
    * once. Determinism: every sum (Σx, Σx², Σxxₖ, window margins) is
    * an exact integer; each rₖ is one shared-order IEEE chain, each
    * Q-term rounds to 12 dp into DECIMAL(38,12) (order-independent
    * sum), final round 6. */
  def ljungBoxQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val m = 12
    val dense = denseCounts(t(s, dir, "events"), "hour")
    val tot = dense.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    val lags = (1 to m).map { k =>
      dense
        .withColumn("y", lag($"x", k).over(w))
        .filter($"y".isNotNull)
        .groupBy($"event_type")
        .agg(sum($"x" * $"y").as("sxy"), sum($"x").as("sxw"),
          sum($"y").as("syw"), count(lit(1)).as("cw"))
        .withColumn("k", lit(k))
    }.reduce(_ unionByName _)
    lags.join(broadcast(tot), "event_type")
      .withColumn("xbar", $"sx".cast("double") / $"n")
      .withColumn("num",
        $"sxy".cast("double") - $"xbar" * ($"sxw" + $"syw") +
          $"cw" * $"xbar" * $"xbar")
      .withColumn("den",
        $"sxx".cast("double") -
          $"sx".cast("double") * $"sx".cast("double") / $"n")
      .withColumn("term",
        round(($"num" / $"den") * ($"num" / $"den") / ($"n" - $"k"), 12)
          .cast("decimal(38,12)"))
      .groupBy($"event_type", $"n")
      .agg(sum($"term").as("tsum"))
      .select($"event_type", $"n".cast("long").as("n"),
        lit(m.toLong).as("m"),
        round($"n".cast("double") * ($"n" + 2) *
          $"tsum".cast("double"), 6).as("q_stat"))
      .orderBy($"event_type")
  }

  val ljungBoxSql: String = {
    val m = 12
    val lagSelects = (1 to m).map { k =>
      s"""SELECT event_type, $k AS k, SUM(x * y) AS sxy, SUM(x) AS sxw,
         |  SUM(y) AS syw, COUNT(*) AS cw
         |FROM (
         |  SELECT event_type, x,
         |    lag(x, $k) OVER (PARTITION BY event_type ORDER BY hour) AS y
         |  FROM dense) WHERE y IS NOT NULL GROUP BY event_type""".stripMargin
    }
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
       |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
       |series AS (SELECT DISTINCT event_type FROM events),
       |dense AS (
       |  SELECT series.event_type, grid.hour, COALESCE(hourly.cnt, 0) AS x
       |  FROM grid CROSS JOIN series
       |  LEFT JOIN hourly ON hourly.hour = grid.hour
       |    AND hourly.event_type = series.event_type),
       |tot AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
       |  FROM dense GROUP BY 1),
       |lags AS (
       |${lagSelects.mkString("\nUNION ALL\n")}),
       |terms AS (
       |  SELECT l.event_type, t.n,
       |    CAST(ROUND(
       |      ((CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * (sxw + syw)
       |        + cw * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
       |       / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n))
       |      * ((CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * (sxw + syw)
       |        + cw * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
       |       / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n))
       |      / (n - k), 12) AS DECIMAL(38,12)) AS term
       |  FROM lags l JOIN tot t ON t.event_type = l.event_type)
       |SELECT event_type, CAST(n AS BIGINT) AS n, CAST($m AS BIGINT) AS m,
       |  ROUND(CAST(n AS DOUBLE) * (n + 2) * CAST(SUM(term) AS DOUBLE), 6)
       |    AS q_stat
       |FROM terms GROUP BY event_type, n
       |ORDER BY event_type""".stripMargin
  }

  /** q_ts_mase entry: forecast-accuracy panel for the SEASONAL-NAIVE
    * baseline (period 7) per event type over the dense 30-day count
    * grid — MAE on the 7-day holdout, MASE (Hyndman & Koehler 2006:
    * holdout MAE scaled by the in-sample seasonal-naive MAE, the
    * scale-free standard that replaced MAPE), and sMAPE. Any
    * forecasting pipeline reports accuracy THIS way; the seasonal-
    * naive scores double as the floor every real model must beat.
    *
    * Scale shape: one combinable daily collapse to the 30·|types| grid;
    * forecasts are one lag-7 window; error sums are per-type combinable
    * aggregates. Determinism: counts and forecasts are exact integers,
    * so |error| sums are exact; sMAPE terms round to 12 dp into
    * DECIMAL(38,12); finals are single IEEE divisions rounded 6. */
  def maseQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dense = denseCounts(t(s, dir, "events"), "day")
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val test = lit("2024-01-24").cast("timestamp")
    val f = dense
      .withColumn("f", lag($"x", 7).over(w))
      .filter($"f".isNotNull)
      .withColumn("is_test", $"day" >= test)
    f.groupBy($"event_type")
      .agg(
        sum(when($"is_test", abs($"x" - $"f"))).as("ae_test"),
        sum(when($"is_test", 1L).otherwise(0L)).as("n_test"),
        sum(when(!$"is_test", abs($"x" - $"f"))).as("ae_train"),
        sum(when(!$"is_test", 1L).otherwise(0L)).as("n_train"),
        sum(when($"is_test",
          when($"x" + $"f" === 0, lit(BigDecimal(0)).cast("decimal(38,12)"))
            .otherwise(round(lit(2.0) * abs($"x" - $"f").cast("double") /
              ($"x" + $"f").cast("double"), 12).cast("decimal(38,12)"))))
          .as("sm"))
      .select($"event_type",
        $"n_test".cast("long").as("n_test"),
        round($"ae_test".cast("double") / $"n_test", 6).as("mae_test"),
        round(($"ae_test".cast("double") / $"n_test") /
          ($"ae_train".cast("double") / $"n_train"), 6).as("mase"),
        round(lit(100.0) * $"sm".cast("double") / $"n_test", 6).as("smape"))
      .orderBy($"event_type")
  }

  val maseSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
      |    TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS d),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.d, COALESCE(daily.cnt, 0) AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN daily ON daily.d = grid.d
      |    AND daily.event_type = series.event_type),
      |f AS (
      |  SELECT event_type, d, x,
      |    lag(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS f,
      |    d >= TIMESTAMP '2024-01-24' AS is_test
      |  FROM dense),
      |g AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN is_test THEN ABS(x - f) END) AS ae_test,
      |    SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS n_test,
      |    SUM(CASE WHEN NOT is_test THEN ABS(x - f) END) AS ae_train,
      |    SUM(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS n_train,
      |    SUM(CASE WHEN is_test THEN
      |      CASE WHEN x + f = 0 THEN CAST(0 AS DECIMAL(38,12))
      |        ELSE CAST(ROUND(2.0 * CAST(ABS(x - f) AS DOUBLE)
      |          / CAST(x + f AS DOUBLE), 12) AS DECIMAL(38,12)) END
      |      END) AS sm
      |  FROM f WHERE f IS NOT NULL GROUP BY 1)
      |SELECT event_type, CAST(n_test AS BIGINT) AS n_test,
      |  ROUND(CAST(ae_test AS DOUBLE) / n_test, 6) AS mae_test,
      |  ROUND((CAST(ae_test AS DOUBLE) / n_test)
      |    / (CAST(ae_train AS DOUBLE) / n_train), 6) AS mase,
      |  ROUND(100.0 * CAST(sm AS DOUBLE) / n_test, 6) AS smape
      |FROM g ORDER BY event_type""".stripMargin

  /** q_stat_dw entry: DURBIN–WATSON residual-autocorrelation test on
    * the OLS trend fit of daily order counts — DW = Σ(eₜ−eₜ₋₁)²/Σe²ₜ
    * over date-ordered residuals (≈2 ⇒ white, →0 ⇒ positive serial
    * correlation, →4 ⇒ negative). The mandatory post-regression check:
    * a trend fit whose residuals are serially correlated has
    * understated standard errors, so [[graft.ops.Stats.olsQ]]-style
    * inference is invalid without this gate.
    *
    * Scale shape: one combinable daily collapse to a calendar-bounded
    * frame; the OLS normal equations are exact-integer sums on that
    * frame (t = date row-number, y = count); residual/lag arithmetic
    * runs on the same bounded frame. Determinism: slope/intercept are
    * fixed IEEE chains of exact integers; each residual term rounds to
    * 10 dp into DECIMAL(38,10), final round 6. */
  def dwQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val daily = t(s, dir, "orders")
      .groupBy(date_trunc("day", $"o_orderdate").as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t", row_number().over(
        Window.partitionBy(lit(0)).orderBy($"d")))
    val fit = daily.agg(count(lit(1)).as("n"), sum($"t").as("st"),
        sum($"y").as("sy"), sum($"t" * $"t").as("stt"),
        sum($"t" * $"y").as("sty"))
      .select($"n",
        (($"n" * $"sty" - $"st" * $"sy").cast("double") /
          ($"n" * $"stt" - $"st" * $"st").cast("double")).as("slope"),
        $"sy", $"st")
      .select($"n", $"slope",
        ($"sy".cast("double") / $"n" -
          $"slope" * $"st".cast("double") / $"n").as("icept"))
    val resid = daily.crossJoin(broadcast(fit))
      .withColumn("e", $"y".cast("double") - ($"icept" + $"slope" * $"t"))
      .withColumn("ep", lag($"e", 1).over(
        Window.partitionBy(lit(0)).orderBy($"d")))
    resid.groupBy($"n", $"slope", $"icept")
      .agg(
        sum(round($"e" * $"e", 10).cast("decimal(38,10)")).as("den"),
        sum(when($"ep".isNotNull,
          round(($"e" - $"ep") * ($"e" - $"ep"), 10)
            .cast("decimal(38,10)"))).as("num"))
      .select($"n".cast("long").as("n_days"),
        round($"slope", 8).as("slope"),
        round($"icept", 6).as("intercept"),
        round($"num".cast("double") / $"den".cast("double"), 6).as("dw"))
  }

  val dwSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS d, COUNT(*) AS y
      |  FROM orders GROUP BY 1),
      |dd AS (
      |  SELECT d, y, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily),
      |fit0 AS (
      |  SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
      |    SUM(t * t) AS stt, SUM(t * y) AS sty
      |  FROM dd),
      |fit AS (
      |  SELECT n,
      |    CAST(n * sty - st * sy AS DOUBLE)
      |      / CAST(n * stt - st * st AS DOUBLE) AS slope,
      |    sy, st
      |  FROM fit0),
      |fit2 AS (
      |  SELECT n, slope,
      |    CAST(sy AS DOUBLE) / n - slope * CAST(st AS DOUBLE) / n AS icept
      |  FROM fit),
      |resid AS (
      |  SELECT n, slope, icept,
      |    CAST(y AS DOUBLE) - (icept + slope * t) AS e,
      |    lag(CAST(y AS DOUBLE) - (icept + slope * t), 1)
      |      OVER (ORDER BY d) AS ep
      |  FROM dd CROSS JOIN fit2)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  ROUND(slope, 8) AS slope,
      |  ROUND(icept, 6) AS intercept,
      |  ROUND(CAST(SUM(CASE WHEN ep IS NOT NULL THEN
      |      CAST(ROUND((e - ep) * (e - ep), 10) AS DECIMAL(38,10)) END)
      |      AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(e * e, 10) AS DECIMAL(38,10))) AS DOUBLE),
      |    6) AS dw
      |FROM resid GROUP BY n, slope, icept""".stripMargin

  /** q_ts_walsh entry: WALSH–HADAMARD SPECTRAL ENTROPY per event type —
    * project the first 512 hours of the count series onto Walsh
    * functions j = 1..63 (walsh_j(t) = (−1)^popcount(j AND t), the
    * ±1-valued orthogonal basis of sequency analysis; Beauchamp 1975),
    * take the power spectrum Pⱼ = Wⱼ², and report the normalized
    * spectral entropy H = −Σ pⱼ ln pⱼ / ln 63 plus the dominant
    * sequency. The trigonometry-free twin of Fourier spectral entropy:
    * H → 0 means one rhythm dominates (the daily cycle), H → 1 means
    * white arrivals — and because every Walsh coefficient is an EXACT
    * INTEGER sum of ±counts, the spectrum is bit-identical across
    * engines and partitionings, which no floating DFT can promise.
    *
    * Scale shape: one combinable hourly collapse; the projection is a
    * 63-row broadcast grid joined to the 512-hour frame — grid-sized
    * work, one combinable integer aggregate per (type, j).
    * Determinism: Pⱼ exact integers; entropy terms round to 12 dp into
    * DECIMAL(38,12); final round 6. */
  def walshQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dense = denseCounts(t(s, dir, "events"), "hour")
      .withColumn("tt", (row_number().over(
        Window.partitionBy($"event_type").orderBy($"hour")) - 1).cast("long"))
      .filter($"tt" < 512)
    val js = s.range(1, 64).select($"id".as("j"))
    val coef = dense.crossJoin(broadcast(js))
      .select($"event_type", $"j",
        (when(expr("pmod(bit_count(j & tt), 2)") === 0, $"x")
          .otherwise(-$"x")).as("term"))
      .groupBy($"event_type", $"j")
      .agg(sum($"term").as("wj"))
      .withColumn("p", $"wj" * $"wj")
    val tot = coef.groupBy($"event_type")
      .agg(sum($"p").as("ptot"))
    val ent = coef.join(broadcast(tot), "event_type")
      .filter($"ptot" > 0)
      .withColumn("pn", $"p".cast("double") / $"ptot".cast("double"))
      .withColumn("term",
        when($"p" === 0, lit(BigDecimal(0)).cast("decimal(38,12)"))
          .otherwise(round(-$"pn" * log($"pn"), 12).cast("decimal(38,12)")))
    val dom = coef
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"p".desc, $"j")))
      .filter($"rn" === 1)
      .select($"event_type", $"j".as("dominant_j"),
        $"p".as("dominant_power"))
    ent.groupBy($"event_type", $"ptot")
      .agg(sum($"term").as("h"))
      .join(dom, "event_type")
      .select($"event_type",
        $"ptot".cast("long").as("total_power"),
        round($"h".cast("double") / math.log(63.0), 6)
          .as("spectral_entropy"),
        $"dominant_j".cast("long").as("dominant_j"),
        $"dominant_power".cast("long").as("dominant_power"))
      .orderBy($"event_type")
  }

  val walshSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT event_type, hour, x, tt FROM (
      |    SELECT series.event_type, grid.hour, COALESCE(hourly.cnt, 0) AS x,
      |      ROW_NUMBER() OVER (PARTITION BY series.event_type
      |        ORDER BY grid.hour) - 1 AS tt
      |    FROM grid CROSS JOIN series
      |    LEFT JOIN hourly ON hourly.hour = grid.hour
      |      AND hourly.event_type = series.event_type)
      |  WHERE tt < 512),
      |js AS (SELECT unnest(range(1, 64)) AS j),
      |coef AS (
      |  SELECT event_type, j,
      |    SUM(CASE WHEN bit_count(j & tt) % 2 = 0 THEN x ELSE -x END) AS wj
      |  FROM dense CROSS JOIN js GROUP BY 1, 2),
      |pw AS (SELECT event_type, j, wj * wj AS p FROM coef),
      |tot AS (SELECT event_type, SUM(p) AS ptot FROM pw GROUP BY 1),
      |ent AS (
      |  SELECT pw.event_type,
      |    SUM(CASE WHEN p = 0 THEN CAST(0 AS DECIMAL(38,12))
      |      ELSE CAST(ROUND(-(CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE))
      |        * LN(CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE)), 12)
      |        AS DECIMAL(38,12)) END) AS h,
      |    MAX(ptot) AS ptot
      |  FROM pw JOIN tot ON tot.event_type = pw.event_type
      |  WHERE ptot > 0 GROUP BY 1),
      |dom AS (
      |  SELECT event_type, j AS dominant_j, p AS dominant_power
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY p DESC, j) AS rn FROM pw) WHERE rn = 1)
      |SELECT e.event_type, CAST(e.ptot AS BIGINT) AS total_power,
      |  ROUND(CAST(h AS DOUBLE) / LN(63.0), 6) AS spectral_entropy,
      |  CAST(dominant_j AS BIGINT) AS dominant_j,
      |  CAST(dominant_power AS BIGINT) AS dominant_power
      |FROM ent e JOIN dom ON dom.event_type = e.event_type
      |ORDER BY e.event_type""".stripMargin

  /** q_ts_dtw entry: DYNAMIC TIME WARPING distance between consecutive
    * event types' 30-day count series — THE elastic similarity measure
    * for time series (alignment-invariant where Euclidean distance is
    * rigid; the distance under time-series clustering, motif search,
    * and query-by-example). Spark has no DTW; the recurrence
    * D(i,j) = |aᵢ−bⱼ| + min(D(i−1,j), D(i,j−1), D(i−1,j−1)) looks
    * hopelessly sequential, but the classical PARALLEL formulation
    * processes ANTI-DIAGONALS: every cell on diagonal d depends only
    * on diagonals d−1 and d−2, so each wavefront step is an
    * independent elementwise map — here one `aggregate` HOF fold over
    * the 2n−1 diagonals carrying (prev, prevprev) arrays, mirrored in
    * the oracle by a recursive CTE carrying the same two LISTs. At
    * cluster scale the same wavefront runs one diagonal per map stage
    * — the textbook systolic DTW.
    *
    * Scale shape: daily collapse → 5 per-type arrays → 4 consecutive
    * pairs; the fold is per-pair local work over 30-element arrays
    * (no shuffle after the collapse). Determinism: costs and DP values
    * are EXACT INTEGERS end to end — bit-identical across engines by
    * construction, no FP anywhere. */
  def dtwQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val n = 30
    val big = 1000000000000000L // sentinel for out-of-range neighbors
    val dense = denseCounts(t(s, dir, "events"), "day")
    val arrs = dense.groupBy($"event_type")
      .agg(expr("transform(array_sort(collect_list(struct(day, x))), p -> p.x)")
        .as("xs"))
    val w = Window.partitionBy(lit(0)).orderBy($"event_type")
    val pairs = arrs
      .withColumn("type_b", lead($"event_type", 1).over(w))
      .withColumn("xb", lead($"xs", 1).over(w))
      .filter($"type_b".isNotNull)
      .select($"event_type".as("type_a"), $"type_b",
        $"xs".as("xa"), $"xb")
    val hi = n - 1
    val fold =
      s"""aggregate(sequence(1, ${2 * n - 2}),
         |  struct(
         |    array(abs(element_at(xa, 1) - element_at(xb, 1))) as prev,
         |    cast(array() as array<bigint>) as pp),
         |  (st, d) -> struct(
         |    transform(sequence(greatest(0, d - $hi), least(d, $hi)), i ->
         |      abs(element_at(xa, i + 1) - element_at(xb, d - i + 1)) +
         |      least(
         |        if(i >= 1,
         |           element_at(st.prev,
         |             (i - 1) - greatest(0, (d - 1) - $hi) + 1),
         |           ${big}L),
         |        if(i <= d - 1,
         |           element_at(st.prev,
         |             i - greatest(0, (d - 1) - $hi) + 1),
         |           ${big}L),
         |        if(d >= 2 and i >= 1 and i <= d - 1,
         |           element_at(st.pp,
         |             (i - 1) - greatest(0, (d - 2) - $hi) + 1),
         |           ${big}L))) as prev,
         |    st.prev as pp),
         |  st -> element_at(st.prev, 1))""".stripMargin.replace("\n", " ")
    pairs
      .withColumn("dtw", expr(fold))
      .select($"type_a", $"type_b",
        lit(n.toLong).as("n"),
        $"dtw".cast("long").as("dtw"),
        expr(s"(10000 * dtw) div ${2 * n - 1}").as("per_step_bp"))
      .orderBy($"type_a")
  }

  val dtwSql: String = {
    val n = 30
    val hi = n - 1
    val big = "1000000000000000"
    s"""WITH RECURSIVE daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
      |    TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS d),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.d, COALESCE(daily.cnt, 0) AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN daily ON daily.d = grid.d
      |    AND daily.event_type = series.event_type),
      |arrs AS (
      |  SELECT event_type, list(x ORDER BY d) AS xs
      |  FROM dense GROUP BY 1),
      |pairs AS (
      |  SELECT event_type AS type_a,
      |    lead(event_type) OVER w AS type_b,
      |    xs AS xa, lead(xs) OVER w AS xb
      |  FROM arrs WINDOW w AS (ORDER BY event_type)
      |  QUALIFY type_b IS NOT NULL),
      |rec AS (
      |  SELECT type_a, type_b, xa, xb, 0 AS dd,
      |    [abs(xa[1] - xb[1])] AS prev,
      |    CAST([] AS BIGINT[]) AS pp
      |  FROM pairs
      |  UNION ALL
      |  SELECT type_a, type_b, xa, xb, dd + 1,
      |    list_transform(range(greatest(0, (dd + 1) - $hi),
      |        least(dd + 1, $hi) + 1), i ->
      |      abs(xa[i + 1] - xb[(dd + 1) - i + 1]) +
      |      least(
      |        CASE WHEN i >= 1
      |          THEN prev[(i - 1) - greatest(0, dd - $hi) + 1]
      |          ELSE $big END,
      |        CASE WHEN i <= dd
      |          THEN prev[i - greatest(0, dd - $hi) + 1]
      |          ELSE $big END,
      |        CASE WHEN dd + 1 >= 2 AND i >= 1 AND i <= dd
      |          THEN pp[(i - 1) - greatest(0, (dd - 1) - $hi) + 1]
      |          ELSE $big END)),
      |    prev
      |  FROM rec WHERE dd < ${2 * n - 2})
      |SELECT type_a, type_b, CAST($n AS BIGINT) AS n,
      |  CAST(prev[1] AS BIGINT) AS dtw,
      |  CAST((10000 * prev[1]) // ${2 * n - 1} AS BIGINT) AS per_step_bp
      |FROM rec WHERE dd = ${2 * n - 2}
      |ORDER BY type_a""".stripMargin
  }

  /** q_ts_dtw_band entry: SAKOE–CHIBA BANDED DTW (radius r = 3) beside
    * the unconstrained distance — the production form of [[dtwQ]]:
    * restricting warps to |i−j| ≤ r cuts the DP from O(n²) to O(n·r)
    * cells (at 10⁴-point series that is the difference between 10⁸ and
    * 3·10⁴ cells per pair) and regularizes pathological warps. The
    * banded wavefront is the same anti-diagonal fold with each
    * diagonal's index range clipped to the band; band-clipped
    * neighbors are guarded exactly like border cells. dtw_band ≥
    * dtw_full by construction (a restricted path set); the gap column
    * shows what the band costs in distance — the r-tuning readout.
    *
    * Determinism: exact integers throughout ([[dtwQ]] contract). The
    * band bound ceil((d−r)/2) is computed as greatest(0, (d−r+1) div
    * 2): Spark's `div` truncates toward zero while DuckDB's `//`
    * floors, but every negative intermediate is clamped by the 0 arm,
    * so the engines agree on all reachable values. */
  def dtwBandQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val n = 30
    val hi = n - 1
    val big = 1000000000000000L
    val dense = denseCounts(t(s, dir, "events"), "day")
    val arrs = dense.groupBy($"event_type")
      .agg(expr("transform(array_sort(collect_list(struct(day, x))), p -> p.x)")
        .as("xs"))
    val w = Window.partitionBy(lit(0)).orderBy($"event_type")
    val pairs = arrs
      .withColumn("type_b", lead($"event_type", 1).over(w))
      .withColumn("xb", lead($"xs", 1).over(w))
      .filter($"type_b".isNotNull)
      .select($"event_type".as("type_a"), $"type_b",
        $"xs".as("xa"), $"xb")
    // banded wavefront fold; r >= 2*hi reproduces the unconstrained DTW
    def fold(r: Int): String = {
      def lo(dEx: String) =
        s"greatest(0, $dEx - $hi, ($dEx - $r + 1) div 2)"
      def hiB(dEx: String) =
        s"least($dEx, $hi, ($dEx + $r) div 2)"
      s"""aggregate(sequence(1, ${2 * n - 2}),
         |  struct(
         |    array(abs(element_at(xa, 1) - element_at(xb, 1))) as prev,
         |    cast(array() as array<bigint>) as pp),
         |  (st, d) -> struct(
         |    transform(sequence(cast(${lo("d")} as int),
         |        cast(${hiB("d")} as int)), i ->
         |      abs(element_at(xa, i + 1) - element_at(xb, d - i + 1)) +
         |      least(
         |        if(i >= 1 and i - 1 >= ${lo("(d - 1)")}
         |             and i - 1 <= ${hiB("(d - 1)")},
         |           element_at(st.prev,
         |             cast((i - 1) - ${lo("(d - 1)")} + 1 as int)),
         |           ${big}L),
         |        if(i <= d - 1 and i >= ${lo("(d - 1)")}
         |             and i <= ${hiB("(d - 1)")},
         |           element_at(st.prev,
         |             cast(i - ${lo("(d - 1)")} + 1 as int)),
         |           ${big}L),
         |        if(d >= 2 and i >= 1 and i <= d - 1
         |             and i - 1 >= ${lo("(d - 2)")}
         |             and i - 1 <= ${hiB("(d - 2)")},
         |           element_at(st.pp,
         |             cast((i - 1) - ${lo("(d - 2)")} + 1 as int)),
         |           ${big}L))) as prev,
         |    st.prev as pp),
         |  st -> element_at(st.prev, 1))""".stripMargin.replace("\n", " ")
    }
    pairs
      .withColumn("dtw_band", expr(fold(3)))
      .withColumn("dtw_full", expr(fold(2 * hi)))
      .select($"type_a", $"type_b", lit(3L).as("radius"),
        $"dtw_band".cast("long").as("dtw_band"),
        $"dtw_full".cast("long").as("dtw_full"),
        ($"dtw_band" - $"dtw_full").cast("long").as("band_gap"))
      .orderBy($"type_a")
  }

  val dtwBandSql: String = {
    val n = 30
    val hi = n - 1
    val big = "1000000000000000"
    def recOf(r: Int, name: String): String = {
      def lo(dEx: String) =
        s"greatest(0, $dEx - $hi, ($dEx - $r + 1) // 2)"
      def hiB(dEx: String) =
        s"least($dEx, $hi, ($dEx + $r) // 2)"
      s"""$name AS (
      |  SELECT type_a, type_b, xa, xb, 0 AS dd,
      |    [abs(xa[1] - xb[1])] AS prev,
      |    CAST([] AS BIGINT[]) AS pp
      |  FROM pairs
      |  UNION ALL
      |  SELECT type_a, type_b, xa, xb, dd + 1,
      |    list_transform(range(${lo("(dd + 1)")}, ${hiB("(dd + 1)")} + 1),
      |        i ->
      |      abs(xa[i + 1] - xb[(dd + 1) - i + 1]) +
      |      least(
      |        CASE WHEN i >= 1 AND i - 1 >= ${lo("dd")}
      |               AND i - 1 <= ${hiB("dd")}
      |          THEN prev[(i - 1) - ${lo("dd")} + 1] ELSE $big END,
      |        CASE WHEN i <= dd AND i >= ${lo("dd")}
      |               AND i <= ${hiB("dd")}
      |          THEN prev[i - ${lo("dd")} + 1] ELSE $big END,
      |        CASE WHEN dd + 1 >= 2 AND i >= 1 AND i <= dd
      |               AND i - 1 >= ${lo("(dd - 1)")}
      |               AND i - 1 <= ${hiB("(dd - 1)")}
      |          THEN pp[(i - 1) - ${lo("(dd - 1)")} + 1] ELSE $big END)),
      |    prev
      |  FROM $name WHERE dd < ${2 * n - 2})""".stripMargin
    }
    s"""WITH RECURSIVE daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
      |    TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS d),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.d, COALESCE(daily.cnt, 0) AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN daily ON daily.d = grid.d
      |    AND daily.event_type = series.event_type),
      |arrs AS (
      |  SELECT event_type, list(x ORDER BY d) AS xs
      |  FROM dense GROUP BY 1),
      |pairs AS (
      |  SELECT event_type AS type_a,
      |    lead(event_type) OVER w AS type_b,
      |    xs AS xa, lead(xs) OVER w AS xb
      |  FROM arrs WINDOW w AS (ORDER BY event_type)
      |  QUALIFY type_b IS NOT NULL),
      |${recOf(3, "recb")},
      |${recOf(2 * hi, "recf")}
      |SELECT b.type_a, b.type_b, CAST(3 AS BIGINT) AS radius,
      |  CAST(b.prev[1] AS BIGINT) AS dtw_band,
      |  CAST(f.prev[1] AS BIGINT) AS dtw_full,
      |  CAST(b.prev[1] - f.prev[1] AS BIGINT) AS band_gap
      |FROM (SELECT * FROM recb WHERE dd = ${2 * n - 2}) b
      |JOIN (SELECT * FROM recf WHERE dd = ${2 * n - 2}) f
      |  USING (type_a, type_b)
      |ORDER BY b.type_a""".stripMargin
  }

  /** q_ts_page_hinkley entry: PAGE–HINKLEY mean-shift detector per
    * event type over the dense 720-hour count series — PHₜ =
    * Σ_{s≤t}(xₛ − x̄ − δ) with the alarm condition PHₜ − min_{s≤t} PHₛ
    * > λ (δ = 0.5 magnitude slack, λ = 3σ data-derived). THE classic
    * sequential change detector for data-stream drift monitoring
    * (Page 1954; the streaming counterpart of [[cusumQ]]'s
    * batch-argmax — CUSUM names the single most likely change point,
    * PH tells you WHEN an online monitor would have fired and how
    * often). Two-pass by design: x̄ and σ come from the calibration
    * pass (exact integer sums), the detection pass is windows only.
    *
    * Scale shape: grid-sized frames after one combinable hourly
    * collapse; cum-sum + running-min windows shard by event type.
    * Determinism: cum(x) exact integer; PHₜ = cum − t·(x̄+δ) is one
    * shared IEEE chain; the running min compares identically computed
    * doubles; λ one chain of exact sums. */
  def pageHinkleyQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val delta = 0.5
    val dense = denseCounts(t(s, dir, "events"), "hour")
    val stats = dense.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
      .select($"event_type", $"n",
        ($"sx".cast("double") / $"n").as("mu"),
        sqrt(($"sxx".cast("double") -
          $"sx".cast("double") * $"sx".cast("double") / $"n") /
          ($"n" - 1)).as("sigma"))
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = dense.join(broadcast(stats), "event_type")
      .withColumn("t", row_number().over(w))
      .withColumn("cum", sum($"x").over(wCum))
      .withColumn("ph",
        $"cum".cast("double") - $"t" * ($"mu" + delta))
      .withColumn("runmin", min($"ph").over(wCum))
      .withColumn("exc", $"ph" - $"runmin")
      .withColumn("alarm", ($"exc" > lit(3.0) * $"sigma").cast("long"))
    scored.groupBy($"event_type", $"n", $"sigma")
      .agg(sum($"alarm").as("n_alarm_hours"),
        min(when($"alarm" === 1, $"hour")).as("first_alarm"),
        max($"exc").as("max_exc"))
      .select($"event_type", $"n".cast("long").as("n"),
        round(lit(3.0) * $"sigma", 6).as("lambda"),
        $"n_alarm_hours".cast("long").as("n_alarm_hours"),
        $"first_alarm",
        round($"max_exc", 6).as("max_excursion"))
      .orderBy($"event_type")
  }

  val pageHinkleySql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.hour, COALESCE(hourly.cnt, 0) AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN hourly ON hourly.hour = grid.hour
      |    AND hourly.event_type = series.event_type),
      |st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
      |    SQRT((CAST(SUM(x * x) AS DOUBLE)
      |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE) / COUNT(*))
      |      / (COUNT(*) - 1)) AS sigma
      |  FROM dense GROUP BY 1),
      |sc AS (
      |  SELECT d.event_type, d.hour, st.n, st.sigma,
      |    CAST(SUM(d.x) OVER w AS DOUBLE)
      |      - (ROW_NUMBER() OVER w) * (st.mu + 0.5) AS ph
      |  FROM dense d JOIN st ON st.event_type = d.event_type
      |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |ex AS (
      |  SELECT event_type, hour, n, sigma,
      |    ph - MIN(ph) OVER (PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS exc
      |  FROM sc)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |  ROUND(3.0 * MAX(sigma), 6) AS lambda,
      |  CAST(SUM(CASE WHEN exc > 3.0 * sigma THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_alarm_hours,
      |  MIN(CASE WHEN exc > 3.0 * sigma THEN hour END) AS first_alarm,
      |  ROUND(MAX(exc), 6) AS max_excursion
      |FROM ex GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q_ts_turning_points entry: TURNING-POINT TEST of series
    * randomness per event type — count strict local maxima/minima in
    * the 720-hour series and standardize against the i.i.d. null
    * E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 (Kendall). The
    * VALUE-agnostic randomness check beside [[graft.ops.Stats.runsQ]]'s
    * sign-based runs test and [[ljungBoxQ]]'s correlation-based Q: too
    * FEW turning points ⇒ trend/cycles, too MANY ⇒ negative
    * autocorrelation (over-dithered or alternating load). Ties are
    * excluded from turning points by the strict-inequality definition,
    * identical in both engines.
    *
    * Scale shape: one combinable hourly collapse; lag/lead windows on
    * the grid frame; one integer count per type into one IEEE chain. */
  def turningPointsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dense = denseCounts(t(s, dir, "events"), "hour")
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    dense
      .withColumn("xp", lag($"x", 1).over(w))
      .withColumn("xn", lead($"x", 1).over(w))
      .filter($"xp".isNotNull && $"xn".isNotNull)
      .withColumn("tp",
        (($"x" > $"xp" && $"x" > $"xn") ||
          ($"x" < $"xp" && $"x" < $"xn")).cast("long"))
      .groupBy($"event_type")
      .agg((count(lit(1)) + 2).as("n"), sum($"tp").as("t"))
      .select($"event_type", $"n".cast("long").as("n"),
        $"t".cast("long").as("n_turning"),
        round(lit(2.0) * ($"n" - 2) / 3, 6).as("expected"),
        round(($"t".cast("double") - lit(2.0) * ($"n" - 2) / 3) /
          sqrt((lit(16.0) * $"n" - 29) / 90), 6).as("z"))
      .orderBy($"event_type")
  }

  val turningPointsSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.hour, COALESCE(hourly.cnt, 0) AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN hourly ON hourly.hour = grid.hour
      |    AND hourly.event_type = series.event_type),
      |lagged AS (
      |  SELECT event_type, x,
      |    lag(x) OVER w AS xp, lead(x) OVER w AS xn
      |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
      |a AS (
      |  SELECT event_type, COUNT(*) + 2 AS n,
      |    SUM(CASE WHEN (x > xp AND x > xn) OR (x < xp AND x < xn)
      |      THEN 1 ELSE 0 END) AS t
      |  FROM lagged WHERE xp IS NOT NULL AND xn IS NOT NULL
      |  GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  CAST(t AS BIGINT) AS n_turning,
      |  ROUND(2.0 * (n - 2) / 3, 6) AS expected,
      |  ROUND((CAST(t AS DOUBLE) - 2.0 * (n - 2) / 3)
      |    / SQRT((16.0 * n - 29) / 90), 6) AS z
      |FROM a ORDER BY event_type""".stripMargin

  // --- EWMA control chart ---------------------------------------------------

  private val EwmaDays = 30

  /** Shared engine-identical constants (the BootB idiom): every weight
    * is computed ONCE here and embedded as the same literal in the
    * DataFrame plan and the DuckDB SQL, so no cross-engine pow/exp
    * call can diverge. With λ = 1/5: the smoothing recursion unrolls to
    * zₜ = Vₜ·4^{t−T}/5^{t+1} + (4/5)ᵗ·z₀ where
    * Vₜ = Σᵢ≤ₜ xᵢ·5ⁱ·4^{T−i} is an EXACT integer (≤ 5³⁰·x, inside
    * DECIMAL(38,0)) accumulated by an ordered cumsum — the only
    * floating-point steps are the final per-day fixed chains. */
  private[ops] val ewmaU: Seq[BigInt] =
    (1 to EwmaDays).map(i => BigInt(5).pow(i) * BigInt(4).pow(EwmaDays - i))
  private[ops] val ewmaW: Seq[Double] = (1 to EwmaDays).map(t =>
    math.pow(4.0, (t - EwmaDays).toDouble) / math.pow(5.0, (t + 1).toDouble))
  private[ops] val ewmaA: Seq[Double] =
    (1 to EwmaDays).map(t => math.pow(0.8, t.toDouble))
  private[ops] val ewmaB: Seq[Double] = (1 to EwmaDays).map(t =>
    math.sqrt(0.2 / 1.8 * (1.0 - math.pow(0.8, 2.0 * t))))

  /** q_ts_ewma_chart entry: EWMA CONTROL CHART (Roberts 1959) over the dense
    * 30-day per-type count series — completing the detector triad
    * beside the batch CUSUM argmax ([[cusumQ]]) and the online
    * Page–Hinkley alarm ([[pageHinkleyQ]]): zₜ = λxₜ + (1−λ)zₜ₋₁ with
    * λ = 0.2, z₀ = the series mean, alarming when |zₜ − μ| exceeds
    * L·σ·√(λ/(2−λ)·(1−(1−λ)²ᵗ)) at L = 3 — the small-persistent-shift
    * detector Shewhart charts miss and CUSUM only localizes after the
    * fact. Reports alarms, the first alarm day, and the worst
    * limit-relative excursion per type.
    *
    * Determinism: the recursion is UNROLLED into an exact-integer
    * weighted prefix sum (DECIMAL(38,0)) times per-day literal weights
    * shared verbatim by both engines ([[ewmaW]]/[[ewmaA]]/[[ewmaB]] —
    * no engine pow in the data path); μ/σ are exact-moment chains.
    * Scale: calendar-bounded per-type frames after one daily collapse
    * (the [[cusumQ]] shape). */
  def ewmaChartQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val events = t(s, dir, "events")
    val dense = denseCounts(events, "day",
      events.filter($"ts" < lit("2024-01-31").cast("timestamp")))
    val uLit = array(ewmaU.map(u =>
      lit(u.toString).cast("decimal(38,0)")): _*)
    val wLit = array(ewmaW.map(lit(_)): _*)
    val aLit = array(ewmaA.map(lit(_)): _*)
    val bLit = array(ewmaB.map(lit(_)): _*)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val scored = dense
      .withColumn("t", row_number().over(w))
      .withColumn("u", (element_at(uLit, $"t") * $"x").cast("decimal(38,0)"))
      .withColumn("vt", sum($"u").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum($"x").over(wAll))
      // decimal BEFORE the square: x is a per-day aggregate (row
      // scale), so x·x in int64 wraps past x ≈ 3·10⁹ (q_stat_ad class)
      .withColumn("sxx", sum($"x".cast("decimal(19,0)") * $"x").over(wAll))
      .withColumn("mu", $"sx".cast("double") / $"n")
      .withColumn("sig", sqrt(($"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double") / $"n") / ($"n" - 1)))
      .withColumn("z", $"vt".cast("double") * element_at(wLit, $"t") +
        element_at(aLit, $"t") * $"mu")
      .withColumn("lim", lit(3.0) * $"sig" * element_at(bLit, $"t"))
      .withColumn("alarm", (abs($"z" - $"mu") > $"lim").cast("long"))
    scored.groupBy($"event_type")
      .agg(max($"n").cast("long").as("n_days"),
        round(max($"mu"), 6).as("mean_daily"),
        round(max($"sig"), 6).as("stddev_daily"),
        sum($"alarm").cast("long").as("n_alarms"),
        min(when($"alarm" === 1, $"day")).as("first_alarm_day"),
        round(max(when($"lim" > 0, abs($"z" - $"mu") / $"lim")), 6)
          .as("max_rel_excursion"))
      .orderBy($"event_type")
  }

  val ewmaChartSql: String = {
    val uList = ewmaU.map(u => s"CAST('$u' AS DECIMAL(38,0))")
      .mkString("[", ", ", "]")
    val wList = ewmaW.mkString("[", ", ", "]")
    val aList = ewmaA.mkString("[", ", ", "]")
    val bList = ewmaB.mkString("[", ", ", "]")
    s"""WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS cnt
      |  FROM events WHERE ts < TIMESTAMP '2024-01-31' GROUP BY 1, 2),
      |grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2024-01-30 00:00:00', INTERVAL 1 DAY)) AS day),
      |series AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT series.event_type, grid.day, COALESCE(daily.cnt, 0) AS x
      |  FROM grid CROSS JOIN series
      |  LEFT JOIN daily ON daily.day = grid.day
      |    AND daily.event_type = series.event_type),
      |tu AS (
      |  SELECT event_type, day, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
      |  FROM dense),
      |sc AS (
      |  SELECT event_type, day, x, t,
      |    SUM(CAST(list_extract($uList, t) * x AS DECIMAL(38,0)))
      |      OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vt,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(x) OVER (PARTITION BY event_type) AS sx,
      |    SUM(CAST(x * x AS DECIMAL(38,0)))
      |      OVER (PARTITION BY event_type) AS sxx
      |  FROM tu),
      |zz AS (
      |  SELECT event_type, day,
      |    CAST(sx AS DOUBLE) / n AS mu,
      |    SQRT((CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)) AS sig,
      |    CAST(vt AS DOUBLE) * list_extract($wList, t)
      |      + list_extract($aList, t) * (CAST(sx AS DOUBLE) / n) AS z,
      |    3.0 * SQRT((CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))
      |      * list_extract($bList, t) AS lim,
      |    n
      |  FROM sc),
      |al AS (
      |  SELECT *, CASE WHEN ABS(z - mu) > lim THEN 1 ELSE 0 END AS alarm
      |  FROM zz)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
      |  ROUND(MAX(mu), 6) AS mean_daily,
      |  ROUND(MAX(sig), 6) AS stddev_daily,
      |  CAST(SUM(alarm) AS BIGINT) AS n_alarms,
      |  MIN(CASE WHEN alarm = 1 THEN day END) AS first_alarm_day,
      |  ROUND(MAX(CASE WHEN lim > 0 THEN ABS(z - mu) / lim END), 6)
      |    AS max_rel_excursion
      |FROM al GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ts_ewma_chart" -> ewmaChartQ,
    "q_ts_turning_points" -> turningPointsQ,
    "q_ts_page_hinkley" -> pageHinkleyQ,
    "q_ts_dtw_band" -> dtwBandQ,
    "q_ts_dtw" -> dtwQ,
    "q_ts_walsh" -> walshQ,
    "q_ts_ljungbox" -> ljungBoxQ,
    "q_ts_mase" -> maseQ,
    "q_stat_dw" -> dwQ,
    "q_ts_reconcile" -> reconcileQ,
    "q_ts_changepoint" -> changepointQ,
    "q_ts_croston" -> crostonQ,
    "q_ts_ar2" -> ar2Q,
    "q_ts_hurst" -> hurstQ,
    "q_ts_sax" -> saxQ,
    "q_ts_sax_dist" -> saxDistQ,
    "q_ts_backtest" -> backtestQ,
    "q_ts_xcorr" -> xcorrQ,
    "q_ts_holt" -> holtQ,
    "q_ts_holt_winters" -> holtWintersQ,
    "q_ts_theilsen" -> theilSenQ,
    "q_ts_expfit" -> expfitQ,
    "q_ts_decompose" -> decomposeQ,
    "q_ts_resample" -> resampleQ,
    "q_ts_ewma" -> ewmaQ,
    "q_ts_seasonal" -> seasonalQ,
    "q_ts_cusum" -> cusumQ,
    "q_ts_dow_profile" -> dowProfileQ,
    "q_ts_trend" -> trendQ,
    "q_ts_interarrival" -> interarrivalQ,
    "q_ts_concurrency" -> concurrencyQ)

  def oracle: Map[String, String] = Map(
    "q_ts_ewma_chart" -> ewmaChartSql,
    "q_ts_turning_points" -> turningPointsSql,
    "q_ts_page_hinkley" -> pageHinkleySql,
    "q_ts_dtw_band" -> dtwBandSql,
    "q_ts_dtw" -> dtwSql,
    "q_ts_walsh" -> walshSql,
    "q_ts_ljungbox" -> ljungBoxSql,
    "q_ts_mase" -> maseSql,
    "q_stat_dw" -> dwSql,
    "q_ts_reconcile" -> reconcileSql,
    "q_ts_changepoint" -> changepointSql,
    "q_ts_croston" -> crostonSql,
    "q_ts_ar2" -> ar2Sql,
    "q_ts_hurst" -> hurstSql,
    "q_ts_sax" -> saxSql,
    "q_ts_sax_dist" -> saxDistSql,
    "q_ts_backtest" -> backtestSql,
    "q_ts_xcorr" -> xcorrSql,
    "q_ts_holt" -> holtSql,
    "q_ts_holt_winters" -> holtWintersSql,
    "q_ts_theilsen" -> theilSenSql,
    "q_ts_expfit" -> expfitSql,
    "q_ts_decompose" -> decomposeSql,
    "q_ts_resample" -> resampleSql,
    "q_ts_ewma" -> ewmaSql,
    "q_ts_seasonal" -> seasonalSql,
    "q_ts_cusum" -> cusumSql,
    "q_ts_dow_profile" -> dowProfileSql,
    "q_ts_trend" -> trendSql,
    "q_ts_interarrival" -> interarrivalSql,
    "q_ts_concurrency" -> concurrencySql)
}
