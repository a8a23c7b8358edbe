package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{detRound, stableSum2, truncUtc}

/** Event-time analytics over the `events` table (SURVEY.md §7.5 — the
  * reference has no streaming/temporal surface, §2.7). Batch forms here;
  * the Structured Streaming twins live in graft.streaming.EventsStream.
  *
  * Scale notes: hourly aggregates shuffle once on (hour, type);
  * sessionization shuffles once on user_id — the per-user window sort is
  * bounded by a user's own event count, never global.
  */
object Events {

  /** Tumbling 1-hour windows per event type: counts, exact-decimal value
    * sums, distinct users. A truncated hour rather than `window()` so the
    * column shape is plain (and oracle-expressible).
    */
  def hourly(events: DataFrame): DataFrame =
    events.groupBy(truncUtc("hour", col("ts")).as("hora"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        stableSum2(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  /** Gap-based sessionization (30-min inactivity closes a session), the
    * classic two-window form: lag → session-start flags → running sum as
    * session id → per-session aggregates.
    */
  def sessions(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val flagged = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        stableSum2(col("value")).as("session_value"))
  }

  /** Per-user session rollup (the user-level view of [[sessions]]). */
  def userSessionStats(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    sessions(events, gapSeconds)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        detRound(sum(col("n_events")).cast("double") / count(lit(1)), 4)
          .as("avg_session_events"))

  /** Top-N event types per hour by count (deterministic tiebreak on type). */
  def topTypesPerHour(events: DataFrame, n: Int = 2): DataFrame = {
    val counts = events.groupBy(truncUtc("hour", col("ts")).as("hora"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("hora")).orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
  }

  /** Cohort retention: users are cohorted by their first active ISO week;
    * cell (cohort, age) counts users from that cohort active `age` weeks
    * later — the activation/churn curve every growth dashboard runs.
    * Three aggregates and one equi join, all on user_id or the
    * (cohort, age) pair — no windows, no per-user event ordering.
    */
  def retention(events: DataFrame): DataFrame = {
    val weekly = events.select(col("user_id"),
      truncUtc("week", col("ts")).as("week")).distinct()
    val cohort = weekly.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
    weekly.join(cohort, Seq("user_id"))
      .withColumn("age_weeks",
        expr(s"(unix_micros(week) - unix_micros(cohort_week)) div ${7 * 86400000000L}"))
      .groupBy(col("cohort_week"), col("age_weeks"))
      .agg(count(lit(1)).as("n_users")) // weekly is distinct (user, week)
      .join(sizes, Seq("cohort_week"))
      .withColumn("retention_pct",
        detRound(col("n_users").cast("double") / col("cohort_size"), 4))
  }

  /** Hopping (sliding) windows: 2-hour windows advancing every hour, so
    * each event lands in exactly 2 overlapping windows — the smoothing
    * shape rate/limit monitors use. `window(ts, len, slide)` explodes each
    * row into its len/slide windows before ONE map-side-combinable hash
    * aggregate; no self-join of adjacent hours.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("n_users"))

  /** Trailing-window z-score anomaly detection over the hourly series: for
    * each (event_type, hour) count, compare against the mean/stddev of the
    * previous `trail` fully-populated hours of the SAME type and score
    * z = (count − mean) / stddev. The top-|z| rows are the volume anomalies
    * (incident spikes, outage troughs) an ops pipeline alerts on.
    *
    * Cross-engine determinism: mean and variance are derived from INTEGER
    * window sums (Σc, Σc²) — `var = (n·Σc² − (Σc)²) / n²` — so the only
    * floating-point ops are two divisions and one sqrt, all IEEE
    * correctly-rounded; no engine-ordered float accumulation anywhere.
    *
    * Scale: one (type, hour) aggregate shuffle, then per-type windows —
    * bounded by hours-per-type, never global.
    */
  def zscoreAnomalies(events: DataFrame, trail: Int = 24, topK: Int = 50): DataFrame = {
    val counts = events
      .groupBy(col("event_type"), truncUtc("hour", col("ts")).as("hora"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hora"))
      .rowsBetween(-trail, -1)
    val n = lit(trail.toLong)
    val scored = counts
      .withColumn("n_trail", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n_events")).over(w))
      // c² and the Σc² window sum run in DECIMAL(38,0) (the oracle mirrors
      // with HUGEINT): a BIGINT c·c wraps silently in Spark past c ≈ 3e9
      // events per (type, hour) — reachable at 100 TB — while decimal stays
      // exact integer arithmetic (order-independent) to 1e38.
      .withColumn("s2", sum((col("n_events").cast("decimal(19,0)")
        * col("n_events")).cast("decimal(38,0)")).over(w))
      .filter(col("n_trail") === trail)
      // integer numerators first; one divide each — deterministic
      .withColumn("mean", col("s1").cast("double") / n)
      .withColumn("variance",
        (n * col("s2") - col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
          .cast("double") / (n * n))
      .filter(col("variance") > 0)
      .withColumn("z",
        detRound((col("n_events").cast("double") - col("mean")) / sqrt(col("variance")), 4))
    scored.select(col("event_type"), col("hora"), col("n_events"),
        detRound(col("mean"), 4).as("trail_mean"), col("z"))
      .orderBy(abs(col("z")).desc, col("event_type"), col("hora"))
      .limit(topK)
  }

  /** Ordered funnel: stage k counts users whose first qualifying stage-k
    * event happens AT OR AFTER their first qualifying stage-(k-1) event.
    * Each stage is one filtered aggregate + one equi-join against the
    * (shrinking, user-keyed) reached set — no windows, no per-user event
    * ordering shuffle; the per-stage frontier is the only state.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    var reached: DataFrame = null
    stages.zipWithIndex.map { case (stage, i) =>
      val ev = events.filter(col("event_type") === stage)
        .select(col("user_id"), col("ts"))
      reached =
        if (i == 0) ev.groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        else ev.join(reached.select(col("user_id"), col("t").as("__prev")), Seq("user_id"))
          .filter(col("ts") >= col("__prev"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      reached.groupBy().agg(count(lit(1)).as("n_users"))
        .select(lit((i + 1).toLong).as("stage"), lit(stage).as("event_type"), col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Seasonal-naive forecast backtest: predict each (event_type, day)'s
    * volume as the volume `lagDays` earlier, score every day that has a
    * counterpart, and report per-series MAE and signed bias — the baseline
    * every forecasting pipeline must beat, and the cheapest data-drift
    * alarm (MAE jumps when the weekly shape breaks).
    *
    * Forecast = equi self-join on the shifted day (robust to missing days,
    * unlike a lag-7 row window) — one shuffle on (type, day); error sums
    * are integer counts, so only the final MAE division is floating point.
    */
  def seasonalNaiveBacktest(events: DataFrame, lagDays: Int = 7): DataFrame = {
    val daily = events.select(truncUtc("day", col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("actual"))
    val fc = daily.select(col("event_type"),
      expr(s"day + make_interval(0, 0, 0, $lagDays, 0, 0, 0)").as("day"),
      col("actual").as("forecast"))
    daily.join(fc, Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days_scored"),
        sum(abs(col("actual") - col("forecast"))).as("abs_err_sum"),
        sum(col("actual") - col("forecast")).as("bias_sum"))
      .withColumn("mae",
        detRound(col("abs_err_sum").cast("double") / col("n_days_scored"), 4))
      .select(col("event_type"), col("n_days_scored"), col("mae"),
        col("abs_err_sum"), col("bias_sum"))
  }
}
