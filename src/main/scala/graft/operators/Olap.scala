package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{detRound, stableSum2, stableSumScaled, truncUtc}

/** General OLAP operator coverage beyond the reference's ETL surface:
  * grouping sets/rollup, pivot, running windows, exact percentiles, set
  * operations, multi-join pricing-summary (TPC-H Q3 shape), and event-time
  * AS-OF join. Each is a thin, idiomatic Spark plan — Catalyst handles
  * pushdown/broadcast — with a DuckDB mirror in SparkEntry.oracleSql.
  */
object Olap {

  /** ROLLUP(l_returnflag, l_linestatus) with subtotal + grand-total rows.
    * One shuffle; Spark expands the grouping sets map-side.
    */
  def rollupQuantities(lineitem: DataFrame): DataFrame =
    lineitem.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(stableSum2(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** Hour × event-type counts pivoted to one column per type. Explicit value
    * list keeps the schema static (required at 100 TB — a dynamic pivot
    * would scan once just to enumerate columns); empty cells coalesce to 0
    * to match conditional-aggregation semantics.
    */
  def pivotEventCounts(events: DataFrame, types: Seq[String]): DataFrame =
    events.groupBy(truncUtc("hour", col("ts")).as("hora"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("hora") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)

  /** Per-customer running order totals: cumulative sum (exact decimal —
    * float running sums are association-order-dependent across engines),
    * sequence number, and previous order price. One shuffle on o_custkey.
    */
  def runningTotals(orders: DataFrame): DataFrame = {
    val order = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cum = order.rowsBetween(Window.unboundedPreceding, 0)
    orders.select(col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(cum).cast("double")
        .as("running_total"),
      row_number().over(order).cast("long").as("order_seq"),
      lag(col("o_totalprice"), 1).over(order).as("prev_price"))
  }

  /** Exact linear-interpolation percentiles per group (Spark `percentile`,
    * not `percentile_approx` — approx sketches are engine-specific and
    * uncheckable). detRound(4) quantizes away last-ULP interpolation
    * differences between engines.
    */
  def pricePercentiles(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_returnflag"))
      .agg(
        detRound(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        detRound(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        detRound(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        count(lit(1)).as("n_rows"))

  /** Join-key skew diagnostics — the numbers you read BEFORE choosing
    * between a plain shuffle join, AQE skew splitting, and explicit
    * salting (`Skew.saltedEquiJoin`): key count, max/percentile bucket
    * sizes, and `skew_ratio` = max/avg (1.0 = uniform). Two aggregates,
    * the second over the key-frequency table (vocabulary-sized).
    */
  def keySkewStats(df: DataFrame, key: Column): DataFrame = {
    val freq = df.groupBy(key.as("k")).agg(count(lit(1)).as("freq"))
    freq.agg(
        count(lit(1)).as("n_keys"),
        sum(col("freq")).as("n_rows"),
        max(col("freq")).as("max_freq"),
        detRound(expr("percentile(freq, 0.5)"), 4).as("p50_freq"),
        detRound(expr("percentile(freq, 0.99)"), 4).as("p99_freq"))
      .withColumn("skew_ratio",
        detRound(col("max_freq").cast("double") * col("n_keys") / col("n_rows"), 4))
  }

  /** INTERSECT / EXCEPT / UNION over customer activity in two years,
    * tagged into one relation. Distinct set semantics on both engines.
    */
  def customerYearSetOps(orders: DataFrame, yearA: Int, yearB: Int): DataFrame = {
    def custsIn(y: Int) =
      orders.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    val a = custsIn(yearA)
    val b = custsIn(yearB)
    a.intersect(b).select(lit("both").as("tag"), col("o_custkey"))
      .unionAll(a.except(b).select(lit(s"only_$yearA").as("tag"), col("o_custkey")))
      .unionAll(b.except(a).select(lit(s"only_$yearB").as("tag"), col("o_custkey")))
  }

  /** Bag-semantics (ALL) variant of [[customerYearSetOps]]: INTERSECT ALL /
    * EXCEPT ALL keep multiplicities — a customer with 3 orders in each year
    * appears 3× in `both`. Same shuffle shape as the set versions (hash on
    * the key with count bookkeeping instead of distinct).
    */
  def customerYearSetOpsAll(orders: DataFrame, yearA: Int, yearB: Int): DataFrame = {
    def custsIn(y: Int) =
      orders.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    val a = custsIn(yearA)
    val b = custsIn(yearB)
    a.intersectAll(b).select(lit("both").as("tag"), col("o_custkey"))
      .unionAll(a.exceptAll(b).select(lit(s"only_$yearA").as("tag"), col("o_custkey")))
      .unionAll(b.exceptAll(a).select(lit(s"only_$yearB").as("tag"), col("o_custkey")))
  }

  /** Time-series gap-fill: a dense hour × event_type spine (generated, not
    * scanned), left-joined observations, zero-filled counts and
    * forward-filled values (`last` IGNORE NULLS over an unbounded-preceding
    * frame). The window partitions by the series key, so at scale each
    * series fills independently — no global ordering anywhere.
    */
  def hourlyGapFill(events: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{detRound, stableSum2}
    val hourly = events
      .groupBy(truncUtc("hour", col("ts")).as("hora"), col("event_type"))
      .agg(count(lit(1)).as("n"), stableSum2(col("value")).as("v"))
    val hours = hourly.agg(min(col("hora")).as("lo"), max(col("hora")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hora"))
    val spine = hours.crossJoin(broadcast(events.select(col("event_type")).distinct()))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hora"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("hora", "event_type"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
      .withColumn("carried_value", detRound(last(col("v"), ignoreNulls = true).over(w), 4))
      .select("hora", "event_type", "n_events", "carried_value")
  }

  /** TPC-H Q3-shaped pricing summary: segment-filtered customers (broadcast
    * — the filtered dim is tiny) ⋈ date-filtered orders ⋈ date-filtered
    * lineitem, revenue per order, top-k by quantized revenue with
    * deterministic tiebreak. Filters sit directly on the scans so parquet
    * pushdown + AQE broadcast planning both apply.
    */
  def pricingSummary(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                     segment: String, cutoff: String, k: Int): DataFrame = {
    val cut = lit(cutoff).cast("timestamp_ntz") // the date columns' own type: no zone
    val c = customer.filter(col("c_mktsegment") === segment).select(col("c_custkey"))
    val o = orders.filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = lineitem.filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(detRound(stableSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Pearson correlation per group from EXACT quantized sums — the
    * determinism recipe for second-moment statistics: Σx, Σy, Σxy, Σx², Σy²
    * are quantized-to-integer sums (associative ⇒ partition-order-proof;
    * exact while each sum < 2⁵³ — at larger scale promote to DECIMAL sums
    * like q1's), and the correlation is one fixed tree of IEEE mult/div/
    * sqrt over them. Spark's own `corr` streams float partials and is NOT
    * reproducible across partitionings, let alone engines.
    */
  def pearsonByGroup(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    import graft.functions.GraftFunctions.stableSumScaled
    df.select(group.as("grp"), x.cast("double").as("x"), y.cast("double").as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        stableSumScaled(col("x"), 4).as("sx"), stableSumScaled(col("y"), 4).as("sy"),
        stableSumScaled(col("x") * col("y"), 0).as("sxy"),
        stableSumScaled(col("x") * col("x"), 0).as("sxx"),
        stableSumScaled(col("y") * col("y"), 0).as("syy"))
      // A zero-variance side (constant column in a group) makes the
      // denominator 0: DuckDB's x/0 is NULL, Spark's is NaN — pin NULL,
      // the oracle's natural answer. Variances are exact quantized-integer
      // arithmetic, so the === 0 test is exact, never an epsilon guess.
      .withColumn("corr_r", when(
        col("n") * col("sxx") - col("sx") * col("sx") === 0 ||
          col("n") * col("syy") - col("sy") * col("sy") === 0,
        lit(null).cast("double")).otherwise(detRound(
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)))
      .select(col("grp"), col("n"), col("corr_r"))
  }

  /** Lag-k autocorrelation of the daily revenue series — the seasonality
    * probe behind the seasonal-naive forecast (a strong lag-7 r says
    * weekly structure exists; near-zero says don't bother): build the
    * exact-decimal daily series, self-join it at a `lagDays` shift (an
    * equi join on the shifted date — robust to missing days, same trick as
    * the forecast backtest), and run the [[pearsonByGroup]] quantized-sum
    * recipe over the (xₜ, xₜ₋ₖ) pairs. The series table is days-sized, so
    * every step after the first aggregate is calendar-scale, not
    * data-scale.
    */
  def revenueAutocorr(orders: DataFrame, lagDays: Int): DataFrame = {
    import graft.functions.GraftFunctions.stableSumScaled
    val daily = orders.groupBy(col("o_orderdate").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("x"))
    val lagged = daily.select(col("day").as("lday"), col("x").as("y"))
    val pairs = daily.join(lagged, col("day") === date_add(col("lday"), lagDays))
    // GLOBAL aggregate, not a groupBy: a series too short for the lag must
    // still emit its one (n=0, null r) row — the oracle's ungrouped shape
    // (review r5); pearsonByGroup would return zero rows instead
    pairs.agg(count(lit(1)).as("n"),
        stableSumScaled(col("x"), 4).as("sx"), stableSumScaled(col("y"), 4).as("sy"),
        stableSumScaled(col("x") * col("y"), 0).as("sxy"),
        stableSumScaled(col("x") * col("x"), 0).as("sxx"),
        stableSumScaled(col("y") * col("y"), 0).as("syy"))
      .select(lit(lagDays.toLong).as("lag"), col("n"),
        // same zero-variance NULL pin as pearsonByGroup
        when(
          col("n") * col("sxx") - col("sx") * col("sx") === 0 ||
            col("n") * col("syy") - col("sy") * col("sy") === 0,
          lit(null).cast("double")).otherwise(detRound(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)).as("corr_r"))
  }

  /** Two-sample Welch z-test between two segments — the experimentation
    * primitive: means and variances from the same exact quantized sums as
    * [[pearsonByGroup]] (one conditional aggregate, no per-group pass),
    * z from one fixed expression tree, significance at |z| > 1.96. sqrt is
    * IEEE-exact, so unlike t/p-values (which need erf/lgamma from libm)
    * the whole statistic is engine-portable.
    */
  def abTestZ(df: DataFrame, group: Column, value: Column,
              a: String, b: String): DataFrame = {
    import graft.functions.GraftFunctions.stableSumScaled
    def side(tag: String, suffix: String, v: Column) = Seq(
      sum(when(col("g") === tag, 1L).otherwise(0L)).as(s"n_$suffix"),
      stableSumScaled(when(col("g") === tag, v).otherwise(0.0), 4).as(s"s_$suffix"),
      stableSumScaled(when(col("g") === tag, v * v).otherwise(0.0), 0).as(s"ss_$suffix"))
    val aggs = side(a, "a", col("v")) ++ side(b, "b", col("v"))
    df.select(group.as("g"), value.cast("double").as("v"))
      .filter(col("g").isin(a, b))
      .agg(aggs.head, aggs.tail: _*)
      // Degenerate segments go to NULL, matching DuckDB's x/0 = NULL where
      // Spark would produce NaN/Infinity: an empty segment has no mean, a
      // 1-row segment no variance, two constant segments no z.
      .withColumn("mean_a_raw", when(col("n_a") === 0, lit(null).cast("double"))
        .otherwise(col("s_a") / col("n_a")))
      .withColumn("mean_b_raw", when(col("n_b") === 0, lit(null).cast("double"))
        .otherwise(col("s_b") / col("n_b")))
      .withColumn("var_a", when(col("n_a") <= 1, lit(null).cast("double"))
        .otherwise((col("n_a") * col("ss_a") - col("s_a") * col("s_a")) /
          (col("n_a") * (col("n_a") - 1))))
      .withColumn("var_b", when(col("n_b") <= 1, lit(null).cast("double"))
        .otherwise((col("n_b") * col("ss_b") - col("s_b") * col("s_b")) /
          (col("n_b") * (col("n_b") - 1))))
      .withColumn("se2", col("var_a") / col("n_a") + col("var_b") / col("n_b"))
      .withColumn("z", when(col("se2") === 0, lit(null).cast("double"))
        .otherwise(detRound((col("mean_a_raw") - col("mean_b_raw")) /
          sqrt(col("se2")), 4)))
      .select(col("n_a"), col("n_b"),
        detRound(col("mean_a_raw"), 4).as("mean_a"),
        detRound(col("mean_b_raw"), 4).as("mean_b"),
        col("z"), (abs(col("z")) > 1.96).as("significant"))
  }

  /** Robust outlier detection via median absolute deviation: per group,
    * `median`, `MAD = median(|v − median|)`, and the count of rows beyond
    * `k·MAD` — the outlier rule that (unlike mean/stddev z-scores) a few
    * extreme values cannot drag. Three grouped exact-percentile aggregates
    * + two joins, all keyed on the (bounded-cardinality) group.
    *
    * Scale bound (why the exact percentile is acceptable here, the §8.7
    * worst-anchor): Spark's exact `percentile` buffers one (value, count)
    * entry per DISTINCT value per group, so its state is bounded by the
    * VALUE DOMAIN, not the row count — prices are quantity × part-price
    * combinations (a few million entries, ~tens of MB), and the r9/r10
    * sweeps measure the query saturating at ≤5.8× per 10× rows as the
    * domain fills. A genuinely unbounded-domain median (e.g. raw doubles)
    * must switch to the mergeable histogram sketch
    * ([[graft.operators.Sketches.histogramQuantilesByGroup]]) instead.
    *
    * Both medians are detRound(4)-quantized BEFORE the predicate so the
    * `dev > k·MAD` comparison sees bit-identical operands on every engine
    * (exact-percentile interpolation order differs at the last ulp).
    */
  def madOutliers(df: DataFrame, group: Column, value: Column,
                  k: Double = 3.0): DataFrame = {
    val x = df.select(group.as("g"), value.cast("double").as("v"))
    val med = x.groupBy(col("g"))
      .agg(detRound(expr("percentile(v, 0.5)"), 4).as("median"))
    val dev = x.join(med, Seq("g")).withColumn("dev", abs(col("v") - col("median")))
    val mad = dev.groupBy(col("g"))
      .agg(detRound(expr("percentile(dev, 0.5)"), 4).as("mad"))
    dev.join(mad, Seq("g"))
      .groupBy(col("g"))
      .agg(max(col("median")).as("median"), max(col("mad")).as("mad"),
        sum(when(col("dev") > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .withColumnRenamed("g", "grp")
  }

  /** TPC-H Q5-shaped regional revenue: 6-table star join (region → nation →
    * customer/supplier → orders → lineitem) with the Q5 twist — the
    * supplier must share the CUSTOMER's nation — which forces one join
    * predicate (`c_nationkey = s_nationkey`) that is NOT an FK edge. All
    * dimension sides broadcast; the only big⋈big join is orders⋈lineitem
    * on the order key. Revenue sums decimal-scaled, grand order fixed by
    * (revenue desc, n_name).
    */
  def regionalRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
                      supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
                      regionName: String): DataFrame = {
    val n = nation.join(broadcast(region.filter(col("r_name") === regionName)
        .select(col("r_regionkey"))),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = customer.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val s = supplier.select(col("s_suppkey"), col("s_nationkey"))
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount")),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(detRound(stableSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4), 2)
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Event-time AS-OF join, windowed-union formulation: for every `targetType`
    * event, the timestamp of the latest `priorType` event of the same user at
    * or before it. One shuffle on user_id; per-user sorted scan — the
    * Spark-native shape of `ASOF JOIN` (no per-row range probe). At equal
    * timestamps the prior-type row sorts first, so a same-instant prior
    * matches (mirrors `v.ts <= c.ts`).
    */
  def asofPriorEvent(events: DataFrame, priorType: String, targetType: String): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin(priorType, targetType))
      .withColumn("__is_prior", col("event_type") === priorType)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("__is_prior").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("prior_ts",
        last(when(col("__is_prior"), col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === targetType)
      .select(col("event_id"), col("user_id"), col("ts"), col("prior_ts"))
  }

  /** 2-D skyline (Pareto frontier: minimize `mn`, maximize `mx`) without
    * the naive dominance self-join. A point survives iff its mx equals the
    * best mx at its own mn AND strictly beats the best mx at every smaller
    * mn — so the frontier falls out of one group-by (best per distinct mn)
    * plus a prefix-max window over the DISTINCT-mn table. That window is
    * ordered but runs over the post-aggregation table (|distinct mn| rows,
    * not data-sized), the same escape hatch as the histogram sketch's
    * cumulative pass. Ties on both dimensions all stay on the frontier.
    */
  def skyline2d(df: DataFrame, id: Column, minDim: Column, maxDim: Column): DataFrame = {
    val pts = df.select(id.as("id"),
      minDim.cast("double").as("mn"), maxDim.cast("double").as("mx"))
    val perMn = pts.groupBy(col("mn")).agg(max(col("mx")).as("best"))
    val w = Window.orderBy(col("mn")).rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perMn
      .withColumn("prev_best", max(col("best")).over(w))
      .filter(col("prev_best").isNull || col("best") > col("prev_best"))
      .select(col("mn"), col("best"))
    pts.join(broadcast(frontier), Seq("mn"))
      .filter(col("mx") === col("best"))
      .select(col("id"), col("mn"), col("mx"))
  }
}
