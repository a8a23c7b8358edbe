package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Olap-family query registry. */
private[graft] object OlapQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- OLAP coverage: rollup/pivot/windows/percentiles/set-ops/Q3/asof --
    "q_rollup" -> ((s, dir) =>
      operators.Olap.rollupQuantities(Crm.table(s, dir, "lineitem"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "q_pivot" -> ((s, dir) =>
      operators.Olap.pivotEventCounts(Crm.table(s, dir, "events"), EventTypes).orderBy(col("hora"))),
    "q_window_running" -> ((s, dir) =>
      operators.Olap.runningTotals(Crm.table(s, dir, "orders"))
        .orderBy(col("o_custkey"), col("order_seq"))),
    "q_percentile" -> ((s, dir) =>
      operators.Olap.pricePercentiles(Crm.table(s, dir, "lineitem")).orderBy(col("l_returnflag"))),
    "q_set_ops" -> ((s, dir) =>
      operators.Olap.customerYearSetOps(Crm.table(s, dir, "orders"), 1996, 1997)
        .orderBy(col("tag"), col("o_custkey"))),
    "q_set_ops_all" -> ((s, dir) =>
      operators.Olap.customerYearSetOpsAll(Crm.table(s, dir, "orders"), 1996, 1997)
        .orderBy(col("tag"), col("o_custkey"))),
    "q_gapfill" -> ((s, dir) =>
      operators.Olap.hourlyGapFill(Crm.table(s, dir, "events"))
        .orderBy(col("hora"), col("event_type"))),
    "q_olap_pricing" -> ((s, dir) =>
      operators.Olap.pricingSummary(Crm.table(s, dir, "customer"), Crm.table(s, dir, "orders"), Crm.table(s, dir, "lineitem"),
        segment = "BUILDING", cutoff = "1998-01-01", k = 10)),
    "q_asof_join" -> ((s, dir) =>
      operators.Olap.asofPriorEvent(Crm.table(s, dir, "events"), "view", "click")
        .orderBy(col("event_id"))),
    "q_json_extract" -> ((s, dir) =>
      // semi-structured props column: JSON field extraction + aggregation
      Crm.table(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),
    "q_window_ntile" -> ((s, dir) => {
      // Scale-safe global ntile (r2 verdict #2): a bare Window.orderBy would
      // pull the whole table through one WindowExec task. Instead: dense
      // global rank via the two-pass offset scheme (no single-partition
      // stage), then arithmetic bucketing — SQL ntile gives the first
      // (n mod k) tiles ceil(n/k) rows and the rest floor(n/k).
      val k = 4
      val src = Crm.table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val ranked = Surrogate.zipWithIndexOrdered(
        src, "rk", Seq(col("o_totalprice"), col("o_orderkey")))
      // row count taken from the SOURCE projection (ranking preserves it) —
      // counting over `ranked` would re-execute the whole two-pass rank
      // pipeline a second time just to learn n (r4 profile: ~2× the query)
      val total = src.groupBy().agg(count(lit(1)).as("__n"))
      val base = floor(col("__n") / k)
      val rem = col("__n") % k
      ranked.join(broadcast(total))
        .withColumn("quartile",
          when(col("rk") <= rem * (base + 1),
            floor((col("rk") - 1) / (base + 1)) + 1)
            .otherwise(rem + floor((col("rk") - 1 - rem * (base + 1)) / base) + 1)
            .cast("long"))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.GraftFunctions.detRound(min(col("o_totalprice")), 2).as("min_price"),
          graft.functions.GraftFunctions.detRound(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("quartile"))
    }),
    "q_range_join" -> ((s, dir) => {
      // time-range join: per purchase, views by the same user in the
      // preceding 10 minutes — equi key (user_id) + interval predicate; the
      // equi part keeps it a hash/SMJ join, never a cartesian.
      val ev = Crm.table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("u"), col("ts").as("pts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"))
      purchases.join(views,
        col("u") === col("user_id") &&
          col("vts") <= col("pts") &&
          col("vts") >= col("pts") - expr("INTERVAL 10 MINUTES"), "left")
        .groupBy(col("event_id"), col("u").as("user_id"), col("pts"))
        .agg(count(col("vts")).as("n_prior_views"))
        .orderBy(col("event_id"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_pivot" -> {
      val cols = EventTypes.map(t =>
        s"count(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n ")
      s"""SELECT date_trunc('hour', ts) AS hora,
        | $cols
        |FROM events GROUP BY 1 ORDER BY hora""".stripMargin
    },
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        | row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq,
        | lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders ORDER BY o_custkey, order_seq""".stripMargin,
    "q_percentile" ->
      s"""SELECT l_returnflag,
        | ${O.detRoundSql("quantile_cont(l_extendedprice, 0.25)", 4)} AS p25,
        | ${O.detRoundSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
        | ${O.detRoundSql("quantile_cont(l_extendedprice, 0.75)", 4)} AS p75,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_set_ops" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1996' AS tag, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1997' AS tag, o_custkey FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
        |ORDER BY tag, o_custkey""".stripMargin,
    "q_set_ops_all" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1996' AS tag, o_custkey FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1997' AS tag, o_custkey FROM (SELECT o_custkey FROM b EXCEPT ALL SELECT o_custkey FROM a)
        |ORDER BY tag, o_custkey""".stripMargin,
    "q_gapfill" ->
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hora, event_type, count(*) AS n,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hora) AS lo, max(hora) AS hi FROM h),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hora FROM b),
        |spine AS (SELECT hours.hora, ty.event_type
        |          FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty)
        |SELECT s.hora, s.event_type, CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
        | ${O.detRoundSql("last_value(h.v IGNORE NULLS) OVER (PARTITION BY s.event_type ORDER BY s.hora ROWS UNBOUNDED PRECEDING)", 4)} AS carried_value
        |FROM spine s LEFT JOIN h ON s.hora = h.hora AND s.event_type = h.event_type
        |ORDER BY s.hora, s.event_type""".stripMargin,
    "q_olap_pricing" ->
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
        | ${O.detRoundSql(O.stableSumScaledSql("l_extendedprice * (1 - l_discount)", 4), 2)} AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_asof_join" ->
      """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, v.ts AS prior_ts
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY event_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        | count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k,
        | min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_window_ntile" ->
      s"""SELECT quartile, count(*) AS n_orders,
        | ${O.detRoundSql("min(o_totalprice)", 2)} AS min_price,
        | ${O.detRoundSql("max(o_totalprice)", 2)} AS max_price
        |FROM (SELECT o_totalprice,
        |        ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
        |      FROM orders)
        |GROUP BY quartile ORDER BY quartile""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id, user_id AS u, ts AS pts FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.u AS user_id, p.pts,
        | count(v.vts) AS n_prior_views
        |FROM p LEFT JOIN v
        |  ON p.u = v.user_id AND v.vts <= p.pts
        |     AND v.vts >= p.pts - INTERVAL 10 MINUTE
        |GROUP BY p.event_id, p.u, p.pts
        |ORDER BY p.event_id""".stripMargin)
}
