package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** OlapBreadth-family query registry. */
private[graft] object OlapBreadthQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- OLAP breadth: grouping sets / unpivot / rank family --------------
    "q_grouping_sets" -> ((s, dir) => {
      val (rf, ls) = (col("l_returnflag"), col("l_linestatus"))
      Crm.table(s, dir, "lineitem")
        .groupingSets(Seq(Seq(rf), Seq(ls), Seq(rf, ls)), rf, ls)
        .agg(count(lit(1)).as("n_rows"),
          grouping(rf).cast("long").as("g_rf"), grouping(ls).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), rf.asc_nulls_first, ls.asc_nulls_first)
    }),
    "q_unpivot" -> ((s, dir) => {
      // wide per-nation metrics → long (nationkey, metric, value) via the
      // native melt operator (narrow, no shuffle beyond the input aggs)
      val cu = Crm.table(s, dir, "customer").groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_customers"))
      val su = Crm.table(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_suppliers"))
      cu.join(su, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .unpivot(Array(col("nationkey")),
          Array(col("n_customers"), col("n_suppliers")), "metric", "value")
        .orderBy(col("nationkey"), col("metric"))
    }),
    "q_window_ranks" -> ((s, dir) => {
      // rank family over (priority, year) groups — the partition key is
      // composite so no partition grows with a single attribute's skew;
      // bucketed prices create real ties (rank ≠ dense_rank).
      import graft.functions.GraftFunctions.detRound
      val o = Crm.table(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (floor(col("o_totalprice") / 10000) * 10000).cast("long").as("price_bucket"))
      val w = Window.partitionBy(col("o_orderpriority"), col("o_year"))
        .orderBy(col("price_bucket").desc)
      o.withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("dense_rnk", dense_rank().over(w).cast("long"))
        .withColumn("pct_rank", detRound(percent_rank().over(w), 6))
        .withColumn("cume", detRound(cume_dist().over(w), 6))
        .orderBy(col("o_orderpriority"), col("o_year"),
          col("price_bucket").desc, col("o_orderkey"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus))
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_unpivot" ->
      """WITH base AS (
        |  SELECT COALESCE(c.nk, s.nk) AS nationkey,
        |         COALESCE(c.n_customers, 0) AS n_customers,
        |         COALESCE(s.n_suppliers, 0) AS n_suppliers
        |  FROM (SELECT c_nationkey AS nk, count(*) AS n_customers
        |        FROM customer GROUP BY 1) c
        |  FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_suppliers
        |        FROM supplier GROUP BY 1) s
        |    ON c.nk = s.nk)
        |SELECT nationkey, 'n_customers' AS metric, n_customers AS value FROM base
        |UNION ALL
        |SELECT nationkey, 'n_suppliers' AS metric, n_suppliers AS value FROM base
        |ORDER BY nationkey, metric""".stripMargin,
    "q_window_ranks" -> {
      val w = "OVER (PARTITION BY o_orderpriority, o_year ORDER BY price_bucket DESC)"
      s"""WITH o AS (SELECT o_orderkey, o_orderpriority,
        |        CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |        CAST(floor(o_totalprice / 10000) * 10000 AS BIGINT) AS price_bucket
        |      FROM orders)
        |SELECT o_orderkey, o_orderpriority, o_year, price_bucket,
        |  CAST(rank() $w AS BIGINT) AS rnk,
        |  CAST(dense_rank() $w AS BIGINT) AS dense_rnk,
        |  ${O.detRoundSql(s"percent_rank() $w", 6)} AS pct_rank,
        |  ${O.detRoundSql(s"cume_dist() $w", 6)} AS cume
        |FROM o ORDER BY o_orderpriority, o_year, price_bucket DESC, o_orderkey""".stripMargin
    })
}
