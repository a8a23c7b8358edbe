package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Parity-family query registry. */
private[graft] object ParityQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A-series: aggregations ------------------------------------------
    "q1_agg" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{detRound, stableAvg2, stableSum2, stableSumScaled}
      Crm.table(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          stableSum2(col("l_quantity")).as("sum_qty"),
          stableSum2(col("l_extendedprice")).as("sum_base_price"),
          stableSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("sum_disc_price"),
          detRound(stableAvg2(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // ---- SQL interface: temp views + spark.sql + SQL-registered UDF -------
    "q_sql_api" -> ((s, dir) => {
      s.udf.register("graft_clean", graft.functions.PyText.cleanText _)
      sqlOver(s, Crm.localidade(s, dir))(v =>
        s"""SELECT id_localidade, graft_clean(cidade) AS cidade_clean
          |FROM $v ORDER BY id_localidade""".stripMargin)
    }),
    // ---- P-series: scan/project/filter/distinct --------------------------
    "q_scan_project" -> ((s, dir) =>
      Crm.table(s, dir, "customer").filter(col("c_acctbal") > 1000.0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),
    "q_distinct" -> ((s, dir) =>
      Crm.table(s, dir, "customer").select(col("c_mktsegment")).distinct().orderBy(col("c_mktsegment"))),
    // ---- J-series: joins ---------------------------------------------------
    "q_join_inner" -> ((s, dir) =>
      Crm.table(s, dir, "orders").join(Crm.table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          graft.functions.GraftFunctions.detRound(
            graft.functions.GraftFunctions.stableSumScaled(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4), 2).as("revenue"))
        .orderBy(col("o_orderkey"))),
    "q_anti_join" -> ((s, dir) =>
      Crm.table(s, dir, "customer").join(Crm.table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))),
    "q_semi_join" -> ((s, dir) =>
      Crm.table(s, dir, "customer").join(Crm.table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))),
    "q_decorrelated_avg" -> ((s, dir) => {
      val avgPrice = Crm.table(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(graft.functions.GraftFunctions.stableAvg2(col("l_extendedprice")).as("__avg"))
      Crm.table(s, dir, "part").join(avgPrice, col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"),
          graft.functions.GraftFunctions.detRound(coalesce(col("__avg"), lit(0.0)), 4)
            .as("preco_medio"))
        .orderBy(col("p_partkey"))
    }),
    // ---- sort/limit/window -------------------------------------------------
    "q_topk" -> ((s, dir) =>
      Crm.table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),
    "q_window_rownum" -> ((s, dir) =>
      Crm.table(s, dir, "customer")
        .withColumn("rn", row_number()
          .over(Window.partitionBy(col("c_mktsegment")).orderBy(col("c_custkey"))).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"))
        .orderBy(col("c_mktsegment"), col("rn"))),
    "q_surrogate_key" -> ((s, dir) =>
      Surrogate.withSurrogateKey(Crm.table(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        "sk", Seq(col("n_nationkey"))).orderBy(col("n_nationkey"))),
    "q_surrogate_scalable" -> ((s, dir) =>
      // §7.3 scale path: dense 1..N in total key order with NO
      // single-partition window (two-pass partition-offset row_number).
      Surrogate.zipWithIndexOrdered(
        Crm.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        "sk", Seq(col("o_orderkey")))
        .orderBy(col("o_orderkey"))),
    "q_first_match" -> ((s, dir) =>
      // (l_orderkey, l_linenumber) is NOT unique in the testdata, so the
      // tiebreak includes l_partkey to stay deterministic.
      Surrogate.firstMatch(
        Crm.table(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
        Seq(col("l_orderkey")), Seq(col("l_linenumber"), col("l_partkey")))
        .orderBy(col("l_orderkey"))),
    "q_join_full_outer" -> ((s, dir) => {
      val cu = Crm.table(s, dir, "customer").groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_customers"))
      val su = Crm.table(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_suppliers"))
      cu.join(su, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy(col("nationkey"))
    }),
    "q_cube" -> ((s, dir) =>
      Crm.table(s, dir, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "q_array_agg" -> ((s, dir) => {
      // Array outputs are serialized to a CSV string: the driver's pandas
      // comparator cannot sort array-typed cells (r2 verdict), and "1,5,9"
      // is engine-neutral for integer elements.
      Crm.table(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_partkey"))).as("__parts"))
        .select(col("l_orderkey"),
          array_join(col("__parts").cast("array<string>"), ",").as("parts"),
          size(col("__parts")).cast("long").as("n_parts"))
        .orderBy(col("l_orderkey"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q1_agg" -> {
      val avg = "CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount)"
      s"""SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | ${O.stableSumScaledSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
        | ${O.detRoundSql(avg, 6)} AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    },
    "q_sql_api" -> O.withCrm(
      s"""SELECT id_localidade, ${O.cleanOrSql("cidade", "N/A")} AS cidade_clean
        |FROM localidade ORDER BY id_localidade""".stripMargin),
    "q_scan_project" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_acctbal > 1000.0 ORDER BY c_custkey""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q_join_inner" ->
      s"""SELECT o_orderkey, count(*) AS n_items,
        | ${O.detRoundSql(O.stableSumScaledSql("l_extendedprice * (1 - l_discount)", 4), 2)} AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_decorrelated_avg" ->
      s"""SELECT p_partkey, ${O.detRoundSql("COALESCE(a.m, 0.0)", 4)} AS preco_medio
        |FROM part LEFT JOIN (SELECT l_partkey,
        |                       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |                         / count(l_extendedprice) AS m
        |                     FROM lineitem GROUP BY l_partkey) a
        |  ON p_partkey = a.l_partkey
        |ORDER BY p_partkey""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_window_rownum" ->
      """SELECT c_mktsegment, rn, c_custkey FROM (
        | SELECT c_mktsegment, c_custkey,
        |   row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
        | FROM customer) WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin,
    "q_surrogate_key" ->
      """SELECT n_nationkey, n_name,
        | row_number() OVER (ORDER BY n_nationkey) AS sk
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_surrogate_scalable" ->
      """SELECT o_orderkey, o_custkey,
        | row_number() OVER (ORDER BY o_orderkey) AS sk
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_first_match" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
        | SELECT l_orderkey, l_linenumber, l_partkey,
        |   row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
        | FROM lineitem) WHERE rn = 1
        |ORDER BY l_orderkey""".stripMargin,
    "q_join_full_outer" ->
      """WITH cu AS (SELECT c_nationkey AS nk_c, count(*) AS n_customers FROM customer GROUP BY 1),
        |su AS (SELECT s_nationkey AS nk_s, count(*) AS n_suppliers FROM supplier GROUP BY 1)
        |SELECT COALESCE(nk_c, nk_s) AS nationkey,
        | COALESCE(n_customers, 0) AS n_customers,
        | COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM cu FULL OUTER JOIN su ON nk_c = nk_s
        |ORDER BY nationkey""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_array_agg" ->
      """SELECT l_orderkey, array_to_string(list_sort(list(l_partkey)), ',') AS parts,
        | CAST(len(list(l_partkey)) AS BIGINT) AS n_parts
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
}
