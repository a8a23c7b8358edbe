package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Scd-family query registry. */
private[graft] object ScdQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- DW temporal versioning (SCD Type 2) ------------------------------
    "q_scd2" -> ((s, dir) =>
      operators.Scd.scd2(Crm.table(s, dir, "orders"),
        col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
        .select(col("key").as("o_custkey"), col("version"), col("attr").as("priority"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("version"))),
    // Point-in-time (temporal) lookup against the SCD2 dimension: every
    // probe lands in exactly one [valid_from, valid_to) interval.
    "q_scd2_lookup" -> ((s, dir) => {
      val versions = operators.Scd.scd2(Crm.table(s, dir, "orders"),
        col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      operators.Scd.asOfLookup(
        Crm.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("o_custkey"), col("o_orderdate"), versions)
        .select(col("o_orderkey"), col("o_custkey"), col("version"),
          col("attr").as("priority"), col("valid_from"))
        .orderBy(col("o_orderkey"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_scd2" -> {
      val w = "OVER (PARTITION BY key ORDER BY valid_from)"
      s"""WITH byts AS (SELECT o_custkey AS key, o_orderdate AS valid_from,
        |        min(o_orderpriority) AS priority FROM orders GROUP BY 1, 2),
        |runs AS (SELECT key, valid_from, priority,
        |         lag(priority) $w AS prev FROM byts),
        |starts AS (SELECT key, valid_from, priority FROM runs
        |           WHERE prev IS NULL OR prev <> priority)
        |SELECT key AS o_custkey, CAST(row_number() $w AS BIGINT) AS version, priority,
        |  valid_from, lead(valid_from) $w AS valid_to,
        |  (lead(valid_from) $w IS NULL) AS is_current
        |FROM starts ORDER BY o_custkey, version""".stripMargin
    },
    "q_scd2_lookup" -> {
      val w = "OVER (PARTITION BY key ORDER BY valid_from)"
      s"""WITH byts AS (SELECT o_custkey AS key, o_orderdate AS valid_from,
        |        min(o_orderpriority) AS priority FROM orders GROUP BY 1, 2),
        |runs AS (SELECT key, valid_from, priority,
        |         lag(priority) $w AS prev FROM byts),
        |starts AS (SELECT key, valid_from, priority FROM runs
        |           WHERE prev IS NULL OR prev <> priority),
        |v AS (SELECT key, CAST(row_number() $w AS BIGINT) AS version, priority,
        |        valid_from, lead(valid_from) $w AS valid_to FROM starts)
        |SELECT o.o_orderkey, o.o_custkey, v.version, v.priority, v.valid_from
        |FROM orders o LEFT JOIN v ON o.o_custkey = v.key
        |  AND o.o_orderdate >= v.valid_from
        |  AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
        |ORDER BY o.o_orderkey""".stripMargin
    })
}
