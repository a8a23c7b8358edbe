package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Report-family query registry. */
private[graft] object ReportQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A2/A3 summary report ---------------------------------------------
    "q_report_summary" -> ((s, dir) => {
      val w = Warehouse.build(s, dir)
      val counts = w.tables.map { case (name, df) =>
        df.groupBy().agg(count(lit(1)).as("registros")).select(lit(name).as("tabela"), col("registros"))
      }.reduce(_ unionAll _)
      val total = counts.groupBy().agg(sum(col("registros")).as("registros"))
        .select(lit("TOTAL").as("tabela"), col("registros"))
      counts.unionAll(total).orderBy(col("tabela"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_report_summary" -> O.withDw(O.reportSummarySelect, O.reportSummaryCtes))
}
