package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import QueryShared._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry has a DuckDB mirror in `oracleSql` (generated by
  * [[graft.sources.OracleSql]]) unless the semantics are not SQL-expressible
  * (UDF-hash based dedup etc. → rows-only check).
  *
  * Parity rules: aliases identical on both sides; computed integer columns
  * are LongType (DuckDB computes BIGINT); aggregate-derived doubles are
  * `round(_, 4)` on both sides (summation order differs across engines);
  * surrogate keys are deterministic `row_number` over unique natural keys so
  * they ARE compared; `data_cadastro`/`data_carga` (current-date stamps) are
  * excluded (SURVEY §7.4).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    prep(spark)
    Warehouse.build(spark, "/root/testdata/sf0.001").fatoVendas
  }

  /** One entry per implemented operator from SURVEY.md §2, assembled from
    * the per-family registries under entries/ (r14 split — VERDICT r13
    * "what's wrong" #4). Concatenation order mirrors the original file
    * order; names are globally unique so ++ is a disjoint union.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.queries ++
    OlapQueries.queries ++
    WarehouseQueries.queries ++
    DedupQueries.queries ++
    SimilarityQueries.queries ++
    TextQueries.queries ++
    EventsQueries.queries ++
    MultimodalQueries.queries ++
    ScdQueries.queries ++
    OlapBreadthQueries.queries ++
    CurationQueries.queries ++
    SketchesQueries.queries ++
    ReportQueries.queries

  def oracleSql: Map[String, String] =
    ParityQueries.oracleSql ++
    OlapQueries.oracleSql ++
    WarehouseQueries.oracleSql ++
    DedupQueries.oracleSql ++
    SimilarityQueries.oracleSql ++
    TextQueries.oracleSql ++
    EventsQueries.oracleSql ++
    MultimodalQueries.oracleSql ++
    ScdQueries.oracleSql ++
    OlapBreadthQueries.oracleSql ++
    CurationQueries.oracleSql ++
    SketchesQueries.oracleSql ++
    ReportQueries.oracleSql
}
