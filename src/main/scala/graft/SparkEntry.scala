package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One per-family query registry under entries/: its gated entries and
  * their DuckDB mirrors, keyed by the same names. */
private[graft] trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** Query contract — see SURVEY.md §7.
  *
  * Every `queries` entry has a DuckDB mirror in `oracleSql` under the same
  * name (generated by [[graft.sources.OracleSql]]); RegistrySpec pins that
  * the two key sets are equal.
  *
  * Parity rules: aliases identical on both sides; computed integer columns
  * are LongType (DuckDB computes BIGINT); aggregate-derived doubles are
  * `round(_, 4)` on both sides (summation order differs across engines);
  * surrogate keys are deterministic `row_number` over unique natural keys so
  * they ARE compared; `data_cadastro`/`data_carga` (current-date stamps) are
  * excluded (SURVEY §7.4).
  *
  * Session rule: an entry reads no ANSI setting and no session time zone,
  * and sets no conf on the caller's session. Each plan carries its own
  * semantics: parses that may fail use the `try_` forms, and time
  * truncation goes through the UTC helper `GraftFunctions.truncUtc`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Warehouse.build(spark, "/root/testdata/sf0.001").fatoVendas

  /** The per-family registries, in the order their entries were written.
    * No name is defined by two families (RegistrySpec), so merging them
    * loses nothing. */
  private[graft] val families: Seq[QueryFamily] = Seq(
    ParityQueries, OlapQueries, WarehouseQueries, DedupQueries,
    SimilarityQueries, TextQueries, EventsQueries, MultimodalQueries,
    ScdQueries, OlapBreadthQueries, CurationQueries, SketchesQueries,
    ReportQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  def oracleSql: Map[String, String] = families.flatMap(_.oracleSql).toMap
}
