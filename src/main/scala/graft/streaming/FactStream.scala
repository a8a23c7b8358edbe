package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental (streaming) fact load — the capability the reference's
  * one-shot batch rebuild lacks (etl_completo.py drops and reloads both
  * databases per run): new sale headers arrive as a stream, join the static
  * item lines and broadcast dimensions, and append into the DW. The
  * pipeline is the SAME `Fact.fatoVendasNoSk` dataflow as the batch loader
  * (shared code, provably identical semantics), run as a stream-static
  * join.
  *
  * Scale design: the plan is STATELESS — dimension lookups are broadcast
  * stream-static joins and the header⋈lines join streams against a static
  * side, so there is no state store, no watermark bookkeeping, and
  * micro-batch size is bounded by the source trigger alone. At 100 TB the
  * static line-items side would be the stream too (both sides keyed on
  * id_venda ⇒ a watermarked stream-stream join), or the lines arrive
  * pre-joined from the OLTP CDC feed.
  */
object FactStream {

  /** The orders stream's declared schema: the stored table's. */
  val ordersSchema: StructType = graft.sources.Crm.schemas("orders")

  /** Run the incremental fact load over the bounded source to completion
    * (AvailableNow + PARQUET sink — the DW-append shape; a memory sink
    * would collect the whole fact to the driver, a non-starter at scale)
    * and return a reader over the appended output. The result equals the
    * batch fact build minus the surrogate key — which is exactly what the
    * DuckDB oracle checks. The output and its checkpoint live in a temp
    * directory deleted at JVM exit.
    *
    * Runs directly on the caller's session: with no stateful operator there
    * is no state-partition pinning to isolate (contrast
    * [[EventsStream.runToCompletion]]).
    */
  def incrementalFact(spark: SparkSession, dir: String,
                      dimTempo: DataFrame, dimCliente: DataFrame, dimProduto: DataFrame,
                      dimVendedor: DataFrame, dimLoja: DataFrame,
                      name: String): DataFrame =
    incrementalFactTo(spark, dir, dimTempo, dimCliente, dimProduto, dimVendedor,
      dimLoja, graft.QueryShared.tempDir(name))

  /** Caller-owned output/checkpoint root: `$out/data` is the appended fact,
    * `$out/ckpt` the streaming checkpoint. Re-invoking with the SAME root
    * after new order files land processes ONLY the delta (the checkpoint
    * records which source files are done) and appends — exactly-once
    * incremental top-up, the operational mode a nightly 100 TB feed runs in.
    */
  def incrementalFactTo(spark: SparkSession, dir: String,
                        dimTempo: DataFrame, dimCliente: DataFrame, dimProduto: DataFrame,
                        dimVendedor: DataFrame, dimLoja: DataFrame,
                        out: String): DataFrame = {
    // FileStreamSource only reads files — the parquet-directory layout. The
    // other locators Crm.table accepts for batch have no streaming PARQUET
    // source, so reject them here; an unguarded orc: would only fail deep
    // in Hadoop with a baffling "No FileSystem for scheme: orc".
    require(graft.sources.Crm.isParquetDir(dir),
      s"incrementalFact streams from a parquet directory; got locator '$dir'")
    // glob: FileStreamSource wants a directory base path (same trick as the
    // events stream readers)
    val orders = spark.readStream.schema(ordersSchema).parquet(s"$dir/orders*")
    val stream = graft.operators.Fact.fatoVendasNoSk(
      graft.sources.Crm.vendasFrom(orders), graft.sources.Crm.itemVendas(spark, dir),
      dimTempo, dimCliente, dimProduto, dimVendedor, dimLoja)
    val q = stream.writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // A zero-batch run (no matching order files yet — the first nightly
    // invocation of a top-up root) commits nothing, so $out/data may not
    // exist; "no new data" must read as an EMPTY fact with the right
    // schema, not an AnalysisException the caller can't tell from a
    // real failure. The stream's own schema is the authoritative one.
    val dataPath = new org.apache.hadoop.fs.Path(s"$out/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dataPath))
      spark.read.schema(stream.schema).parquet(s"$out/data")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        stream.schema)
  }
}
