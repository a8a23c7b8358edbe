package graft

import org.apache.spark.sql.functions._
import graft.streaming.FactStream

/** Incremental streaming fact load == batch fact build (minus the sk). */
class FactStreamSpec extends SparkSpec {

  test("stream-static incremental fact equals the batch fact") {
    val dir = "/root/testdata/sf0.001"
    val w = Warehouse.build(spark, dir)
    val streamed = FactStream.incrementalFact(spark, dir,
      w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja,
      "fact_stream_spec_sink")

    val batch = w.fatoVendas
    assert(streamed.count() === batch.count())

    // full-row equivalence on the natural grain + all measures/FKs
    val cols = Seq("id_venda", "id_produto", "sk_tempo", "sk_cliente",
      "sk_produto", "sk_vendedor", "sk_loja", "quantidade_vendida",
      "preco_unitario_venda", "valor_total_item", "valor_final",
      "custo_unitario").map(col)
    val a = streamed.select(cols: _*)
    val b = batch.select(cols: _*)
    assert(a.exceptAll(b).count() === 0L, "streamed rows missing from batch")
    assert(b.exceptAll(a).count() === 0L, "batch rows missing from stream")
  }

  test("checkpoint resume: a second run over the same root appends ONLY the delta") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val src = Files.createTempDirectory("fact_incr_src")
    val out = Files.createTempDirectory("fact_incr_out")
    // the static line-items side comes from the same dir
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/lineitem.parquet"),
      src.resolve("lineitem.parquet"), StandardCopyOption.REPLACE_EXISTING)

    def writeOrders(name: String, pred: org.apache.spark.sql.Column): Unit = {
      val tmp = Files.createTempDirectory("fact_incr_w").toFile
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }

    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    def run(): Long = FactStream.incrementalFactTo(spark, src.toString,
      w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja,
      out.toString).count()

    // FIRST invocation before ANY order file lands (the real first nightly
    // run of a top-up root): zero micro-batches commit, no parquet output
    // exists — "no new data" must read back as an EMPTY fact with the
    // stream's schema, not an AnalysisException
    val empty = FactStream.incrementalFactTo(spark, src.toString,
      w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja,
      out.toString)
    assert(empty.count() === 0L)
    assert(empty.columns.contains("id_venda") &&
      empty.columns.contains("valor_final"),
      s"zero-batch schema lost: ${empty.columns.toSeq}")

    writeOrders("orders1.parquet", col("o_orderkey") < 1000)
    val n1 = run()
    assert(n1 > 0)
    // second batch lands; the checkpoint remembers orders1 is done
    writeOrders("orders2.parquet", col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
    val n2 = run()
    assert(n2 > n1, "delta not appended")
    // no duplicates: the total equals one batch build over both order files
    val batchBoth = graft.operators.Fact.fatoVendasNoSk(
      graft.sources.Crm.vendasFrom(
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .filter(col("o_orderkey") < 2000)),
      graft.sources.Crm.itemVendas(spark, "/root/testdata/sf0.001"),
      w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja).count()
    assert(n2 === batchBoth, s"resume produced $n2 rows, batch over both files $batchBoth")
  }

  test("torn top-up: a batch whose commit, or commit and sink log entry, never landed appends each row exactly once on rerun") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sf = "/root/testdata/sf0.001"
    val src = Files.createTempDirectory("fact_torn_src")
    val out = Files.createTempDirectory("fact_torn_out").toString
    Files.copy(Paths.get(s"$sf/lineitem.parquet"), src.resolve("lineitem.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    def land(name: String, lo: Long, hi: Long): Unit = {
      val tmp = Files.createTempDirectory("fact_torn_w").toFile
      orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val w = Warehouse.build(spark, sf)
    def run() = FactStream.incrementalFactTo(spark, src.toString,
      w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja, out)
    // the batch fact over every landed order, each row exactly once
    def assertExactlyOnce(got: org.apache.spark.sql.DataFrame, landedBelow: Long): Unit = {
      val want = graft.operators.Fact.fatoVendasNoSk(
        graft.sources.Crm.vendasFrom(orders.filter(col("o_orderkey") < landedBelow)),
        graft.sources.Crm.itemVendas(spark, sf),
        w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja)
        .select(got.columns.toSeq.map(col): _*)
      assert(got.count() === want.count())
      assert(got.exceptAll(want).isEmpty, "rows appended twice or not in the batch fact")
      assert(want.exceptAll(got).isEmpty, "batch rows missing from the top-up")
    }
    def lastBatch = new java.io.File(s"$out/ckpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    def tear(logDir: String, batch: Long): Unit = {
      assert(new java.io.File(logDir, batch.toString).delete(), s"no entry $batch in $logDir")
      new java.io.File(logDir, s".$batch.crc").delete(): Unit
    }

    land("orders1.parquet", 0L, 500L)
    assertExactlyOnce(run(), 500L)
    // (1) the sink logged the batch but the checkpoint never committed it:
    // the rerun replays the batch, and the sink skips it
    tear(s"$out/ckpt/commits", lastBatch)
    land("orders2.parquet", 500L, 1000L)
    assertExactlyOnce(run(), 1000L)
    // (2) the batch's data files landed, but neither the sink's log entry
    // nor the commit did: the rerun rewrites the batch, and the files of
    // the torn attempt stay outside the sink's log
    def dataFiles = new java.io.File(s"$out/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val torn = lastBatch
    val landed = dataFiles
    tear(s"$out/ckpt/commits", torn)
    tear(s"$out/data/_spark_metadata", torn)
    land("orders3.parquet", 1000L, 1500L)
    assertExactlyOnce(run(), 1500L)
    assert(landed.subsetOf(dataFiles) && dataFiles.size > landed.size,
      "the torn attempt's files stay on disk beside the rewritten batch")
  }

  test("incrementalFact rejects every non-streamable locator with a clear error") {
    // the require fires before any dim is touched, so nulls are never read
    Seq("csv:/x", "json:/x", "jdbc:postgresql://h/db", "orc:/x").foreach { loc =>
      val e = intercept[IllegalArgumentException] {
        FactStream.incrementalFactTo(spark, loc,
          null, null, null, null, null, "/tmp/fact_guard_never")
      }
      assert(e.getMessage.contains("parquet directory"), s"$loc: ${e.getMessage}")
    }
  }
}
