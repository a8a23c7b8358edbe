package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Warehouse}
import graft.functions.GraftFunctions.detRound
import graft.operators.{Curation, Dedup, Dims, Fact}
import graft.sources.Crm
import graft.streaming.FactStream

/** Inputs of one run: the tables, the seeded top-up delta files, a scratch
  * directory and the seed; `expected` holds the stored oracle checksums. */
final case class Env(data: String, deltas: String, work: String, seed: Long) {
  val expected: mutable.Map[String, Checksum] = mutable.Map.empty
  def expect(name: String, got: Checksum): Option[String] =
    expected.get(name) match {
      case Some(e) if e == got => None
      case Some(e) => Some(s"$name: got $got, oracle $e")
      case None => Some(s"$name: no oracle checksum")
    }
}

/** The result of checking one op's output: the rows of work it did and the
  * first mismatch, if any. */
final case class Verdict(rows: Long, error: Option[String]) {
  def and(o: Verdict): Verdict = Verdict(rows + o.rows, error.orElse(o.error))
}

/** A closed-loop workload with one client. `op` does one unit of work and
  * returns the check of its output, which runs after the op is timed. Ops
  * come in rounds of `roundSize`; a run ends on a round boundary. */
abstract class Workload(val env: Env) {
  /** Preparation on a fresh session, timed as part of setup_s. */
  def setup(spark: SparkSession): Unit
  def op(spark: SparkSession, i: Int, tr: Tracer): () => Verdict
  def roundSize: Int = 1
  /** Whether an untimed round runs first, so timed rounds meet warm code
    * and filled caches. */
  def warmUp: Boolean = false
  /** Whether inputs remain for op `i`. */
  def hasInput(i: Int): Boolean = true
  /** Checks that need the whole run; returns the mismatches. */
  def finish(spark: SparkSession): Seq[String] = Nil
  /** Sink bytes (data and checkpoint) per fact row written. */
  def dwBytesPerRow: Double
}

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "nightly_batch" => new NightlyBatch(env)
    case "daytime_mix" => new DaytimeMix(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Oracle entries each workload's checks compare against. */
  val oracles: Map[String, Seq[String]] = Map(
    "nightly_batch" -> Seq("q_fato_vendas", "q_report_summary", "q_curation", "q_dedup_minhash"),
    "daytime_mix" -> BiEntries.entries)

  /** Bytes and regular files under `dir`. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
  }

  /** Cache and count `df` (a layer output, at its span boundary). */
  def materialize(tr: Tracer, key: String, df: DataFrame): DataFrame = {
    df.cache()
    tr.count(key, df.count())
    df
  }

  /** The physical plan that filled `df`'s cache entry. */
  def cachedPlan(df: DataFrame): Option[SparkPlan] =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }
}

import Workload._

/** The nightly batch, nothing reused between ops: each op takes a fresh
  * session clone with an empty cache, builds the star schema with
  * Warehouse.build, writes it to parquet with Warehouse.write, then curates
  * and near-dup-pairs the document corpus with Curation.curate and
  * Dedup.minhashLshPairs. There is no warm-up: a nightly batch runs in a
  * fresh JVM, so the first, cold build is the one that counts. Checked against
  * the q_fato_vendas, q_report_summary, q_curation and q_dedup_minhash
  * oracles. */
final class NightlyBatch(env: Env) extends Workload(env) {
  private var bytes, factRows = 0L
  private var docs = 0L

  def setup(spark: SparkSession): Unit =
    docs = spark.read.parquet(s"${env.data}/documents.parquet").count()

  def op(spark: SparkSession, i: Int, tr: Tracer): () => Verdict = {
    val out = s"${env.work}/nightly/op-$i"
    val ss = spark.newSession()
    ss.catalog.clearCache()
    if (tr.traced) tracedBuild(ss, out, tr) else Warehouse.build(ss, env.data).write(out)
    val curated = curate(ss, tr)
    () => verifyWarehouse(spark, out).and(curated())
  }

  /** The same build as Warehouse.build, one span per layer call, with each
    * layer's output cached and counted at the span's end. */
  private def tracedBuild(ss: SparkSession, out: String, tr: Tracer): Unit = {
    val d = env.data
    def src(name: String)(df: => DataFrame) = tr.span(s"sources.$name")(materialize(tr, "sources.rows_out", df))
    def dim(name: String)(df: => DataFrame) = tr.span(s"dims.$name")(materialize(tr, "dims.rows_out", df))
    val localidade = src("localidade")(Crm.localidade(ss, d))
    val categoriaCliente = src("categoria_cliente")(Crm.categoriaCliente(ss, d))
    val categoriaProduto = src("categoria_produto")(Crm.categoriaProduto(ss, d))
    val fornecedores = src("fornecedores")(Crm.fornecedores(ss, d))
    val cliente = src("cliente")(Crm.cliente(ss, d))
    val produto = src("produto")(Crm.produto(ss, d))
    val vendedor = src("vendedor")(Crm.vendedor(ss, d))
    val lojas = src("lojas")(Crm.lojas(ss, d))
    val promocoes = src("promocoes")(Crm.promocoes(ss, d))
    val vendas = src("vendas")(Crm.vendas(ss, d))
    val items = src("item_vendas")(Crm.itemVendas(ss, d))
    val dimLocalidade = dim("localidade")(Dims.dimLocalidade(localidade))
    val dimCategoriaCliente = dim("categoria_cliente")(Dims.dimCategoriaCliente(categoriaCliente))
    val dimCategoriaProduto = dim("categoria_produto")(Dims.dimCategoriaProduto(categoriaProduto))
    val dimFornecedor = dim("fornecedor")(Dims.dimFornecedor(fornecedores))
    val dimCliente = dim("cliente")(Dims.dimCliente(cliente, dimCategoriaCliente, dimLocalidade))
    val dimProduto = dim("produto")(Dims.dimProduto(produto, items, dimCategoriaProduto))
    val dimVendedor = dim("vendedor")(Dims.dimVendedor(vendedor))
    val dimLoja = dim("loja")(Dims.dimLoja(lojas, dimLocalidade))
    val dimPromocao = dim("promocao")(Dims.dimPromocao(promocoes))
    val dimTempo = dim("tempo")(Dims.dimTempo(ss))
    val fato = tr.span("fact.fato_vendas") {
      materialize(tr, "fact.rows_out", Fact.fatoVendas(vendas, items, dimTempo, dimCliente,
        dimProduto, dimVendedor, dimLoja))
    }
    tr.span("trace.fact_counts") {
      tr.count("fact.rows_in", items.count())
      tr.count("fact.smj_count", cachedPlan(fato).fold(0)(PlanWalk.smjCount))
      tr.count("fact.null_sk_rows", fato.filter(
        Seq("sk_tempo", "sk_cliente", "sk_produto", "sk_vendedor", "sk_loja")
          .map(c => col(c).isNull).reduce(_ || _)).count())
    }
    tr.span("warehouse.write") {
      Warehouse(dimLocalidade, dimCategoriaCliente, dimCategoriaProduto, dimFornecedor,
        dimCliente, dimProduto, dimVendedor, dimLoja, dimPromocao, dimTempo, fato).write(out)
    }
    tr.span("trace.sink_counts") {
      val (b, n) = du(out)
      tr.count("warehouse.bytes_written", b)
      tr.count("warehouse.files_written", n)
    }
  }

  /** Curation and MinHash-LSH pairs over the corpus; returns their check. */
  private def curate(ss: SparkSession, tr: Tracer): () => Verdict = {
    val corpus = ss.read.parquet(s"${env.data}/documents.parquet")
    val curated = Curation.curate(corpus, "doc_id", "text", lang = "en", minQuality = 0.45,
      sampleFraction = 0.5)
    val kept = tr.span("curation.curate") {
      val r = curated.collect()
      tr.count("curation.docs_in", docs)
      tr.count("curation.docs_kept", r.length)
      r
    }
    val (pairSchema, pairs) = tr.span("dedup.minhash_lsh") {
      val p = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      val r = p.collect()
      tr.count("dedup.verified_pairs", r.length)
      tr.count("dedup.candidate_pairs", cachedPlan(p).fold(0L)(candidatePairs))
      p.unpersist()
      (p.schema.fieldNames.toSeq, r)
    }
    () => Verdict(docs,
      env.expect("q_curation", Check.of(curated.schema.fieldNames.toSeq, kept))
        .orElse(env.expect("q_dedup_minhash", Check.of(pairSchema, pairs))))
  }

  /** Distinct LSH candidate pairs: the output of the final distinct
    * aggregate over (doc_id_a, doc_id_b) in the pair build's plan. */
  private def candidatePairs(p: SparkPlan): Long =
    PlanWalk.collect(p) {
      case a: HashAggregateExec if a.aggregateExpressions.isEmpty &&
        a.output.map(_.name) == Seq("doc_id_a", "doc_id_b") => a.metrics("numOutputRows").value
    }.reduceOption(_ min _).getOrElse(0L)

  private def verifyWarehouse(spark: SparkSession, out: String): Verdict = {
    val fact = spark.read.parquet(s"$out/fato_vendas")
    val got = Check.of(fact.select(
      col("id_venda"), col("id_produto"),
      col("sk_tempo"), col("sk_cliente"), col("sk_produto"), col("sk_vendedor"), col("sk_loja"),
      col("quantidade_vendida"), col("preco_unitario_venda"), col("valor_total_item"),
      col("percentual_desconto"), col("valor_desconto"), col("valor_final"),
      detRound(col("custo_unitario"), 4).as("custo_unitario"),
      detRound(col("custo_total_item"), 4).as("custo_total_item"),
      detRound(col("lucro_bruto"), 4).as("lucro_bruto")))
    val counts = Warehouse.naturalKeys.keys.toSeq.map(t => t -> spark.read.parquet(s"$out/$t").count())
    val summary = (counts :+ ("TOTAL" -> counts.map(_._2).sum)).map { case (t, n) => Row(t, n) }
    bytes += du(out)._1
    factRows += got.rows
    delete(out)
    Verdict(got.rows, env.expect("q_fato_vendas", got)
      .orElse(env.expect("q_report_summary", Check.of(Seq("tabela", "registros"), summary.iterator))))
  }

  def dwBytesPerRow: Double = bytes.toDouble / math.max(factRows, 1L)
}

object BiEntries {
  val entries: Seq[String] = Seq("q_rollup", "q_cube", "q_grouping_sets", "q_percentile",
    "q_window_ntile", "q_window_ranks", "q_olap_pricing", "q_topk", "q_join_inner",
    "q_semi_join", "q_set_ops", "q_report_summary")
}

/** Daytime traffic over a built warehouse, in rounds of 13 ops: one
  * streaming top-up, which lands the next delta of orders and runs
  * FactStream.incrementalFactTo on the same sink root, then the 12 OLAP and
  * report entries of SparkEntry.queries, each collected, in an order the
  * seed picks per round. Setup builds the warehouse, whose tables are cached
  * lazily; the untimed first round fills that cache and warms the JIT, as
  * the first requests to a server would. The run ends by checking that the
  * appended fact equals Fact.fatoVendasNoSk over the landed orders and that
  * a call with no new data appends nothing. */
final class DaytimeMix(env: Env) extends Workload(env) {
  private val registry = SparkEntry.queries
  private val deltas: Seq[Path] = {
    val s = Files.list(Paths.get(env.deltas))
    try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }
  private var rep = 0
  private var src, out = ""
  private var wh: Warehouse = _
  private var landed = 0
  private var total = 0L

  override def roundSize: Int = BiEntries.entries.size + 1
  override def warmUp: Boolean = true

  private val order = mutable.Map.empty[Int, Seq[String]]
  private def entry(i: Int): String =
    order.getOrElseUpdate(i / roundSize,
      new scala.util.Random(env.seed * 1000003L + i / roundSize).shuffle(BiEntries.entries))(i % roundSize - 1)

  def setup(spark: SparkSession): Unit = {
    rep += 1
    val root = s"${env.work}/daytime/rep$rep"
    src = s"$root/src"
    out = s"$root/out"
    Files.createDirectories(Paths.get(src))
    Files.createLink(Paths.get(src, "lineitem.parquet"), Paths.get(env.data, "lineitem.parquet"))
    wh = Warehouse.build(spark, env.data)
    landed = 0
  }

  private def land(): Unit = {
    val d = deltas(landed)
    val tmp = Paths.get(src, s".landing-${d.getFileName}")
    Files.copy(d, tmp)
    Files.move(tmp, Paths.get(src, d.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    landed += 1
  }

  private def topUp(spark: SparkSession): Long =
    FactStream.incrementalFactTo(spark, src, wh.dimTempo, wh.dimCliente, wh.dimProduto,
      wh.dimVendedor, wh.dimLoja, out).count()

  override def hasInput(i: Int): Boolean = i % roundSize != 0 || landed < deltas.size

  def op(spark: SparkSession, i: Int, tr: Tracer): () => Verdict =
    if (i % roundSize == 0) topUpOp(spark, tr) else entryOp(spark, i, tr)

  private def topUpOp(spark: SparkSession, tr: Tracer): () => Verdict = {
    land()
    val filesBefore = du(s"$out/data")._2
    val now = tr.span("streaming.incremental_fact")(topUp(spark))
    val appended = now - total
    total = now
    if (tr.traced) tr.span("trace.sink_counts") {
      tr.count("streaming.rows_appended", appended)
      tr.count("streaming.files_written", du(s"$out/data")._2 - filesBefore)
      tr.count("streaming.ckpt_bytes", du(s"$out/ckpt")._1)
    }
    () => Verdict(appended, if (appended > 0) None else Some(s"delta $landed appended no rows"))
  }

  private def entryOp(spark: SparkSession, i: Int, tr: Tracer): () => Verdict = {
    val name = entry(i)
    val df = tr.span("entries.build")(registry(name)(spark, env.data))
    val rows = tr.span("entries.exec") {
      tr.query(df.queryExecution)
      val r = df.collect()
      tr.count("entries.rows_returned", r.length)
      r
    }
    () => Verdict(rows.length, env.expect(name, Check.of(df.schema.fieldNames.toSeq, rows)))
  }

  override def finish(spark: SparkSession): Seq[String] = {
    val idle = topUp(spark)
    val landedOrders = spark.read.schema(FactStream.ordersSchema).parquet(s"$src/orders*")
    val expected = Fact.fatoVendasNoSk(Crm.vendasFrom(landedOrders), Crm.itemVendas(spark, src),
      wh.dimTempo, wh.dimCliente, wh.dimProduto, wh.dimVendedor, wh.dimLoja)
    val got = spark.read.schema(expected.schema).parquet(s"$out/data")
    val extra = got.exceptAll(expected).count()
    val missing = expected.exceptAll(got).count()
    Seq(
      if (idle != total) Some(s"no-new-data call appended ${idle - total} rows") else None,
      if (extra + missing > 0) Some(s"appended fact differs from the batch fact: " +
        s"$extra extra, $missing missing rows") else None).flatten
  }

  def dwBytesPerRow: Double = du(out)._1.toDouble / math.max(total, 1L)
}
