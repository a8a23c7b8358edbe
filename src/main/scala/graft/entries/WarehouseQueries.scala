package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Warehouse-family query registry. */
private[graft] object WarehouseQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- DW dimension builds (CRM-shaped inputs from Crm adapter) ---------
    "q_dim_localidade" -> ((s, dir) =>
      operators.Dims.dimLocalidade(Crm.localidade(s, dir)).orderBy(col("id_localidade"))),
    "q_dim_categoria_cliente" -> ((s, dir) =>
      operators.Dims.dimCategoriaCliente(Crm.categoriaCliente(s, dir))
        .orderBy(col("id_categoria_cliente"))),
    "q_dim_categoria_produto" -> ((s, dir) =>
      operators.Dims.dimCategoriaProduto(Crm.categoriaProduto(s, dir))
        .orderBy(col("id_categoria_produto"))),
    "q_dim_fornecedor" -> ((s, dir) =>
      operators.Dims.dimFornecedor(Crm.fornecedores(s, dir)).orderBy(col("id_fornecedor"))),
    // Each dim query constructs ONLY its dependency chain — Warehouse.build
    // would analyze the full fact plan just to discard it (DataFrame ops run
    // the Catalyst analyzer eagerly, so dead plan weight costs real seconds).
    "q_dim_cliente" -> ((s, dir) =>
      operators.Dims.dimCliente(Crm.cliente(s, dir),
        operators.Dims.dimCategoriaCliente(Crm.categoriaCliente(s, dir)),
        operators.Dims.dimLocalidade(Crm.localidade(s, dir)))
        .drop("data_cadastro").orderBy(col("id_cliente"))),
    "q_dim_produto" -> ((s, dir) => {
      import graft.functions.GraftFunctions.detRound
      operators.Dims.dimProduto(Crm.produto(s, dir), Crm.itemVendas(s, dir),
        operators.Dims.dimCategoriaProduto(Crm.categoriaProduto(s, dir))).select(col("sk_produto"), col("id_produto"), col("nome_produto"),
        col("nome_padronizado"), col("sk_categoria_produto"),
        detRound(col("preco_unitario"), 4).as("preco_unitario"),
        detRound(col("custo_unitario"), 4).as("custo_unitario"),
        detRound(col("margem_lucro"), 4).as("margem_lucro"),
        col("status_produto")).orderBy(col("id_produto"))
    }),
    "q_dim_vendedor" -> ((s, dir) =>
      operators.Dims.dimVendedor(Crm.vendedor(s, dir)).orderBy(col("id_vendedor"))),
    "q_dim_loja" -> ((s, dir) =>
      operators.Dims.dimLoja(Crm.lojas(s, dir),
        operators.Dims.dimLocalidade(Crm.localidade(s, dir))).orderBy(col("id_loja"))),
    "q_dim_promocao" -> ((s, dir) =>
      operators.Dims.dimPromocao(Crm.promocoes(s, dir)).orderBy(col("id_promocao"))),
    "q_dim_tempo" -> ((s, dir) =>
      operators.Dims.dimTempo(s).orderBy(col("data_completa"))),
    // ---- the fact build (flagship) ----------------------------------------
    "q_fato_vendas" -> ((s, dir) => {
      val w = Warehouse.build(s, dir)
      w.fatoVendas.select(
        col("id_venda"), col("id_produto"),
        col("sk_tempo"), col("sk_cliente"), col("sk_produto"), col("sk_vendedor"), col("sk_loja"),
        col("quantidade_vendida"), col("preco_unitario_venda"), col("valor_total_item"),
        col("percentual_desconto"), col("valor_desconto"), col("valor_final"),
        graft.functions.GraftFunctions.detRound(col("custo_unitario"), 4).as("custo_unitario"),
        graft.functions.GraftFunctions.detRound(col("custo_total_item"), 4).as("custo_total_item"),
        graft.functions.GraftFunctions.detRound(col("lucro_bruto"), 4).as("lucro_bruto"))
        .orderBy(col("id_venda"), col("id_produto"))
    }),
    // v2 fact (reference's dead-code promo variant — the only consumer of
    // J7/J9/F9; SURVEY §3.3 keeps it as an explicitly-flagged variant).
    "q_fato_vendas_v2" -> ((s, dir) => {
      import graft.functions.GraftFunctions.detRound
      // Share the memoized Warehouse dims: v1 and v2 consume the SAME
      // dimension tables (the reference's two fact loaders do too), so
      // rebuilding them uncached here just re-paid the dim pipeline once
      // per bench run (r3 bench: v2 at 12.5 s, mostly dim rebuild).
      val w = Warehouse.build(s, dir)
      val fato2 = operators.Fact.fatoVendasV2(
        Crm.vendas(s, dir), Crm.itemVendas(s, dir),
        w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja,
        w.dimPromocao)
      fato2.select(
        col("id_venda"), col("id_produto"), col("sk_tempo"), col("sk_cliente"),
        col("sk_vendedor"), col("sk_loja"), col("sk_produto"), col("sk_promocao"),
        col("quantidade_vendida"), col("preco_unitario_venda"), col("valor_total_item"),
        detRound(col("custo_unitario"), 4).as("custo_unitario"),
        detRound(col("custo_total_item"), 4).as("custo_total_item"),
        detRound(col("lucro_bruto"), 4).as("lucro_bruto"),
        col("percentual_desconto"),
        detRound(col("valor_desconto"), 4).as("valor_desconto"),
        detRound(col("valor_final"), 4).as("valor_final"))
        .orderBy(col("id_venda"), col("id_produto"))
    }),
    // Bounded-scratch backfill: the SAME fact, built as 4 disjoint
    // id_venda-hash slices and unioned — gates slice-union ≡ batch build
    // (the sf100 ENOSPC recipe, SURVEY §8.8; the oracle computes the
    // ONE-SHOT batch fact, so a slicing bug that drops/duplicates a row
    // across slice boundaries hash-mismatches here).
    "q_fato_backfill" -> ((s, dir) => {
      val w = Warehouse.build(s, dir)
      operators.Fact.fatoVendasBackfill(
        Crm.vendas(s, dir), Crm.itemVendas(s, dir),
        w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja,
        nSlices = 4)
        .select(
          col("id_venda"), col("id_produto"),
          col("sk_tempo"), col("sk_cliente"), col("sk_produto"), col("sk_vendedor"), col("sk_loja"),
          col("quantidade_vendida"), col("preco_unitario_venda"), col("valor_total_item"),
          col("percentual_desconto"), col("valor_desconto"), col("valor_final"),
          graft.functions.GraftFunctions.detRound(col("custo_unitario"), 4).as("custo_unitario"),
          graft.functions.GraftFunctions.detRound(col("custo_total_item"), 4).as("custo_total_item"),
          graft.functions.GraftFunctions.detRound(col("lucro_bruto"), 4).as("lucro_bruto"))
        .orderBy(col("id_venda"), col("id_produto"))
    }),
    // Small-file compaction (r14): simulate a micro-batch sink's damage —
    // scatter documents into 32 tiny files — then size-aware bin-pack them
    // back (Compaction.compact). The operator refuses to publish unless the
    // read-back output fingerprint-matches the input (so a row lost or
    // duplicated by the rewrite throws before this query can return); the
    // oracle then re-proves content preservation differentially against
    // the ORIGINAL source table, one rewrite removed.
    "q_compact_docs" -> ((s, dir) => {
      val scatter = tempDir("compact_in")
      val out = tempDir("compact_out")
      Crm.table(s, dir, "documents").repartition(32)
        .write.mode("overwrite").parquet(scatter)
      operators.Compaction.compact(s, scatter, out, targetFileBytes = 8L << 20)
      s.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // Per-partition compaction: the fleet shape — documents laid out as a
    // Hive-partitioned dataset (lang=xx dirs, each scattered into 8 files),
    // every partition compacted INDEPENDENTLY (own manifest, own idempotence;
    // a rewrite never holds more than one partition's bytes). The read-back
    // re-derives lang from the directory layout, so the oracle also proves
    // the partition scheme survived the rewrite.
    "q_compact_partitioned" -> ((s, dir) => {
      val scatter = tempDir("compact_part_in")
      val out = tempDir("compact_part_out")
      Crm.table(s, dir, "documents").repartition(8)
        .write.partitionBy("lang").mode("overwrite").parquet(scatter)
      operators.Compaction.compactPartitioned(s, scatter, out,
        targetFileBytes = 8L << 20)
      s.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // Nested-partition compaction (r15, VERDICT r14 #3): a TWO-level Hive
    // layout (lang=xx/day=d) compacted leaf-by-leaf with bounded
    // parallelism. compactPartitioned recurses to the leaf directories and
    // reproduces the full relative layout on the output side — the read-back
    // re-derives BOTH partition keys from the directory structure, so the
    // oracle proves the nested scheme survived (the r14 code silently
    // flattened it). The flat compact() path now refuses nested inputs
    // outright (spec-pinned), so the flatten bug is unreachable.
    "q_compact_nested" -> ((s, dir) => {
      val scatter = tempDir("compact_nest_in")
      val out = tempDir("compact_nest_out")
      Crm.table(s, dir, "documents")
        .withColumn("day", col("doc_id") % 3)
        .repartition(4)
        .write.partitionBy("lang", "day").mode("overwrite").parquet(scatter)
      operators.Compaction.compactPartitioned(s, scatter, out,
        targetFileBytes = 8L << 20, parallelism = 4)
      s.read.parquet(out)
        // partition discovery infers day as int; the oracle computes BIGINT
        .select(col("doc_id"), col("lang"), col("day").cast("long").as("day"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // Clustering-preserving compaction: the range variant rewrites lineitem
    // sorted by l_orderkey (per-file min/max stay disjoint — spec-pinned),
    // so the S9 sorted-layout row-skipping survives the rewrite. Content
    // gate is the full key/qty projection vs the source table.
    "q_compact_range" -> ((s, dir) => {
      val out = tempDir("compact_range")
      operators.Compaction.compact(s, s"$dir/lineitem.parquet", out,
        targetFileBytes = 4L << 20, sortCol = Some("l_orderkey"),
        schema = Some(Crm.storedSchema(s, dir, "lineitem")))
      s.read.parquet(out)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_compact_docs" ->
      "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id",
    "q_compact_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_compact_partitioned" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "q_compact_nested" ->
      "SELECT doc_id, lang, doc_id % 3 AS day, n_chars FROM documents ORDER BY doc_id",
    "q_dim_localidade" ->
      O.withDw("SELECT * FROM dim_localidade ORDER BY id_localidade"),
    "q_dim_categoria_cliente" ->
      O.withDw("SELECT * FROM dim_categoria_cliente ORDER BY id_categoria_cliente"),
    "q_dim_categoria_produto" ->
      O.withDw("SELECT * FROM dim_categoria_produto ORDER BY id_categoria_produto"),
    "q_dim_fornecedor" ->
      O.withDw("SELECT * FROM dim_fornecedor ORDER BY id_fornecedor"),
    "q_dim_cliente" ->
      O.withDw("SELECT * FROM dim_cliente ORDER BY id_cliente"),
    "q_dim_produto" ->
      O.withDw(
        s"""SELECT sk_produto, id_produto, nome_produto, nome_padronizado, sk_categoria_produto,
          | ${O.detRoundSql("preco_unitario", 4)} AS preco_unitario,
          | ${O.detRoundSql("custo_unitario", 4)} AS custo_unitario,
          | ${O.detRoundSql("margem_lucro", 4)} AS margem_lucro,
          | status_produto
          |FROM dim_produto ORDER BY id_produto""".stripMargin),
    "q_dim_vendedor" ->
      O.withDw("SELECT * FROM dim_vendedor ORDER BY id_vendedor"),
    "q_dim_loja" ->
      O.withDw("SELECT * FROM dim_loja ORDER BY id_loja"),
    "q_dim_promocao" ->
      O.withDw("SELECT * FROM dim_promocao ORDER BY id_promocao"),
    "q_dim_tempo" ->
      O.withDw("SELECT * FROM dim_tempo ORDER BY data_completa"),
    "q_fato_vendas" -> O.withDw(O.fatoVendasSelect),
    // slice-union ≡ batch: the oracle is the ONE-SHOT batch fact build —
    // identical SQL to q_fato_vendas (sk_venda is not in the compared
    // columns; slice-disjoint sk uniqueness is FactBackfillSpec's pin)
    "q_fato_backfill" -> O.withDw(O.fatoVendasSelect),
    "q_fato_vendas_v2" -> O.withDw(O.fatoVendasV2Select))
}
