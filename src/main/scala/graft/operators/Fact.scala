package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import Dims.pyKey

/** fato_vendas builders (SURVEY.md §3.3).
  *
  * The reference resolves every surrogate key with per-row point queries
  * (~6 round trips per fact row, etl_completo.py:615-698); here each lookup
  * is one broadcast hash join, so the fact build is a single scan of
  * vendas⋈item_vendas with no shuffle except the final surrogate-key pass.
  *
  * Scale notes (100 TB): the fact side streams; all dim sides are broadcast.
  * J1 (vendas⋈item_vendas) is the only big⋈big join — both sides are keyed
  * on id_venda, so at scale the inputs should be bucketed/co-partitioned on
  * id_venda (no hint needed here; AQE handles skew). The surrogate key is a
  * zero-pass unique id (never a global window; see Surrogate.uniqueKey).
  */
object Fact {

  /** v1 — the EXECUTED fact loader (etl_completo.py:590-705).
    *
    * Semantics: J1 inner join; F13 tri-state date handling (sentinel/null ⇒
    * row kept with sk_tempo NULL; well-shaped parseable ⇒ joined; malformed
    * or unparseable ⇒ row DROPPED); J2–J6 left lookups with Python-truthy
    * key guards; desconto hardwired 0 (P3, :600); measures F12/F14.
    *
    * The reference's string id `"{id_venda}_{id_prod}"` (:686) crashes
    * PostgreSQL's INTEGER column (SURVEY §3.3) — the intent (unique grain
    * per (venda, produto)) is carried by keeping both columns.
    */
  def fatoVendas(vendas: DataFrame, itemVendas: DataFrame, dimTempo: DataFrame,
                 dimCliente: DataFrame, dimProduto: DataFrame, dimVendedor: DataFrame,
                 dimLoja: DataFrame): DataFrame =
    // sk_venda: unique key only — the reference's SERIAL insert order
    // (extract ORDER BY data_venda, id_venda, id_produto, :603) is not
    // observable downstream (SURVEY §7.3), so the order-preserving key
    // (Surrogate.orderedUniqueKey) would pay a full extra pipeline pass
    // (range sampling) for nothing.
    Surrogate.uniqueKey(
      fatoVendasNoSk(vendas, itemVendas, dimTempo, dimCliente, dimProduto,
        dimVendedor, dimLoja), "sk_venda")

  /** The fact pipeline WITHOUT the surrogate key — every column here is a
    * deterministic function of the inputs, so this variant is also legal in
    * a STREAMING plan (monotonically_increasing_id is not), where it powers
    * the incremental stream-static fact load.
    */
  def fatoVendasNoSk(vendas: DataFrame, itemVendas: DataFrame, dimTempo: DataFrame,
                     dimCliente: DataFrame, dimProduto: DataFrame, dimVendedor: DataFrame,
                     dimLoja: DataFrame): DataFrame = {
    // J1 — the one big⋈big join (etl_completo.py:598-604). The item side is
    // fanned out to session parallelism first (guide §2.4; exact no-op when
    // the source already has ≥cores splits, the 100 TB state): with a
    // single-split source the planner broadcasts the (smaller) vendas side
    // and the ENTIRE fused fact pipeline — J1, five broadcast lookups, date
    // parse, measures — otherwise runs inside the one item-scan task
    // (measured r17: 6.0 s of task time on one core of local[32]).
    val base = vendas.select("id_venda", "data_venda", "id_cliente", "id_vendedor", "id_loja")
      .join(Parallelism.fanOut(
          itemVendas.select("id_venda", "id_produto", "qtd_vendida", "preco_venda"),
          Seq(col("id_venda"))),
        Seq("id_venda"), "inner")

    // F13 (etl_completo.py:615-635): drop malformed rows, null the sentinels.
    val dated = base
      .filter(keepRowForDate(col("data_venda")))
      .withColumn("__data_obj", parseMultiFormatDate(col("data_venda")))

    val joined = dated
      .join(broadcast(dimTempo.select(col("data_completa"), col("sk_tempo"))),
        col("__data_obj") === col("data_completa"), "left")                      // J2
      .join(broadcast(dimCliente.select(col("id_cliente").as("__cli_id"), col("sk_cliente"))),
        pyKey(col("id_cliente")) === col("__cli_id"), "left")                    // J3
      .join(broadcast(dimProduto.select(col("id_produto").as("__prod_id"), col("sk_produto"),
        col("custo_unitario").as("__custo_dim"))),
        pyKey(col("id_produto")) === col("__prod_id"), "left")                   // J4 + J8 payload
      .join(broadcast(dimVendedor.select(col("id_vendedor").as("__vend_id"), col("sk_vendedor"))),
        pyKey(col("id_vendedor")) === col("__vend_id"), "left")                  // J5
      .join(broadcast(dimLoja.select(col("id_loja").as("__loja_id"), col("sk_loja"))),
        pyKey(col("id_loja")) === col("__loja_id"), "left")                      // J6

    // F12/F14 measures (etl_completo.py:665-683); desconto ≡ 0 (P3).
    val qtd = positiveOrZero(col("qtd_vendida"))
    val preco = positiveOrZero(col("preco_venda"))
    val bruto = qtd * preco
    // custo: NULL dim value or Python-falsy 0 both end at 0.0 (:675-680).
    val custo = coalesce(col("__custo_dim"), lit(0.0))
    // ano_particao: the physical partition column for the 100 TB layout
    // (Warehouse.write with factLayout = Warehouse.Partitioned) — year of the already-parsed sale
    // date, 0 for kept-with-null-date rows so they land in one well-known
    // partition.
    val measured = joined.select(
      col("id_venda"), col("id_produto"),
      col("sk_tempo"), col("sk_cliente"), col("sk_produto"), col("sk_vendedor"), col("sk_loja"),
      qtd.as("quantidade_vendida"),
      preco.as("preco_unitario_venda"),
      bruto.as("valor_total_item"),
      lit(0.0).as("percentual_desconto"),
      lit(0.0).as("valor_desconto"),
      bruto.as("valor_final"),
      custo.as("custo_unitario"),
      (qtd * custo).as("custo_total_item"),
      (bruto - qtd * custo).as("lucro_bruto"),
      coalesce(year(col("__data_obj")).cast("long"), lit(0L)).as("ano_particao"))

    measured
  }

  /** ONE disjoint hash-slice of the fact build — the bounded-scratch
    * backfill unit (SURVEY §8.8: the one-shot sf100 build's aggregate
    * shuffle scratch exceeds a single host's disk; slicing bounds it).
    *
    * Slicing is on the J1 JOIN KEY (`id_venda`): both inputs filter to
    * `pmod(xxhash64(id_venda), nSlices) = slice` BEFORE the join, so
    * - the slices partition the vendas⋈item_vendas row set exactly (every
    *   joined row exists in exactly the slice its id_venda hashes to), and
    *   every later op is per-row ⇒ UNION over slices ≡ the one-shot batch
    *   build (the q_fato_backfill oracle + FactBackfillSpec pin this);
    * - every shuffle inside slice i carries ~1/nSlices of the data (xxhash64
    *   is uniform), so peak scratch for the whole backfill is one slice's.
    * The price is nSlices scans of the inputs — sequential reads, not
    * scratch; at 100 TB the K passes also pipeline against the previous
    * slice's sink write. The filter sits directly over the scan (no
    * shuffle before it); with id-sorted/ranged source files a RANGE slicing
    * would additionally prune row groups, but hash slicing is skew-proof by
    * construction, the property that matters for bounded scratch.
    */
  def fatoVendasSlice(vendas: DataFrame, itemVendas: DataFrame, dimTempo: DataFrame,
                      dimCliente: DataFrame, dimProduto: DataFrame, dimVendedor: DataFrame,
                      dimLoja: DataFrame, nSlices: Int, slice: Int): DataFrame = {
    require(nSlices > 0 && slice >= 0 && slice < nSlices,
      s"slice $slice out of range for $nSlices slices")
    def cut(df: DataFrame): DataFrame =
      df.filter(pmod(xxhash64(col("id_venda")), lit(nSlices)) === slice)
    fatoVendasNoSk(cut(vendas), cut(itemVendas), dimTempo, dimCliente, dimProduto,
      dimVendedor, dimLoja)
  }

  /** The whole backfill as one plan: union of all `nSlices` slices, with a
    * surrogate key that stays globally unique ACROSS slices — each slice's
    * zero-pass unique id is stretched by `sk*nSlices + slice`, so two
    * independently-run slices can never collide (monotonically_increasing_id
    * restarts its partition numbering per job, so the plain key would).
    * Used by the oracle-gated q_fato_backfill; the operational recipe
    * ([[backfillSlices]]; sf100 run in history/SCALE_PROBE_r11_backfill.json, crash
    * resume in history/SCALE_PROBE_r12_backfill_resume.json) runs the same slices as
    * SEPARATE jobs with a sink append between them, which is what actually
    * bounds scratch.
    */
  def fatoVendasBackfill(vendas: DataFrame, itemVendas: DataFrame, dimTempo: DataFrame,
                         dimCliente: DataFrame, dimProduto: DataFrame, dimVendedor: DataFrame,
                         dimLoja: DataFrame, nSlices: Int): DataFrame =
    (0 until nSlices).map { i =>
      Surrogate.uniqueKey(
          fatoVendasSlice(vendas, itemVendas, dimTempo, dimCliente, dimProduto,
            dimVendedor, dimLoja, nSlices, i), "sk_venda")
        .withColumn("sk_venda", col("sk_venda") * nSlices + i)
    }.reduce(_ unionAll _)

  /** Self-tuning slice count for [[backfillSlices]] (VERDICT r11 #8): size
    * K from what is actually on disk instead of guessing. The backfill's
    * scratch peak is one slice's shuffle spill, which is proportional to
    * the slice's share of the two J1 inputs; parquet decompresses and
    * de-columnarizes to roughly `expansion`× its file bytes in shuffle form
    * (zstd/snappy row-group compression undone, measured ~3–4× on this
    * fact's mixed types — pass your own ratio when the corpus differs).
    * So K = ceil(input_bytes × expansion / scratchBudget), floored at 1,
    * and the r11 sf100 probe's observed low-water mark is the calibration
    * point: 8 slices of a ~58 GB-input build bottomed at 13.9 GB free of a
    * ~60 GB budget — consistent with expansion ≈ 3.5.
    *
    * File sizes come from the filesystem (the file index's listing — a
    * metadata call, no data read), so the helper costs nothing at 100 TB.
    * An input that is not purely file-backed is sized by
    * [[Parallelism.planBytes]]; one of unknown size adds no slices.
    */
  def suggestSlices(inputs: Seq[DataFrame], scratchBudgetBytes: Long,
                    expansion: Double = 3.5): Int = {
    require(scratchBudgetBytes > 0, "scratch budget must be positive")
    val bytes = inputs.map { df =>
      val leaves = df.queryExecution.logical.collectLeaves()
      val files = leaves.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.relation.sizeInBytes
      }
      if (files.size == leaves.size) files.sum else Parallelism.planBytes(df).getOrElse(0L)
    }
    // in doubles, so a sum of huge inputs saturates instead of wrapping
    val scratch = math.ceil(bytes.map(_.toDouble).sum * expansion).toLong
    Parallelism.widthFor(scratch, scratchBudgetBytes, 1, Int.MaxValue)
  }

  /** RESTARTABLE slice-by-slice backfill runner (VERDICT r11 #4): the
    * operational form of [[fatoVendasBackfill]] with a per-slice recovery
    * contract. Each slice is written to its own hive-style partition dir
    * `outDir/slice=<i>` with `mode(overwrite)`, so Spark's rename-based
    * commit leaves `_SUCCESS` in the dir exactly when the slice is complete:
    *  - a slice dir WITH `_SUCCESS` is done — a re-run skips it (its files
    *    are never touched, pinned by FactBackfillSpec's mtime check);
    *  - a slice dir WITHOUT `_SUCCESS` (mid-slice crash: task files or
    *    nothing) is re-run via overwrite, which deletes the partials first.
    * Crash-and-rerun therefore converges to exactly the clean run's sink
    * (spec pins grain/measure checksums equal), and re-running a finished
    * backfill is a no-op. The `slice` partition column doubles as the
    * manifest: `spark.read.parquet(outDir)` discovers it, and per-slice
    * provenance is queryable for free (drop it to get the batch schema).
    *
    * No surrogate key here (the slices are independent jobs; a per-run
    * unique id would not be stable across crash/rerun) — downstream loads
    * that need one apply [[Surrogate.uniqueKey]] on the read-back, or use
    * the in-plan [[fatoVendasBackfill]] whose stretched key is job-scoped.
    *
    * Single-runner contract: the `_SUCCESS` check-then-write is not atomic
    * across CONCURRENT runners on one outDir — two racing backfills could
    * both rewrite an uncommitted slice (each write is still internally
    * consistent via rename-commit, so the survivor is whole, but work is
    * duplicated and a torn loser could momentarily widen the dir). Run one
    * backfill per outDir at a time — restartability, not concurrency, is
    * the recovery model (parallelism lives INSIDE a slice's job).
    *
    * Returns the slice ids actually executed this invocation.
    */
  def backfillSlices(vendas: DataFrame, itemVendas: DataFrame, dimTempo: DataFrame,
                     dimCliente: DataFrame, dimProduto: DataFrame, dimVendedor: DataFrame,
                     dimLoja: DataFrame, nSlices: Int, outDir: String,
                     onSliceDone: Int => Unit = _ => ()): Seq[Int] = {
    val spark = vendas.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    (0 until nSlices).flatMap { i =>
      val sliceDir = s"$outDir/slice=$i"
      val done = new org.apache.hadoop.fs.Path(sliceDir, "_SUCCESS")
      val fs = done.getFileSystem(hconf)
      if (fs.exists(done)) None
      else {
        fatoVendasSlice(vendas, itemVendas, dimTempo, dimCliente, dimProduto,
            dimVendedor, dimLoja, nSlices, i)
          .write.mode("overwrite").parquet(sliceDir)
        onSliceDone(i)
        Some(i)
      }
    }
  }

  /** v2 — the DEAD richer variant (etl_completo.py:810-934), kept in the
    * inventory because it is the only consumer of the promo path (J7/J9,
    * SURVEY §3.3). Differences from v1: no row is ever dropped for its date
    * (:844-848 — parse intent, lookup miss ⇒ NULL); qtd guard defaults to 1
    * not 0 (:886); discount comes from dim_promocao.percentual_desconto when
    * truthy (:901-909).
    */
  def fatoVendasV2(vendas: DataFrame, itemVendas: DataFrame, dimTempo: DataFrame,
                   dimCliente: DataFrame, dimProduto: DataFrame, dimVendedor: DataFrame,
                   dimLoja: DataFrame, dimPromocao: DataFrame): DataFrame = {
    // same J1 fan-out as v1 (no-op at scale)
    val base = vendas.select("id_venda", "data_venda", "id_cliente", "id_vendedor", "id_loja")
      .join(Parallelism.fanOut(
          itemVendas.select("id_venda", "id_produto", "qtd_vendida", "preco_venda",
            "id_promocao_aplicada"), Seq(col("id_venda"))),
        Seq("id_venda"), "inner")
      .withColumn("__data_obj", parseMultiFormatDate(col("data_venda")))

    val joined = base
      .join(broadcast(dimTempo.select(col("data_completa"), col("sk_tempo"))),
        col("__data_obj") === col("data_completa"), "left")
      .join(broadcast(dimCliente.select(col("id_cliente").as("__cli_id"), col("sk_cliente"))),
        pyKey(col("id_cliente")) === col("__cli_id"), "left")
      .join(broadcast(dimVendedor.select(col("id_vendedor").as("__vend_id"), col("sk_vendedor"))),
        pyKey(col("id_vendedor")) === col("__vend_id"), "left")
      .join(broadcast(dimLoja.select(col("id_loja").as("__loja_id"), col("sk_loja"))),
        pyKey(col("id_loja")) === col("__loja_id"), "left")
      .join(broadcast(dimProduto.select(col("id_produto").as("__prod_id"), col("sk_produto"),
        col("custo_unitario").as("__custo_dim"))),
        pyKey(col("id_produto")) === col("__prod_id"), "left")
      .join(broadcast(dimPromocao.select(col("id_promocao").as("__promo_id"), col("sk_promocao"),
        col("percentual_desconto").as("__promo_pct"))),
        pyKey(col("id_promocao_aplicada")) === col("__promo_id"), "left")        // J7 + J9 payload

    val qtd = when(col("qtd_vendida").isNotNull && col("qtd_vendida") > 0,
      col("qtd_vendida").cast("int")).otherwise(1).cast("double")
    val preco = positiveOrZero(col("preco_venda"))
    val total = qtd * preco
    val custo = coalesce(col("__custo_dim"), lit(0.0))
    // Discount only when the promo percent is truthy (:907).
    val pct = when(col("sk_promocao").isNotNull && coalesce(col("__promo_pct"), lit(0.0)) =!= 0.0,
      col("__promo_pct")).otherwise(0.0)
    val vDesc = when(pct =!= 0.0, total * (pct / 100)).otherwise(0.0)

    val measured = joined.select(
      col("id_venda"), col("id_produto"),
      col("sk_tempo"), col("sk_cliente"), col("sk_vendedor"), col("sk_loja"),
      col("sk_produto"), col("sk_promocao"),
      qtd.as("quantidade_vendida"),
      preco.as("preco_unitario_venda"),
      total.as("valor_total_item"),
      custo.as("custo_unitario"),
      (qtd * custo).as("custo_total_item"),
      (total - qtd * custo).as("lucro_bruto"),
      pct.as("percentual_desconto"),
      vDesc.as("valor_desconto"),
      (total - vDesc).as("valor_final"))

    Surrogate.uniqueKey(measured, "sk_venda")
  }
}
