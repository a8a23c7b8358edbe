package graft

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import graft.operators.{Dims, Fact}
import graft.sources.Crm

/** Full star-schema build (SURVEY.md §3.1 `run_full_etl` as plain dataflow):
  * dimension dependency order becomes val ordering; Catalyst handles the
  * rest. Dims are CACHED (SURVEY §4.1 "materialize before probe"): each is
  * tiny but expression-heavy (UDF clean + window SK), and the fact build +
  * the summary report would otherwise re-execute every dim subplan per
  * consumer. The CacheManager's canonical-plan matching also substitutes
  * these for the standalone q_dim_* queries in the same session. The fact
  * is cached too: it is the materialized end product of the ETL, read by
  * both the summary report and the fact query.
  */
final case class Warehouse(
    dimLocalidade: DataFrame,
    dimCategoriaCliente: DataFrame,
    dimCategoriaProduto: DataFrame,
    dimFornecedor: DataFrame,
    dimCliente: DataFrame,
    dimProduto: DataFrame,
    dimVendedor: DataFrame,
    dimLoja: DataFrame,
    dimPromocao: DataFrame,
    dimTempo: DataFrame,
    fatoVendas: DataFrame) {

  /** The ETL "load" step (reference: per-table `INSERT … ON CONFLICT DO
    * NOTHING` into the PostgreSQL DW, each in its own try / roll back /
    * continue block, etl_completo.py §S7/S8): one pass over [[sinkTables]],
    * one table after another.
    *  - `target`: a directory, holding one `format` ("parquet" or "orc")
    *    directory per table, or a `jdbc:` URL ([[Crm.isJdbc]]) — the
    *    reference's relational DW (etl_completo.py:32-46). `df.write.jdbc`
    *    ships each partition over its own connection, 10,000 rows per
    *    round-trip; dims coalesce to one partition (a 30-row dim needs one
    *    connection, not 32), the fact keeps its partitioning.
    *  - `decimalExact`: money columns in the DDL's DECIMAL types.
    *  - `mode`: [[Warehouse.Overwrite]] replaces each table;
    *    [[Warehouse.InsertNewKeys]] appends only natural keys the table
    *    lacks, so a re-run over the same inputs is a no-op.
    *  - `bestEffort`: the reference's error model — every table is
    *    attempted, one failing dim never aborts the others. The rollback
    *    analogue is Spark's per-directory commit protocol: a failed job
    *    commits nothing to its table. Without it the first failing table
    *    throws and the later ones are not written.
    *  - `factLayout`: how `fato_vendas` is laid out ([[Warehouse.FactLayout]]).
    *    Columnar min-max statistics take the role of the reference's 21
    *    post-load b-tree indices (SURVEY §2.1 S9).
    * Returns one (table, error) row per table, `None` = loaded.
    */
  def write(target: String, format: String = "parquet", decimalExact: Boolean = false,
            mode: Warehouse.LoadMode = Warehouse.Overwrite, bestEffort: Boolean = false,
            factLayout: Warehouse.FactLayout = Warehouse.Plain): Seq[(String, Option[String])] = {
    import Warehouse._
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.{col, lit, max, coalesce}
    val jdbc = Crm.isJdbc(target)
    def unsupported(why: String) = s"$mode load into '$target': $why"
    require(!(jdbc && mode == InsertNewKeys), unsupported("a JDBC target has no key scan"))
    require(!(jdbc && factLayout == Partitioned), unsupported("a JDBC table has no partition directories"))
    require(!(mode == InsertNewKeys && factLayout == Partitioned),
      unsupported("a partitioned fact has no top-level data files to find its keys in"))

    def save(name: String, df: DataFrame, saveMode: SaveMode): Unit = {
      val writer = (if (name == "fato_vendas") factLayout.writer(df) else df.write).mode(saveMode)
      if (jdbc) writer.option("batchsize", "10000").jdbc(target, name, new java.util.Properties())
      else writer.format(format).save(s"$target/$name")
    }
    // ON CONFLICT DO NOTHING (etl_completo.py:172-177 et al.): one
    // key-columns-only read of the target, one left-anti join, an append;
    // the existing data is never rewritten. A true upsert needs a
    // transactional table format, which the reference does not use either.
    def insertNewKeys(name: String, df: DataFrame): Unit = {
      val keys = naturalKeys(name)
      // ON CONFLICT also fires WITHIN one load: a batch carrying the same
      // PK twice keeps only the first insert. The fact grain (id_venda,
      // id_produto) genuinely repeats in the source (lineitem re-lists a
      // part within an order), so first-wins per key, with the run's sk as
      // the deterministic-within-run tiebreak. Dim natural keys are unique.
      val batch = regeneratedSks.get(name).fold(df)(sk =>
        operators.Surrogate.firstMatch(df, keys.map(col), Seq(col(sk))))
      val path = s"$target/$name"
      // a stage that failed before left its directory without data files
      if (Crm.dataFiles(df.sparkSession, path).isEmpty) save(name, batch, SaveMode.Overwrite)
      else {
        val existing = df.sparkSession.read.format(format).schema(batch.schema).load(path)
        val delta = batch.join(existing.select(keys.map(col): _*), keys, "left_anti")
        // A per-run sk (the fact's sk_venda) could collide with the sks of a
        // partially written target — the interrupted load this mode exists
        // for. Delta sks are ≥ 1, so old + max(existing) is unique within
        // the delta and above every existing sk. Dim sks are deterministic.
        save(name, regeneratedSks.get(name).fold(delta) { sk =>
          val maxSk = existing.agg(coalesce(max(col(sk)), lit(0L))).collect()(0).getLong(0)
          delta.withColumn(sk, col(sk) + lit(maxSk))
        }, SaveMode.Append)
      }
    }

    sinkTables(decimalExact).map { case (name, df) =>
      val batch = if (jdbc && name != "fato_vendas") df.coalesce(1) else df
      try {
        mode match {
          case Overwrite => save(name, batch, SaveMode.Overwrite)
          case InsertNewKeys => insertNewKeys(name, batch)
        }
        name -> None
      } catch {
        case e: Exception if bestEffort => name -> Some(s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  /** Sink-facing table list. With `decimalExact`, money/percent columns are
    * cast to the reference DW DDL's exact DECIMAL types
    * (sql/cria_dw.sql:79-81,112,134-141) so a BI tool pointed at the sink
    * sees money-typed columns, not doubles. The ENGINE keeps DoubleType
    * throughout (SURVEY §1.2 — doubles reproduce the reference's observed
    * Python-float arithmetic); the cast happens once, at the sink boundary,
    * with HALF_UP rounding to the DDL scale — the same rounding PostgreSQL
    * applies on INSERT of an over-precise value.
    */
  def sinkTables(decimalExact: Boolean): Seq[(String, DataFrame)] =
    if (!decimalExact) tables
    else tables.map { case (name, df) => name -> Warehouse.withDdlDecimals(name, df) }

  def tables: Seq[(String, DataFrame)] = Seq(
    "dim_localidade" -> dimLocalidade,
    "dim_categoria_cliente" -> dimCategoriaCliente,
    "dim_categoria_produto" -> dimCategoriaProduto,
    "dim_fornecedor" -> dimFornecedor,
    "dim_cliente" -> dimCliente,
    "dim_produto" -> dimProduto,
    "dim_vendedor" -> dimVendedor,
    "dim_loja" -> dimLoja,
    "dim_promocao" -> dimPromocao,
    "dim_tempo" -> dimTempo,
    "fato_vendas" -> fatoVendas)
}

object Warehouse {

  /** What [[Warehouse.write]] does to a table that already holds rows. */
  sealed trait LoadMode
  case object Overwrite extends LoadMode
  /** The reference's `INSERT … ON CONFLICT DO NOTHING`: rows whose
    * [[naturalKeys]] the table already holds are skipped. */
  case object InsertNewKeys extends LoadMode

  /** The physical layout of `fato_vendas` in [[Warehouse.write]]. */
  sealed trait FactLayout { def writer(fact: DataFrame): DataFrameWriter[Row] }
  case object Plain extends FactLayout { def writer(fact: DataFrame) = fact.write }
  /** The 100 TB layout: one directory per sale year (`ano_particao`), so a
    * time-windowed consumer prunes whole partitions at the file listing,
    * the role of the reference's date-keyed b-tree index. At scale add a
    * month level and size partitions to ≥ 128 MB files. */
  case object Partitioned extends FactLayout {
    def writer(fact: DataFrame) = fact.write.partitionBy("ano_particao")
  }
  /** The index-like layout (S9 analogue): the reference's post-load b-tree
    * indices (sql/cria_indices_dw.sql:9-37) serve point and range lookups
    * that touch a fraction of the fact. Range-partitioning and sorting the
    * fact by the hot lookup `key` narrows each parquet row group's min-max
    * envelope, so the reader skips the row groups a predicate excludes, at
    * the footer, with no index to maintain. `blockSize` is the row-group
    * size: small on testdata so the skip shows, 128 MB in production. */
  final case class Sorted(key: String, blockSize: Int = 128 * 1024 * 1024) extends FactLayout {
    def writer(fact: DataFrame) =
      fact.repartitionByRange(org.apache.spark.sql.functions.col(key)).sortWithinPartitions(key)
        .write.option("parquet.block.size", blockSize.toString)
  }

  /** Natural (conflict) keys = the reference's PRIMARY KEYs
    * (sql/create_tables.sql:15,22,27,32,37,45,53,59,68,81,95): dimensions on
    * their business id, the item-grain fact on (id_venda, id_produto);
    * dim_tempo keys on the calendar date itself.
    */
  val naturalKeys: Map[String, Seq[String]] = Map(
    "dim_localidade" -> Seq("id_localidade"),
    "dim_categoria_cliente" -> Seq("id_categoria_cliente"),
    "dim_categoria_produto" -> Seq("id_categoria_produto"),
    "dim_fornecedor" -> Seq("id_fornecedor"),
    "dim_cliente" -> Seq("id_cliente"),
    "dim_produto" -> Seq("id_produto"),
    "dim_vendedor" -> Seq("id_vendedor"),
    "dim_loja" -> Seq("id_loja"),
    "dim_promocao" -> Seq("id_promocao"),
    "dim_tempo" -> Seq("data_completa"),
    "fato_vendas" -> Seq("id_venda", "id_produto"))

  /** Tables whose surrogate key is generated fresh per run (not derivable
    * from the natural-key order) and must therefore be re-based above the
    * target's max on idempotent top-up appends.
    */
  val regeneratedSks: Map[String, String] = Map("fato_vendas" -> "sk_venda")

  /** The reference DW DDL's DECIMAL column types, per table
    * (sql/cria_dw.sql:79-81 dim_produto, :112 dim_promocao,
    * :134-141 fato_vendas). Only columns present in the built table are
    * cast — the engine's fact omits none of these, but the guard keeps the
    * map robust to schema evolution.
    */
  val ddlDecimals: Map[String, Map[String, org.apache.spark.sql.types.DecimalType]] = {
    import org.apache.spark.sql.types.DecimalType
    val d10 = DecimalType(10, 2); val d12 = DecimalType(12, 2); val d5 = DecimalType(5, 2)
    Map(
      "dim_produto" -> Map(
        "preco_unitario" -> d10, "custo_unitario" -> d10, "margem_lucro" -> d5),
      "dim_promocao" -> Map("percentual_desconto" -> d5),
      "fato_vendas" -> Map(
        "preco_unitario_venda" -> d10, "valor_total_item" -> d12,
        "custo_unitario" -> d10, "custo_total_item" -> d12,
        "lucro_bruto" -> d12, "percentual_desconto" -> d5,
        "valor_desconto" -> d10, "valor_final" -> d12))
  }

  /** Cast `df`'s money columns to the DDL-exact decimal schema for `name`
    * (identity for tables the DDL types without decimals). */
  def withDdlDecimals(name: String, df: DataFrame): DataFrame =
    ddlDecimals.get(name) match {
      case None => df
      case Some(cols) =>
        import org.apache.spark.sql.functions.col
        cols.foldLeft(df) { case (acc, (c, t)) =>
          if (acc.columns.contains(c)) acc.withColumn(c, col(c).cast(t)) else acc
        }
    }

  /** Build everything from the CRM-shaped derivations of a testdata dir,
    * once per session until a stored table under `dir` changes. The
    * queries that call it share one build through [[BuildOnce]]; a table
    * rewritten under `dir` releases the cached build and rebuilds it, and
    * a call that finds the build runs no Spark job, only file stats.
    */
  def build(spark: SparkSession, dir: String): Warehouse =
    BuildOnce("warehouse", spark, dir)((w: Warehouse) => w.tables.map(_._2))(
      buildUncached(spark, dir))

  private def buildUncached(spark: SparkSession, dir: String): Warehouse = {
    val dimLocalidade = Dims.dimLocalidade(Crm.localidade(spark, dir)).cache()
    val dimCategoriaCliente = Dims.dimCategoriaCliente(Crm.categoriaCliente(spark, dir)).cache()
    val dimCategoriaProduto = Dims.dimCategoriaProduto(Crm.categoriaProduto(spark, dir)).cache()
    val dimFornecedor = Dims.dimFornecedor(Crm.fornecedores(spark, dir)).cache()
    val dimCliente = Dims.dimCliente(Crm.cliente(spark, dir), dimCategoriaCliente, dimLocalidade).cache()
    val dimProduto = Dims.dimProduto(Crm.produto(spark, dir), Crm.itemVendas(spark, dir), dimCategoriaProduto).cache()
    val dimVendedor = Dims.dimVendedor(Crm.vendedor(spark, dir)).cache()
    val dimLoja = Dims.dimLoja(Crm.lojas(spark, dir), dimLocalidade).cache()
    val dimPromocao = Dims.dimPromocao(Crm.promocoes(spark, dir)).cache()
    val dimTempo = Dims.dimTempo(spark).cache()
    // The fact is cached too: it is the materialized END PRODUCT of the ETL
    // (the reference writes it into the DW once and every consumer reads
    // that) — the summary report and the fact query both consume it.
    val fato = Fact.fatoVendas(Crm.vendas(spark, dir), Crm.itemVendas(spark, dir),
      dimTempo, dimCliente, dimProduto, dimVendedor, dimLoja).cache()
    Warehouse(dimLocalidade, dimCategoriaCliente, dimCategoriaProduto, dimFornecedor,
      dimCliente, dimProduto, dimVendedor, dimLoja, dimPromocao, dimTempo, fato)
  }
}
