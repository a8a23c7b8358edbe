package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType, TimestampNTZType, TimestampType}

/** CRM-shaped input tables derived deterministically from the driver's
  * TPC-H-ish testdata (FIXTURES.md §C role mapping). The engine's operators
  * take these as inputs; [[OracleSql]] holds the byte-identical DuckDB CTE
  * derivations so every query stays oracle-checkable.
  *
  * The CASE-based "noise" injections exist to exercise the reference's
  * dirty-data paths (FIXTURES.md §A): whitespace runs, case variants, NULLs,
  * sentinel/invalid dates, non-positive measures, Python-falsy (0) FK keys.
  * Every expression here must stay expressible in ANSI-ish SQL — when you
  * change one side, change [[OracleSql]] in lockstep.
  */
object Crm {

  /** The one declaration of each stored input table's schema — the TPC-H
    * tables plus the events, documents and embeddings corpora. A parquet
    * read takes its schema from here instead of inferring it, since
    * inference runs a one-task Spark job per read; the stream readers
    * declare their sources from here too. `events.ts` is declared a
    * TIMESTAMP, an instant: the files store it as naive TIMESTAMP(MICROS),
    * which reads as the instant of the same micros in UTC ([[readsAs]]). */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** Whether a footer column of type `stored` reads as the declared type:
    * the same SQL type (names compare without nullability, as inference
    * does), or a TIMESTAMP_NTZ under a declared TIMESTAMP. Spark reads the
    * naive micros of the latter as the same instant in UTC, without the
    * session's time zone, which is how `events.ts` is stored. */
  private def readsAs(stored: DataType, declared: DataType): Boolean =
    stored.sql == declared.sql || (stored == TimestampNTZType && declared == TimestampType)

  /** The declared schema of stored table `name` in the parquet directory
    * `dir`, checked against the footer of the first of its [[dataFiles]]
    * (the file `<name>.parquet`, or the first file of that directory in
    * ScaleGen's layout), which is read here, without a Spark job. With a
    * declared schema Spark reads a column missing from the file as NULL
    * without a word, so a declared column the file lacks, holds with
    * another type, or holds in a type Spark cannot read (TIMESTAMP(NANOS)),
    * fails here naming the table and the column. */
  def storedSchema(spark: SparkSession, dir: String, name: String): StructType = {
    val declared = schemas.getOrElse(name,
      throw new IllegalArgumentException(s"'$name' is not a stored table"))
    val conf = spark.sparkContext.hadoopConfiguration
    val file = dataFiles(spark, s"$dir/$name.parquet").headOption.getOrElse(throw
      new IllegalArgumentException(s"stored table '$name': no data file in $dir/$name.parquet"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    def fail(msg: String) = throw new IllegalArgumentException(
      s"stored table '$name' (${file.getPath}): $msg")
    declared.foreach { f =>
      if (!footer.containsField(f.name)) fail(s"column '${f.name}' is missing")
      val field = footer.getType(footer.getFieldIndex(f.name))
      // one column at a time: a type Spark cannot read, such as
      // TIMESTAMP(NANOS), fails the whole footer's conversion unnamed
      val got = try converter.convert(new MessageType(footer.getName, field)).head.dataType
        catch { case e: Exception => fail(s"column '${f.name}' is $field: ${e.getMessage}") }
      if (!readsAs(got, f.dataType))
        fail(s"column '${f.name}' is ${got.sql}, declared ${f.dataType.sql}")
    }
    declared
  }

  /** The filesystem that holds `dir`, resolved from the path (so `file:`,
    * `hdfs:` and `s3a:` locations all work), and the path itself. */
  private[graft] def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Whether an entry named `name` is bookkeeping rather than data: `_`
    * (commit markers, `_SUCCESS`, manifests, staging) or `.` (checksums). */
  private[graft] def hidden(name: String): Boolean = "_.".contains(name.head)

  /** The entries of `dir` that are not [[hidden]], sorted by name; none
    * when `dir` is absent, and `dir` itself when it is a file. A
    * driver-side listing, no Spark job. */
  private[graft] def visible(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val (fs, p) = fsFor(spark, dir)
    val all = try fs.listStatus(p) catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    all.filterNot(c => hidden(c.getPath.getName)).sortBy(_.getPath.getName).toSeq
  }

  /** The data files of a parquet dataset at `dir`: its [[visible]] plain
    * files. The one rule for which files in a directory are data. */
  private[graft] def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] =
    visible(spark, dir).filter(_.isFile)

  /** Whether locator `dir` is a JDBC URL, read (and written) over JDBC. */
  def isJdbc(dir: String): Boolean = dir.startsWith("jdbc:")

  /** Whether locator `dir` is a parquet directory: it has none of the
    * `jdbc:`, `csv:`, `json:` or `orc:` prefixes [[table]] dispatches on.
    * URI-scheme paths (`file:/`, `hdfs://`, `s3a://`) are directories. */
  def isParquetDir(dir: String): Boolean =
    !isJdbc(dir) && !Seq("csv:", "json:", "orc:").exists(dir.startsWith)

  /** What a build over `dir` reads: (file, size, modification time) of the
    * data files of every table in [[schemas]] present under `dir`, from the
    * same listing as [[storedSchema]]. [[graft.BuildOnce]] keys on it, so a
    * table rewritten in place changes the key. Other locators are not
    * listed: their signature is empty, so a memo over one keys on the
    * locator's name only. */
  def signature(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    if (!isParquetDir(dir)) Nil
    else schemas.keys.toSeq.sorted.flatMap(t => dataFiles(spark, s"$dir/$t.parquet").map(f =>
      (s"$t/${f.getPath.getName}", f.getLen, f.getModificationTime)))

  /** Raw-table access — the only way the program reads a stored input
    * table — dispatched on the locator: a `jdbc:` URL reads the
    * named table over JDBC (reference parity — etl_completo.py:16-30 reads
    * the CRM from PostgreSQL via psycopg2); a `csv:` prefix reads
    * `<name>.csv` files (the landing format real CRM dumps arrive in —
    * header + inferred schema; no pushdown or min-max pruning, so at scale
    * CSV is an INGESTION format only: land, convert to parquet, then run);
    * anything else is a parquet directory (the driver testdata, and the
    * default), read with the footer-checked [[storedSchema]]. Every
    * derivation below — and therefore every SparkEntry query — works
    * against any source unchanged.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (isJdbc(dir)) jdbcTable(spark, dir, name)
    else if (dir.startsWith("csv:"))
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"${dir.stripPrefix("csv:")}/$name.csv")
    else if (dir.startsWith("json:"))
      // JSON-lines landing format (API exports / event dumps). Like CSV:
      // schema inferred, no pushdown — an ingestion format, convert to
      // parquet before running at scale.
      spark.read.json(s"${dir.stripPrefix("json:")}/$name.json")
    else if (dir.startsWith("orc:"))
      // ORC: the other first-class columnar format — unlike the landing
      // formats it keeps predicate pushdown, column pruning, and stripe
      // min-max statistics, so it is a full-citizen RUNTIME format for
      // deployments whose lake is ORC rather than parquet.
      spark.read.orc(s"${dir.stripPrefix("orc:")}/$name.orc")
    else spark.read.schema(storedSchema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** Numeric split column per raw table: with it, the JDBC scan fans out as
    * `numPartitions` range-predicated queries across executors instead of
    * one single-connection read — the difference between a day and an hour
    * against a real CRM database. Dimension-sized tables read fine on one
    * connection and stay unlisted.
    */
  private val JdbcSplitColumn = Map(
    "customer" -> "c_custkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "part" -> "p_partkey", "supplier" -> "s_suppkey")

  /** JDBC read of one table. The min/max bounds come from a driver-side
    * metadata query (two-value result — negligible next to the scan it
    * parallelizes); dialect-neutral plain JDBC avoids subquery-alias quirks.
    */
  def jdbcTable(spark: SparkSession, url: String, name: String): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", name).option("fetchsize", "10000")
    JdbcSplitColumn.get(name).flatMap { k =>
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(s"SELECT MIN($k), MAX($k) FROM $name")
        rs.next()
        val lo = rs.getLong(1)
        if (rs.wasNull()) None else Some((k, lo, rs.getLong(2)))
      } finally conn.close()
    } match {
      case Some((k, lo, hi)) =>
        base.option("partitionColumn", k)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", spark.sparkContext.defaultParallelism.min(32))
          .load()
      case None => base.load()
    }
  }

  /** localidade(id_localidade, cidade, estado, regiao) ← nation ⋈ region. */
  def localidade(spark: SparkSession, dir: String): DataFrame = {
    val n = table(spark, dir, "nation")
    val r = table(spark, dir, "region")
    n.join(r, n("n_regionkey") === r("r_regionkey"))
      .select(
        col("n_nationkey").as("id_localidade"),
        when(col("n_nationkey") === 2, "São Paulo")
          .when(col("n_nationkey") === 14, "  brasília  ")
          .when(col("n_nationkey") % 4 === 0, concat(lit("  "), col("n_name")))
          .when(col("n_nationkey") % 4 === 1, lower(col("n_name")))
          .when(col("n_nationkey") % 4 === 3, concat(col("n_name"), lit("  ")))
          .otherwise(col("n_name")).as("cidade"),
        when(col("n_nationkey") === 2, "SP")
          .when(col("n_nationkey") === 14, "df")
          .otherwise(upper(substring(col("n_name"), 1, 2))).as("estado"),
        when(col("n_nationkey") === 2, "são paulo")
          .when(col("n_nationkey") === 24, " RIO GRANDE DO SUL ")
          .when(col("n_nationkey") === 7, lit(null))
          .when(col("n_nationkey") % 3 === 0, lower(col("r_name")))
          .when(col("n_nationkey") % 3 === 1, concat(col("r_name"), lit(" ")))
          .otherwise(col("r_name")).as("regiao"))
  }

  /** categoria_cliente(id, nome, _seg) ← distinct customer segments; the
    * `_seg` helper column carries the join key for [[cliente]]. */
  def categoriaCliente(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").select(col("c_mktsegment")).distinct()
      .withColumn("id_categoria_cliente",
        row_number().over(Window.orderBy(col("c_mktsegment"))).cast("long"))
      .select(
        col("id_categoria_cliente"),
        when(col("c_mktsegment") === "BUILDING", "Clientes VIP building")
          .when(col("c_mktsegment") === "AUTOMOBILE", "categoria  gold")
          .when(col("c_mktsegment") === "MACHINERY", " Prata maquinas ")
          .when(col("c_mktsegment") === "HOUSEHOLD", lit(null))
          .otherwise(col("c_mktsegment")).as("nome_categoria_cliente"),
        col("c_mktsegment").as("_seg"))

  /** Full CRM cliente schema (sql/create_tables.sql:58-65) including the
    * declared-but-unused `idade`/`genero` (SURVEY §1.3) — the reference's
    * extraction projects them away (etl_completo.py:306-310), so dim_cliente
    * never carries them, but a CRM reader must expose them.
    */
  def cliente(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val cat = categoriaCliente(spark, dir)
    c.join(broadcast(cat), c("c_mktsegment") === cat("_seg"))
      .select(
        col("c_custkey").as("id_cliente"),
        when(col("c_custkey") % 5 === 0, lower(col("c_name")))
          .when(col("c_custkey") % 5 === 1, concat(lit("  "), col("c_name"), lit(" ")))
          .when(col("c_custkey") % 5 === 2,
            concat(lit("cliente da silva "), col("c_custkey").cast("string")))
          .when(col("c_custkey") % 5 === 3, lit(null))
          .otherwise(col("c_name")).as("nome_cliente"),
        when(col("c_custkey") % 11 === 0, lit(null))
          .otherwise((col("c_custkey") % 60 + 18).cast("long")).as("idade"),
        when(col("c_custkey") % 3 === 0, lit("F"))
          .when(col("c_custkey") % 3 === 1, lit("M"))
          .otherwise(lit(null)).as("genero"),
        when(col("c_custkey") % 50 === 0, lit(null))
          .otherwise(col("id_categoria_cliente")).as("id_categoria_cliente"),
        when(col("c_custkey") % 37 === 0, lit(null))
          .otherwise(col("c_nationkey").cast("long")).as("id_localidade"))
  }

  /** categoria_produto(id, nome, _brand) ← distinct part brands. */
  def categoriaProduto(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(col("p_brand")).distinct()
      .withColumn("id_categoria_produto",
        row_number().over(Window.orderBy(col("p_brand"))).cast("long"))
      .select(
        col("id_categoria_produto"),
        when(col("p_brand") === "Brand#11", lit(null))
          .when(col("p_brand").like("Brand#2%"), lower(col("p_brand")))
          .when(col("p_brand").like("Brand#3%"), concat(lit("  "), col("p_brand")))
          .otherwise(col("p_brand")).as("nome_categoria_produto"),
        col("p_brand").as("_brand"))

  def produto(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    val cat = categoriaProduto(spark, dir)
    p.join(broadcast(cat), p("p_brand") === cat("_brand"))
      .select(
        col("p_partkey").as("id_produto"),
        when(col("p_partkey") % 7 === 0, lit(null))
          .when(col("p_partkey") % 7 === 3, upper(col("p_name")))
          .otherwise(col("p_name")).as("nome_produto"),
        when(col("p_partkey") % 41 === 0, lit(null))
          .otherwise(col("id_categoria_produto")).as("id_categoria_produto"))
  }

  def fornecedores(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "supplier")
    val n = table(spark, dir, "nation")
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .select(
        col("s_suppkey").as("id_fornecedor"),
        when(col("s_suppkey") % 6 === 0, lit(null))
          .when(col("s_suppkey") % 6 === 1, concat(lower(col("s_name")), lit("  ltda")))
          .when(col("s_suppkey") % 6 === 2, concat(lit(" "), col("s_name"), lit(" de  comercio")))
          .otherwise(col("s_name")).as("nome_fornecedor"),
        col("n_name").as("pais_origem"))
  }

  def vendedor(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "supplier").select(
      col("s_suppkey").as("id_vendedor"),
      when(col("s_suppkey") % 4 === 0,
        concat(lit("vendedor da  casa "), col("s_suppkey").cast("string")))
        .when(col("s_suppkey") % 4 === 1, lit(null))
        .otherwise(lower(col("s_name"))).as("nome_vendedor"))

  /** lojas ← nation; cidade/estado reuse the [[localidade]] expressions so
    * the J13 (lower(cidade), lower(estado)) lookup finds matches. */
  def lojas(spark: SparkSession, dir: String): DataFrame =
    localidade(spark, dir).select(
      col("id_localidade").as("id_loja"),
      col("cidade"), col("estado"))
      .join(broadcast(table(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))),
        col("id_loja") === col("n_nationkey"))
      .select(
        col("id_loja"),
        when(col("n_nationkey") % 5 === 0, concat(lit("Shopping "), col("n_name")))
          .when(col("n_nationkey") % 5 === 1, concat(col("n_name"), lit(" centro")))
          .when(col("n_nationkey") % 5 === 2, concat(lit("OUTLET "), col("n_name")))
          .when(col("n_nationkey") % 5 === 3, lit(null))
          .otherwise(concat(lit("Loja "), col("n_name"))).as("nome_loja"),
        concat(lit("Gerente "), col("n_name")).as("gerente_loja"),
        col("cidade"), col("estado"))

  def promocoes(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "nation").select(
      (col("n_nationkey") + 1).cast("long").as("id_promocao"),
      when(col("n_nationkey") === 13, lit(null))
        .when(col("n_nationkey") % 4 === 0, concat(lit("black friday "), col("n_name")))
        .when(col("n_nationkey") % 4 === 1, lit("Promoção de  Natal"))
        .when(col("n_nationkey") % 4 === 2, concat(lit("LIQUIDAÇÃO total "), col("n_name")))
        .otherwise(concat(lit("Oferta "), col("n_name"))).as("nome_promocao"),
      when(col("n_nationkey") % 5 === 0, "10%")
        .when(col("n_nationkey") % 5 === 1, "desconto de 12.5 por cento")
        .when(col("n_nationkey") % 5 === 2, "sem desconto")
        .when(col("n_nationkey") % 5 === 3, lit(null))
        .otherwise(lit("25.0%")).as("tipo_desconto"),
      when(col("n_nationkey") % 4 === 0, "2024-01-15")
        .when(col("n_nationkey") % 4 === 1, "15/03/2024")
        .when(col("n_nationkey") % 4 === 2, "Data Inválida")
        .otherwise(lit(null)).as("data_inicio"),
      when(col("n_nationkey") % 3 === 0, "2024-12-31")
        .when(col("n_nationkey") % 3 === 1, "N/A")
        .otherwise(lit("")).as("data_fim"))

  /** vendas ← orders. data_venda exercises all F13 paths: ISO, BR slash,
    * NULL, sentinel (kept w/ null sk) and a well-shaped-but-invalid date
    * (dropped). id_loja includes 0 — Python-falsy, skipped lookup. */
  def vendas(spark: SparkSession, dir: String): DataFrame =
    vendasFrom(table(spark, dir, "orders"))

  /** The vendas derivation over any orders-shaped relation — shared by the
    * batch reader above and the streaming fact load (the same projection
    * over `readStream`), so both paths are provably identical. */
  def vendasFrom(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey").as("id_venda"),
      when(col("o_orderkey") % 10 === 5, lit(null))
        .when(col("o_orderkey") % 10 === 8, lit("Data Inválida"))
        .when(col("o_orderkey") % 10 === 9, lit("2024-13-45"))
        .when(col("o_orderkey") % 10 === 6 || col("o_orderkey") % 10 === 7,
          date_format(col("o_orderdate"), "dd/MM/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("data_venda"),
      when(col("o_orderkey") % 31 === 0, lit(null)).otherwise(col("o_custkey")).as("id_cliente"),
      (col("o_orderkey") % 7 + 1).as("id_vendedor"),
      (col("o_orderkey") % 25).as("id_loja"),
      col("o_totalprice").as("valor_total"))

  /** item_vendas ← lineitem; injects non-positive qty/price rows (P9/F12). */
  def itemVendas(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").select(
      col("l_orderkey").as("id_venda"),
      col("l_partkey").as("id_produto"),
      when(col("l_linenumber") === 6, 0)
        .when(col("l_linenumber") === 7, -2)
        .otherwise(col("l_quantity").cast("int")).as("qtd_vendida"),
      when(col("l_partkey") % 101 === 0, -col("l_extendedprice"))
        .otherwise(col("l_extendedprice")).as("preco_venda"),
      when((col("l_orderkey") + col("l_partkey")) % 5 === 0,
        (col("l_partkey") % 25 + 1).cast("long"))
        .otherwise(lit(null)).as("id_promocao_aplicada"))
}
