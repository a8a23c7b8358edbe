package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.sources.Crm

/** Source-format coverage: the engine's tables round-trip through CSV and
  * JSON (schema-explicit reads — at 100 TB schema inference is a full extra
  * pass and is never used).
  */
class SourcesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("price", DoubleType),
    StructField("when", DateType)))

  private def sample = {
    import spark.implicits._
    Seq((1L, "alpha, with comma", 10.5, "2024-01-15"),
      (2L, "béta \"quoted\"", -2.0, "2024-02-01"),
      (3L, null.asInstanceOf[String], 0.0, "2024-03-31"))
      .toDF("id", "name", "price", "when")
      .withColumn("when", to_date(col("when")))
  }

  test("CSV sink/source round-trip with quoting, nulls and dates") {
    val dir = Files.createTempDirectory("csv_rt").toString + "/t"
    sample.write.option("header", "true").csv(dir)
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
      .orderBy("id").collect()
    val orig = sample.orderBy("id").collect()
    assert(back.length === orig.length)
    back.zip(orig).foreach { case (b, o) => assert(b === o) }
  }

  test("JSON sink/source round-trip") {
    val dir = Files.createTempDirectory("json_rt").toString + "/t"
    sample.write.json(dir)
    val back = spark.read.schema(schema).json(dir).orderBy("id").collect()
    val orig = sample.orderBy("id").collect()
    assert(back.length === orig.length)
    back.zip(orig).foreach { case (b, o) => assert(b === o) }
  }

  // ---- JDBC source (S1 parity: the reference reads its CRM from PostgreSQL,
  // etl_completo.py:16-30). Embedded Derby stands in for the database; the
  // `jdbc:` locator flows through the SAME Crm.table interface as parquet.

  private lazy val jdbcUrl: String = {
    val url = s"jdbc:derby:${Files.createTempDirectory("graft_derby")}/crm;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE nation (n_nationkey BIGINT, n_name VARCHAR(64), n_regionkey BIGINT)")
      st.execute("CREATE TABLE region (r_regionkey BIGINT, r_name VARCHAR(64))")
      st.execute("CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR(64)," +
        " c_mktsegment VARCHAR(32), c_nationkey BIGINT)")
      (0L until 4L).foreach(r => st.execute(s"INSERT INTO region VALUES ($r, 'REGION$r')"))
      (0L until 8L).foreach(n =>
        st.execute(s"INSERT INTO nation VALUES ($n, 'NATION$n', ${n % 4})"))
      (1L to 100L).foreach(c => st.execute(
        s"INSERT INTO customer VALUES ($c, 'Customer$c', 'SEG${c % 3}', ${c % 8})"))
      url
    } finally conn.close()
  }

  test("JDBC raw-table read through the Crm.table locator dispatch") {
    val nation = graft.sources.Crm.table(spark, jdbcUrl, "nation")
      .select(col("n_nationkey").as("k"), col("n_name").as("n")).orderBy("k").collect()
    assert(nation.length === 8)
    assert(nation.head.getLong(0) === 0L && nation.head.getString(1) === "NATION0")
  }

  test("JDBC scan of a split-column table fans out over range partitions") {
    val cust = graft.sources.Crm.table(spark, jdbcUrl, "customer")
    assert(cust.rdd.getNumPartitions > 1) // ranged on c_custkey, not one connection
    assert(cust.count() === 100)
    assert(cust.agg(sum(col("c_custkey"))).collect().head.get(0).toString.toLong === 5050L)
  }

  test("cliente models the full CRM schema incl. declared-but-unused idade/genero") {
    val cli = graft.sources.Crm.cliente(spark, "/root/testdata/sf0.001")
    assert(cli.columns.toSeq === Seq("id_cliente", "nome_cliente", "idade", "genero",
      "id_categoria_cliente", "id_localidade"))
    // the reference's extraction projects them away (etl_completo.py:306-310)
    val dim = graft.operators.Dims.dimCliente(cli,
      graft.operators.Dims.dimCategoriaCliente(
        graft.sources.Crm.categoriaCliente(spark, "/root/testdata/sf0.001")),
      graft.operators.Dims.dimLocalidade(
        graft.sources.Crm.localidade(spark, "/root/testdata/sf0.001")))
    assert(!dim.columns.contains("idade") && !dim.columns.contains("genero"))
  }

  test("Crm derivations run unchanged against the JDBC source") {
    val loc = graft.sources.Crm.localidade(spark, jdbcUrl)
    assert(loc.columns.toSeq === Seq("id_localidade", "cidade", "estado", "regiao"))
    assert(loc.count() === 8)
  }

  test("corrupt JSON landing lines are routed aside, not dropped and not fatal") {
    // PERMISSIVE + columnNameOfCorruptRecord: a real ingestion never fails
    // the whole batch for one bad line — bad rows land in a quarantine
    // column for the DQ report, good rows parse normally.
    val dir = Files.createTempDirectory("json_corrupt")
    java.nio.file.Files.write(dir.resolve("t.json"),
      ("""{"id": 1, "name": "ok"}""" + "\n" +
        """{"id": 2 "name": "missing comma"}""" + "\n" +
        """{"id": 3, "name": "fine"}""" + "\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    // cache() first: Spark disallows queries touching only the corrupt
    // column over the raw source (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString).cache()
    try {
      val good = df.filter(col("_corrupt_record").isNull).select("id")
        .collect().map(_.getLong(0)).sorted
      val bad = df.filter(col("_corrupt_record").isNotNull).count()
      assert(good.toSeq === Seq(1L, 3L))
      assert(bad === 1L)
    } finally df.unpersist()
  }

  test("schema evolution across landing batches: mergeSchema unions the columns") {
    // A later CRM export adds a column; the lake read must surface the
    // union schema with nulls for the old batch — not fail, not drop.
    import spark.implicits._
    val dir = Files.createTempDirectory("schema_evo").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "c", 30L)).toDF("id", "name", "idade")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("batch", "id", "idade", "name"))
    val rows = merged.orderBy("id").collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(r.fieldIndex("idade"))) -1L else r.getLong(r.fieldIndex("idade"))))
    assert(rows.toSeq === Seq((1L, -1L), (2L, -1L), (3L, 30L)))
  }

  test("JSON landing-format read through the Crm.table locator dispatch") {
    val dir = Files.createTempDirectory("crm_json").toString
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .coalesce(1).write.json(s"$dir/$t.json")
    }
    val viaJson = graft.sources.Crm.localidade(spark, s"json:$dir")
      .select("id_localidade", "cidade").orderBy("id_localidade").collect()
    val viaParquet = graft.sources.Crm.localidade(spark, "/root/testdata/sf0.001")
      .select("id_localidade", "cidade").orderBy("id_localidade").collect()
    assert(viaJson.length === viaParquet.length)
    viaJson.zip(viaParquet).foreach { case (j, p) =>
      assert(j.getString(1) === p.getString(1))
    }
  }

  test("CSV landing-format read through the Crm.table locator dispatch") {
    // dump nation+region from the parquet testdata as CSV "landing files",
    // then run a real derivation against the csv: locator
    val dir = Files.createTempDirectory("crm_csv").toString
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .coalesce(1).write.option("header", "true").csv(s"$dir/$t.csv")
    }
    val viaCsv = graft.sources.Crm.localidade(spark, s"csv:$dir")
      .select("id_localidade", "cidade").orderBy("id_localidade").collect()
    val viaParquet = graft.sources.Crm.localidade(spark, "/root/testdata/sf0.001")
      .select("id_localidade", "cidade").orderBy("id_localidade").collect()
    assert(viaCsv.length === viaParquet.length)
    viaCsv.zip(viaParquet).foreach { case (c, p) =>
      assert(c.getString(1) === p.getString(1))
    }
  }

  test("orc: locator is a full runtime format — same results, pushdown intact") {
    val dir = Files.createTempDirectory("crm_orc").toString
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .write.orc(s"$dir/$t.orc")
    }
    val viaOrc = graft.sources.Crm.localidade(spark, s"orc:$dir")
      .select("id_localidade", "cidade").orderBy("id_localidade").collect()
    val viaParquet = graft.sources.Crm.localidade(spark, "/root/testdata/sf0.001")
      .select("id_localidade", "cidade").orderBy("id_localidade").collect()
    assert(viaOrc.map(r => (r.get(0).toString, r.getString(1))).toSeq
      === viaParquet.map(r => (r.get(0).toString, r.getString(1))).toSeq)
    // unlike csv/json, the ORC scan keeps pushdown + pruning
    val plan = graft.sources.Crm.table(spark, s"orc:$dir", "nation")
      .filter(org.apache.spark.sql.functions.col("n_nationkey") > 10)
      .select("n_name").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey,10)"), plan.take(1500))
    assert(plan.contains("ReadSchema: struct<n_nationkey:int,n_name:string>"), plan.take(1500))
  }

  // ---- the stored-table reader: declared schemas, footer-checked

  private val sf0001 = "/root/testdata/sf0.001"
  private val storedDirs = Seq(sf0001, "perfbench/data/sf0.001", "perfbench/data/sf0.01")

  test("every stored table's declared schema equals parquet inference") {
    val checked = for {
      dir <- storedDirs
      t <- Crm.schemas.keys.toSeq.sorted
      if Files.exists(java.nio.file.Paths.get(s"$dir/$t.parquet"))
    } yield {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      // the one declared difference: events.ts, stored as naive micros,
      // is declared the instant they read as
      val expected = if (t != "events") inferred else StructType(inferred.map {
        case f if f.name == "ts" && f.dataType == TimestampNTZType => f.copy(dataType = TimestampType)
        case f => f
      })
      assert(Crm.schemas(t) === expected, s"$dir/$t")
      assert(Crm.table(spark, dir, t).schema === expected, s"$dir/$t")
      t
    }
    assert(checked.toSet === Crm.schemas.keySet, "every declared table is checked somewhere")
    assert(checked.size === 10 + 8 + 8)
  }

  test("Warehouse.build on sf0.001 runs no Spark job") {
    // a fresh session: Warehouse.build memoizes per (session, dir)
    val s = spark.newSession()
    val sc = s.sparkContext
    val group = "sources-spec-warehouse-build"
    sc.setJobGroup(group, "Warehouse.build")
    try Warehouse.build(s, sf0001)
    finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).toSeq === Nil)
  }

  test("a stored table missing a declared column, or holding it with another type, fails naming both") {
    val nation = spark.read.parquet(s"$sf0001/nation.parquet")
    val missing = Files.createTempDirectory("stored_missing").toString
    nation.drop("n_regionkey").write.parquet(s"$missing/nation.parquet")
    val e1 = intercept[IllegalArgumentException](Crm.table(spark, missing, "nation"))
    assert(e1.getMessage.contains("'nation'") && e1.getMessage.contains("'n_regionkey'"), e1.getMessage)
    assert(e1.getMessage.contains("missing"), e1.getMessage)

    val retyped = Files.createTempDirectory("stored_retyped").toString
    nation.withColumn("n_regionkey", col("n_regionkey").cast("string"))
      .write.parquet(s"$retyped/nation.parquet")
    val e2 = intercept[IllegalArgumentException](Crm.table(spark, retyped, "nation"))
    assert(e2.getMessage.contains("'nation'") && e2.getMessage.contains("'n_regionkey'"), e2.getMessage)
    assert(e2.getMessage.contains("STRING") && e2.getMessage.contains("INT"), e2.getMessage)

    // a well-formed multi-file directory (commit marker included) reads back
    val multi = Files.createTempDirectory("stored_multi").toString
    nation.repartition(3).write.parquet(s"$multi/nation.parquet")
    assert(Crm.table(spark, multi, "nation").collect().toSet === nation.collect().toSet)
  }
}
