package graft

import java.nio.file.Files

/** End-to-end star-schema build on sf0.001 (SURVEY §5.2): build → write →
  * re-read → the §5.1 count-report invariants hold.
  */
class WarehouseSpec extends SparkSpec {

  test("full ETL: build, write parquet sink, re-read with consistent counts") {
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("dw_out").toString
    w.write(out)

    val counts = w.tables.map { case (name, df) => name -> df.count() }.toMap
    // re-read every sink table and compare
    w.tables.foreach { case (name, _) =>
      val reread = spark.read.parquet(s"$out/$name").count()
      assert(reread === counts(name), s"sink count mismatch for $name")
    }
    // dim_tempo is the generated 2020-01-01..2025-12-31 range (2,192 rows —
    // reference etl_completo.py:776-777)
    assert(counts("dim_tempo") === 2192L)
    assert(counts("fato_vendas") > 0L)
    // every dimension SK is dense 1..N
    w.tables.filter(_._1.startsWith("dim_")).foreach { case (name, df) =>
      val skCol = df.columns.find(_.startsWith("sk_")).get
      val sks = df.select(skCol).collect().map(_.getLong(0)).sorted
      assert(sks.toSeq === (1L to sks.length), s"$name SKs not dense 1..N")
    }
    // fact SK unique
    val fato = w.fatoVendas
    assert(fato.select("sk_venda").distinct().count() === counts("fato_vendas"))
  }

  test("ORC sink: the DW round-trips through the other columnar format") {
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("dw_orc").toString
    w.write(out, format = "orc")
    w.tables.foreach { case (name, df) =>
      assert(spark.read.orc(s"$out/$name").count() === df.count(),
        s"orc sink count mismatch for $name")
    }
  }

  test("JDBC sink (S2/S8): write the DW to Derby, read back consistent") {
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val url = s"jdbc:derby:${Files.createTempDirectory("graft_derby_dw")}/dw;create=true"
    w.write(url)

    // every table round-trips with the same count, through the SAME jdbc:
    // locator dispatch the CRM source uses
    w.tables.foreach { case (name, df) =>
      val reread = graft.sources.Crm.table(spark, url, name)
      assert(reread.count() === df.count(), s"jdbc count mismatch for $name")
    }
    // a value-level probe, not just counts: fact revenue survives the trip
    import org.apache.spark.sql.functions.{col, sum}
    def revenue(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(sum(col("valor_final").cast("decimal(18,4)"))).collect()(0)
        .getDecimal(0)
    assert(revenue(graft.sources.Crm.table(spark, url, "fato_vendas"))
      === revenue(w.fatoVendas))
    // overwrite mode is a true replace, not an append
    w.write(url)
    assert(graft.sources.Crm.table(spark, url, "dim_localidade").count()
      === w.dimLocalidade.count())
  }

  test("DECIMAL-exact sink: DDL money types round-trip through parquet and Derby") {
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.types.DecimalType
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("dw_dec").toString
    w.write(out, decimalExact = true)
    // parquet sink carries the DDL-exact decimal schema for every typed column
    Warehouse.ddlDecimals.foreach { case (table, cols) =>
      val schema = spark.read.parquet(s"$out/$table").schema
      cols.foreach { case (c, t) =>
        assert(schema(c).dataType === t, s"$table.$c should be $t, was ${schema(c).dataType}")
      }
    }
    // and values are the HALF_UP cents rounding of the engine's doubles
    val sunk = spark.read.parquet(s"$out/fato_vendas")
    assert(sunk.schema("valor_final").dataType === DecimalType(12, 2))
    val centsOfDoubles = w.fatoVendas
      .agg(sum(col("valor_final").cast(DecimalType(12, 2)))).collect()(0).getDecimal(0)
    assert(sunk.agg(sum(col("valor_final"))).collect()(0).getDecimal(0)
      .compareTo(centsOfDoubles) === 0)

    // Derby round-trip: the JDBC DW exposes DECIMAL, not DOUBLE, and keeps
    // the cent-exact total
    val url = s"jdbc:derby:${Files.createTempDirectory("graft_derby_dec")}/dw;create=true"
    w.write(url, decimalExact = true)
    val jdbcFato = graft.sources.Crm.table(spark, url, "fato_vendas")
    assert(jdbcFato.schema("valor_final").dataType.isInstanceOf[DecimalType])
    assert(jdbcFato.agg(sum(col("valor_final"))).collect()(0).getDecimal(0)
      .compareTo(centsOfDoubles) === 0)
  }

  test("best-effort load: one failing stage is reported, every other table still lands") {
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    // poison exactly one dimension with a plan that fails at execution
    import spark.implicits._
    val poisonDf = spark.range(1)
      .map[Long] { _ => sys.error("poisoned stage") }.toDF("x")
    val poisoned = w.copy(dimLoja = poisonDf)
    val out = Files.createTempDirectory("dw_be").toString
    val report = poisoned.write(out, bestEffort = true)
    assert(report.size === w.tables.size)
    val failed = report.filter(_._2.isDefined).map(_._1)
    assert(failed === Seq("dim_loja"), s"expected only dim_loja to fail: $report")
    // the reference's continue-on-error: all OTHER stages committed their data
    report.filter(_._2.isEmpty).foreach { case (name, _) =>
      assert(spark.read.parquet(s"$out/$name").count() ===
        w.tables.toMap.apply(name).count(), s"$name missing after best-effort load")
    }
    // and the failed stage COMMITTED nothing (rollback analogue): the dir
    // shell may exist, but no part-file made it past the commit protocol
    val committed = Option(new java.io.File(s"$out/dim_loja").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("part-"))
    assert(committed.isEmpty, s"failed stage committed files: ${committed.mkString(",")}")
  }

  test("partitioned fact write: year filter prunes partitions at the scan") {
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("dw_part").toString
    w.write(out, factLayout = Warehouse.Partitioned)
    val read = spark.read.parquet(s"$out/fato_vendas")
    assert(read.count() === w.fatoVendas.count())
    val filtered = read.filter(org.apache.spark.sql.functions.col("ano_particao") === 1996L)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ano_particao"),
      plan.take(1500))
    assert(filtered.count() > 0)
  }

  test("indexed layout (S9 analogue): sorted row groups are skipped by a point predicate") {
    import org.apache.spark.sql.functions.col
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("dw_idx").toString
    // tiny row groups so the small fact spans many of them
    w.write(out, factLayout = Warehouse.Sorted("sk_produto", blockSize = 16 * 1024))
    w.fatoVendas.write.mode("overwrite")
      .option("parquet.block.size", (16 * 1024).toString)
      .parquet(s"$out/fato_vendas_plain")

    // a product key that actually occurs (mid-range of the dense 1..N sks)
    val probe = w.dimProduto.count() / 2
    // rows the scan EMITS = rows of surviving row groups (record-level
    // parquet filtering is off by default, so skipping is the only reducer)
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path).filter(col("sk_produto") === probe)
      df.collect() // run the scan so metrics populate
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val total = w.fatoVendas.count()
    val sortedRead = scanRows(s"$out/fato_vendas")
    val plainRead = scanRows(s"$out/fato_vendas_plain")
    // the sorted layout's narrow envelopes must skip far more than whatever
    // natural clustering the plain insert order happens to provide
    assert(plainRead > 0 && sortedRead > 0)
    assert(sortedRead * 3 <= plainRead,
      s"sorted layout should skip most row groups: sorted=$sortedRead plain=$plainRead total=$total")
    assert(sortedRead < total / 4,
      s"sorted layout read $sortedRead of $total — envelopes not narrow")
  }

  test("idempotent load (S7): re-run appends nothing, partial target is topped up") {
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("dw_idem").toString

    // pre-seed one table with a strict subset — the reference's "DW already
    // has some of these keys" scenario
    w.dimLocalidade.limit(10).write.parquet(s"$out/dim_localidade")

    w.write(out, mode = Warehouse.InsertNewKeys)
    val first = w.tables.map { case (n, _) =>
      n -> spark.read.parquet(s"$out/$n").count()
    }.toMap
    // the pre-seeded table was topped up to the full row set, not duplicated
    assert(first("dim_localidade") === w.dimLocalidade.count())

    w.write(out, mode = Warehouse.InsertNewKeys) // full re-run against the existing DW
    w.tables.foreach { case (n, _) =>
      assert(spark.read.parquet(s"$out/$n").count() === first(n),
        s"$n changed on idempotent re-run")
    }
  }

  test("idempotent fact top-up keeps sk_venda unique (interrupted-load scenario)") {
    import org.apache.spark.sql.functions.col
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("dw_idem_fact").toString

    // pre-seed fato_vendas with a partial write — as if a prior load died
    // mid-append. The seeded sks come from the same monotonically-increasing
    // generator a fresh run would use, so un-rebased appends WOULD collide.
    // (Seed rows are key-deduped like any InsertNewKeys batch would be.)
    operators.Surrogate.firstMatch(w.fatoVendas,
      Seq(col("id_venda"), col("id_produto")), Seq(col("sk_venda")))
      .limit(200).write.parquet(s"$out/fato_vendas")
    assert(spark.read.parquet(s"$out/fato_vendas").count() === 200L)

    w.write(out, mode = Warehouse.InsertNewKeys)
    val full = spark.read.parquet(s"$out/fato_vendas")
    // ON CONFLICT parity: the target holds exactly one row per natural key
    // — the source grain (id_venda, id_produto) is NOT unique (lineitem can
    // repeat a part within an order), and PostgreSQL would skip those too.
    val expected = w.fatoVendas.select("id_venda", "id_produto").distinct().count()
    assert(full.count() === expected, "fact not topped up to one row per natural key")
    assert(full.select("id_venda", "id_produto").distinct().count() === expected)
    // critically, the surrogate key is still unique across the seeded +
    // appended populations
    assert(full.select("sk_venda").distinct().count() === expected,
      "sk_venda collided between seeded and topped-up rows")

    w.write(out, mode = Warehouse.InsertNewKeys) // and a second full re-run is still a no-op
    assert(spark.read.parquet(s"$out/fato_vendas").count() === expected)
  }

  test("idempotent re-run after a failed best-effort stage loads every table in full") {
    // the reference's recovery path: a stage rolled back, then a re-run
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    import spark.implicits._
    val poisonDf = spark.range(1)
      .map[Long] { _ => sys.error("poisoned stage") }.toDF("x")
    val out = Files.createTempDirectory("dw_recover").toString
    val report = w.copy(dimLoja = poisonDf).write(out, bestEffort = true)
    assert(report.filter(_._2.isDefined).map(_._1) === Seq("dim_loja"), report)
    // the failed stage's directory holds no data file
    assert(graft.sources.Crm.dataFiles(spark, s"$out/dim_loja").isEmpty)

    w.write(out, mode = Warehouse.InsertNewKeys)
    w.tables.foreach { case (name, df) =>
      assert(spark.read.parquet(s"$out/$name").count() === df.count(),
        s"$name not at its full row set after the re-run")
    }
  }

  test("load combinations the loop does not implement fail before any table is written") {
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("dw_reject")
    val url = s"jdbc:derby:$dir/dw;create=true"
    val rejected = Seq(
      (url, Warehouse.InsertNewKeys, Warehouse.Plain),
      (url, Warehouse.Overwrite, Warehouse.Partitioned),
      (dir.toString, Warehouse.InsertNewKeys, Warehouse.Partitioned))
    rejected.foreach { case (target, mode, layout) =>
      val e = intercept[IllegalArgumentException](w.write(target, mode = mode, factLayout = layout))
      assert(e.getMessage.contains(target) && e.getMessage.contains(mode.toString), e.getMessage)
      assert(dir.toFile.list().isEmpty, s"$mode/$layout into $target wrote ${dir.toFile.list().toSeq}")
    }
  }

  test("observed load metrics: row count and measure total ride the fact action") {
    // org.apache.spark.sql.Observation — production pipelines attach load
    // metrics to the job itself (one pass, no second count() scan); the DQ
    // report covers inputs, this covers the emitted fact.
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val w = Warehouse.build(spark, "/root/testdata/sf0.001")
    val obs = Observation("fact_load")
    val observed = w.fatoVendas.observe(obs,
      count(lit(1)).as("rows"),
      sum(col("valor_final").cast("decimal(18,2)")).cast("double").as("valor_total"))
    val n = observed.count()
    val metrics = obs.get
    assert(metrics("rows") === n)
    assert(metrics("valor_total").asInstanceOf[Double] > 0.0)
  }
}
