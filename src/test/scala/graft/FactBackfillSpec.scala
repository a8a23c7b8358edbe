package graft

import org.apache.spark.sql.functions._
import graft.operators.{ArtifactManifest, Fact}
import graft.sources.Crm

/** The bounded-scratch backfill contract (SURVEY §8.8 / VERDICT r10 #1):
  * building the fact as K disjoint id_venda-hash slices must reproduce the
  * one-shot batch build EXACTLY — no row lost, duplicated, or altered at a
  * slice boundary — and the stretched surrogate keys must stay globally
  * unique across independently-numbered slices.
  */
class FactBackfillSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def inputs = {
    val w = Warehouse.build(spark, dir)
    (Crm.vendas(spark, dir), Crm.itemVendas(spark, dir),
      w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor, w.dimLoja)
  }

  // the fact grain: every non-sk column is deterministic, so sorted-row
  // equality on the full projection IS plan equality
  private val grain = Seq("id_venda", "id_produto")

  test("slice-union equals the one-shot batch build, row for row") {
    val (v, iv, t, c, p, vd, l) = inputs
    val batch = Fact.fatoVendasNoSk(v, iv, t, c, p, vd, l)
    val sliced = (0 until 3).map(i =>
        Fact.fatoVendasSlice(v, iv, t, c, p, vd, l, nSlices = 3, slice = i))
      .reduce(_ unionAll _)
    val cols = batch.columns.map(col)
    val b = batch.select(cols: _*).orderBy(grain.map(col): _*).collect()
    val s = sliced.select(cols: _*).orderBy(grain.map(col): _*).collect()
    assert(b.length > 0, "batch fact must be non-empty at sf0.001")
    assert(s.toSeq === b.toSeq)
  }

  test("slices are pairwise disjoint on the join key") {
    val (v, iv, t, c, p, vd, l) = inputs
    val ids = (0 until 3).map(i =>
      Fact.fatoVendasSlice(v, iv, t, c, p, vd, l, 3, i)
        .select(col("id_venda")).distinct().collect().map(_.getLong(0)).toSet)
    for (i <- 0 until 3; j <- i + 1 until 3)
      assert(ids(i).intersect(ids(j)).isEmpty, s"slices $i and $j overlap")
    // and none is trivially empty (xxhash64 spreads the toy key space too)
    ids.zipWithIndex.foreach { case (s, i) => assert(s.nonEmpty, s"slice $i empty") }
  }

  test("fatoVendasBackfill: stretched surrogate keys are unique across slices") {
    val (v, iv, t, c, p, vd, l) = inputs
    val bf = Fact.fatoVendasBackfill(v, iv, t, c, p, vd, l, nSlices = 3)
    val n = bf.count()
    assert(bf.select(col("sk_venda")).distinct().count() === n)
    // and the row set still matches the batch build (ignoring sk)
    val batch = Fact.fatoVendasNoSk(v, iv, t, c, p, vd, l)
    assert(n === batch.count())
  }

  test("backfillSlices: crash-and-rerun converges to the clean run, done slices untouched") {
    val (v, iv, t, c, p, vd, l) = inputs
    def checksum(dir: String) = {
      val df = spark.read.parquet(dir)
      (ArtifactManifest.fingerprintOf(df, Seq(col("id_venda"), col("id_produto"))),
        ArtifactManifest.fingerprintOf(df, Seq(floor(col("valor_final") * 100 + 0.5),
          floor(col("custo_total_item") * 10000 + 0.5))))
    }

    val clean = java.nio.file.Files.createTempDirectory("bf_clean").toString
    val ranClean = Fact.backfillSlices(v, iv, t, c, p, vd, l, 4, clean)
    assert(ranClean === Seq(0, 1, 2, 3))

    // crashed run: slices 0-1 committed; slice 2 died mid-write (task files
    // present, no _SUCCESS); slice 3 never started
    val crashed = java.nio.file.Files.createTempDirectory("bf_crash").toString
    Fact.backfillSlices(v, iv, t, c, p, vd, l, 4, crashed)
    val s2 = new java.io.File(s"$crashed/slice=2")
    assert(new java.io.File(s2, "_SUCCESS").delete())
    s2.listFiles().filter(_.getName.endsWith(".parquet")).take(1).foreach(f => assert(f.delete()))
    def rmRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRec); f.delete()
    }
    rmRec(new java.io.File(s"$crashed/slice=3"))

    val mtimes01 = (0 to 1).flatMap(i =>
      new java.io.File(s"$crashed/slice=$i").listFiles().map(f => f.getPath -> f.lastModified))
    val reran = Fact.backfillSlices(v, iv, t, c, p, vd, l, 4, crashed)
    assert(reran === Seq(2, 3), "rerun must execute exactly the missing/partial slices")
    mtimes01.foreach { case (path, mt) =>
      assert(new java.io.File(path).lastModified === mt, s"$path was rewritten")
    }
    assert(checksum(crashed) === checksum(clean))
    // and a third run over the now-complete sink is a no-op
    assert(Fact.backfillSlices(v, iv, t, c, p, vd, l, 4, crashed).isEmpty)
    rmRec(new java.io.File(clean)); rmRec(new java.io.File(crashed))
  }

  test("suggestSlices: K sized from on-disk input bytes vs the scratch budget") {
    val a = spark.read.parquet(s"$dir/orders.parquet")
    val b = spark.read.parquet(s"$dir/lineitem.parquet")
    val bytes = Seq("orders", "lineitem")
      .map(t => new java.io.File(s"$dir/$t.parquet").length).sum
    // a huge budget needs no slicing; the formula is ceil(bytes·exp/budget)
    assert(Fact.suggestSlices(Seq(a, b), Long.MaxValue) === 1)
    assert(Fact.suggestSlices(Seq(a, b), bytes) ===
      math.ceil(bytes * 3.5 / bytes).toInt)
    assert(Fact.suggestSlices(Seq(a, b), math.max(1, bytes / 10), expansion = 2.0) ===
      math.ceil(bytes * 2.0 / math.max(1, bytes / 10)).toInt)
    // monotone: a tighter budget can only raise K
    assert(Fact.suggestSlices(Seq(a, b), bytes / 4 + 1) >=
      Fact.suggestSlices(Seq(a, b), bytes))
  }

  test("suggestSlices: an input of unknown size adds no slices") {
    // an RDD-backed frame: Catalyst sizes it at Long.MaxValue ("unknown")
    val rdd = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)))
    val unknown = spark.createDataFrame(rdd,
      new org.apache.spark.sql.types.StructType().add("x", "long"))
    assert(Fact.suggestSlices(Seq(unknown), 1L << 30) === 1)
    assert(Fact.suggestSlices(Seq(unknown, unknown), 1L << 30) === 1)
    // beside a file input, K is sized from the file bytes alone
    val a = spark.read.parquet(s"$dir/orders.parquet")
    val aBytes = new java.io.File(s"$dir/orders.parquet").length
    assert(Fact.suggestSlices(Seq(a, unknown), aBytes) === 4)
    // the loop sizing reads the same input as unknown and leaves the width alone
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    graft.operators.Parallelism.withInputSizedShuffle(Seq(unknown)) {
      assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
    }
  }

  test("slice filter sits over the scan — no shuffle feeds it") {
    val (v, iv, t, c, p, vd, l) = inputs
    val plan = Fact.fatoVendasSlice(v, iv, t, c, p, vd, l, 4, 1)
      .queryExecution.executedPlan.toString()
    // the slicing predicate must appear as a Filter (xxhash64 % 4) — its
    // bounded-scratch value is cutting rows BEFORE the J1 exchange
    assert(plan.contains("xxhash64"), plan.take(1500))
  }
}
