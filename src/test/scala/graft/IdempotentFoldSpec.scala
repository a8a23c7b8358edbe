package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{ArtifactManifest, Parallelism}
import graft.streaming.{ArtifactRefresh, IdempotentFold}

/** Pins the run-identity contract (ADVICE r16): UUID-keyed 64-bit run tags,
  * engine adoption of the pre-minted metadata id, wipe-and-recreate at the
  * SAME checkpoint path = a NEW identity (the fixed-nightly-ck-dir ops
  * pattern that silently lost data under path-hash tags), keyed-name
  * parsing, the per-batch shuffle self-sizing (VERDICT r16 #5), and
  * [[IdempotentFold.foldStream]]'s rule that a failed side-effect withholds
  * the batch's commit marker.
  */
class IdempotentFoldSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val dCols = Seq(col("doc_id"), col("text"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readMeta(ck: String): String = {
    val fs = fsOf(ck)
    val in = fs.open(new Path(ck, "metadata"))
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  test("runIdentity: minted id is persisted, adopted by the engine, stable across restarts; a wiped+recreated path is a NEW identity") {
    val ck = tmp("idf_ck")
    fsOf(ck).delete(new Path(ck), true) // start from a NON-existent dir
    val tag1 = IdempotentFold.runIdentity(spark, ck)
    assert(tag1.matches("[0-9a-f]{16}"), s"64-bit hex tag expected: $tag1")
    val metaRaw = readMeta(ck)
    val uuid = """"id"\s*:\s*"([0-9a-fA-F-]+)"""".r
      .findFirstMatchIn(metaRaw).get.group(1)

    // run a real bounded stream on this checkpoint: the engine must ADOPT
    // the pre-minted query id, not replace it
    val src = tmp("idf_src")
    Seq((1L, "a", "pt", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(graft.sources.Crm.schemas("documents")).parquet(src)
      .writeStream
      .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     _: Long) => ())
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.id.toString === uuid, "engine must adopt the pre-minted query id")
    assert(IdempotentFold.runIdentity(spark, ck) === tag1,
      "same checkpoint -> same tag across restarts")

    // wipe and recreate at the SAME path -> a NEW identity (ADVICE r16
    // medium: a fixed nightly ck dir that gets wiped must not inherit a
    // dead run's markers)
    fsOf(ck).delete(new Path(ck), true)
    assert(IdempotentFold.runIdentity(spark, ck) !== tag1)
  }

  test("a checkpoint wiped and recreated at the same path is a NEW run: its batches fold instead of being swallowed (ADVICE r16 medium)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 4 >= 2)
    val art = tmp("idf_art")
    graft.operators.Dedup.writeSignatureArtifact(base, "doc_id", "text", art)
    ArtifactManifest.write(art, base.select(dCols: _*), dCols)
    val pairs = tmp("idf_pairs")
    val ck = tmp("idf_fixed_ck") // the "fixed nightly dir" ops pattern
    def deltaDir(mod: Int) = {
      val d = tmp(s"idf_delta$mod")
      docs.filter(col("doc_id") % 4 === mod)
        .repartitionByRange(2, col("doc_id")).write.mode("overwrite").parquet(d)
      d
    }
    ArtifactRefresh.refreshFromStream(spark, deltaDir(0), "doc_id", "text",
      art, pairs, ck)
    val bandsA = spark.read.parquet(s"$art/bands.parquet").count()
    // ops wipe the fixed ck dir; tomorrow's delta reuses the same path —
    // under r16 path-hash tags the old run's b0 marker swallowed this
    fsOf(ck).delete(new Path(ck), true)
    ArtifactRefresh.refreshFromStream(spark, deltaDir(1), "doc_id", "text",
      art, pairs, ck)
    assert(spark.read.parquet(s"$art/bands.parquet").count() > bandsA,
      "the recreated checkpoint's batches must append, not be silently skipped")
    ArtifactManifest.check(art, docs.select(dCols: _*), dCols)
  }

  test("keyed-name parsing: 16-hex run tags; 8-hex tags, plain parts and other names are unkeyed") {
    assert(IdempotentFold.parseKeyed("rdeadbeefdeadbeef_b12_part-0.parquet")
      === Some(("deadbeefdeadbeef", 12L)))
    assert(IdempotentFold.parseKeyed("rdeadbeef_b3_part-0.parquet") === None)
    assert(IdempotentFold.parseKeyed("part-00000-c000.snappy.parquet") === None)
    assert(IdempotentFold.parseMarker("rdeadbeefdeadbeef_b12")
      === Some(("deadbeefdeadbeef", 12L)))
    assert(IdempotentFold.parseMarker("rdeadbeef_b3") === None)
    assert(IdempotentFold.parseMarker("anything-else") === None)
    assert(IdempotentFold.keyedPrefix("aa", 5L) === "raa_b5_")
  }

  test("per-batch shuffle self-sizing: derived tracks input bytes, explicit override wins (VERDICT r16 #5)") {
    // pure derivation: floor for tiny, linear ramp, cap for pathological
    def derive(bytes: Long) = Parallelism.widthFor(bytes, 64L << 20, 8, 2048)
    assert(derive(0L) === 8)
    assert(derive(64L << 20) === 8)
    assert(derive((64L << 20) * 100) === 100)
    assert(derive(Long.MaxValue / 2) === 2048)

    // a parquet-backed batch sizes by its real file bytes: same data,
    // larger relative batch (smaller per-partition target) -> more
    // partitions; and a bigger batch -> more partitions at equal target
    val d = tmp("idf_size")
    spark.range(5000).selectExpr("id", "repeat('x', 100) as pad")
      .write.mode("overwrite").parquet(d)
    val d2 = tmp("idf_size2")
    spark.range(100000).selectExpr("id", "repeat('x', 100) as pad")
      .write.mode("overwrite").parquet(d2)
    def bytesOf(p: String) = fsOf(p).listStatus(new Path(p))
      .filter(_.isFile).map(_.getLen).sum
    val s = Parallelism.isolated(spark, 8)
    val df = s.read.parquet(d)
    val whole = IdempotentFold.sizeBatchShuffle(df, None, targetBytes = bytesOf(d))
    assert(whole === 8, "a batch at/below one target-partition stays at the floor")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
    val target = math.max(1L, bytesOf(d) / 40)
    val sliced = IdempotentFold.sizeBatchShuffle(df, None, targetBytes = target)
    assert(sliced > 8, "a batch spanning many targets derives more partitions")
    assert(s.conf.get("spark.sql.shuffle.partitions") === sliced.toString)
    val bigger = IdempotentFold.sizeBatchShuffle(
      s.read.parquet(d2), None, targetBytes = target)
    assert(bigger > sliced, "derived partitions must track the batch's size")
    // explicit override wins and the per-batch path never touches conf
    assert(IdempotentFold.sizeBatchShuffle(df, Some(5)) === 5)
    assert(s.conf.get("spark.sql.shuffle.partitions") === bigger.toString)
    // a batch of unknown size (an RDD-backed frame) gets the floor
    val rdd = s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)))
    val unknown = s.createDataFrame(rdd, new org.apache.spark.sql.types.StructType().add("x", "long"))
    assert(IdempotentFold.sizeBatchShuffle(unknown, None) === 8)
  }

  test("pruneMarkers prunes the named runs at or below the horizon") {
    val art = tmp("idf_prune")
    fsOf(art).mkdirs(new Path(art))
    val runA = "aaaaaaaaaaaaaaaa"
    IdempotentFold.markCommitted(spark, art, runA, 0L)
    IdempotentFold.markCommitted(spark, art, runA, 5L)
    IdempotentFold.markCommitted(spark, art, "bbbbbbbbbbbbbbbb", 1L)
    val n = IdempotentFold.pruneMarkers(spark, art, Seq(runA), 3L)
    assert(n === 1, "runA b0 prunes; b5 is above the horizon")
    assert(!IdempotentFold.isCommitted(spark, art, runA, 0L))
    assert(IdempotentFold.isCommitted(spark, art, runA, 5L))
    assert(IdempotentFold.isCommitted(spark, art, "bbbbbbbbbbbbbbbb", 1L),
      "an unnamed run's markers survive")
  }

  test("foldStream: a side-effect that throws fails the stream and withholds the batch's marker; a rerun converges to the uninterrupted run") {
    val src = tmp("idf_fs_src")
    (0L until 30L).map(i => (i, s"t$i")).toDF("id", "v")
      .repartitionByRange(3, col("id")).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val fCols = Seq(col("id"), col("v"))
    // two dests; on the `failOnCall`-th compute the second one's write
    // throws at run time while the first dest and the manifest fold land
    def fold(art: String, ck: String, failOnCall: Int): Long = {
      var calls = 0
      IdempotentFold.foldStream(spark, schema, src, art, ck, None, fCols,
        Seq(s"$art/rows.parquet", s"$art/ids.parquet")) { b =>
        calls += 1
        val ids =
          if (calls == failOnCall)
            b.select(raise_error(lit("injected write failure")).cast("long").as("id"))
          else b.select(col("id"))
        Seq(b.select(fCols: _*), ids)
      }
    }
    def artifact(tag: String): String = {
      val art = tmp(tag)
      ArtifactManifest.writeValues(art, 0L, 0L, spark)
      art
    }
    def rows(p: String) =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq

    val artU = artifact("idf_fs_u")
    assert(fold(artU, tmp("idf_fs_cku"), failOnCall = 0) === 3L)

    val art = artifact("idf_fs_f")
    val ck = tmp("idf_fs_ck")
    val e = intercept[Exception](fold(art, ck, failOnCall = 2))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected write failure")), e)
    val run = IdempotentFold.runIdentity(spark, ck)
    assert(IdempotentFold.isCommitted(spark, art, run, 0L))
    assert(!IdempotentFold.isCommitted(spark, art, run, 1L),
      "a batch whose side-effect failed must not be marked committed")
    assert(IdempotentFold.committedHorizon(spark, ck) === 0L)

    assert(fold(art, ck, failOnCall = 0) === 2L, "batches 1 and 2 run on the rerun")
    for (d <- Seq("rows.parquet", "ids.parquet"))
      assert(rows(s"$art/$d") === rows(s"$artU/$d"), d)
    val (m, mU) = (ArtifactManifest.read(art, spark).get,
      ArtifactManifest.read(artU, spark).get)
    assert((m.nRows, m.inputHash) === (mU.nRows, mU.inputHash))
    ArtifactManifest.check(art, spark.read.parquet(src), fCols)
  }
}
