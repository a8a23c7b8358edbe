package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{ArtifactManifest, Dedup}
import graft.streaming.{ArtifactRefresh, FoldCompaction, IdempotentFold}

/** Pins the streamed-artifact compaction loop (VERDICT r15 #3) and the run
  * identity that makes multi-run artifacts safe (ADVICE r15 medium):
  *
  *  - a SECOND refresh run (new nightly delta → new checkpoint → batch ids
  *    restarting at 0) must fold normally instead of being silently
  *    swallowed by the first run's markers/stamp — the data-loss scenario
  *    batchId-only keying had;
  *  - compacting the artifact between runs (merge replay-dead keyed files,
  *    prune dead markers) must leave every downstream observable — pairs,
  *    signature tables, provenance manifest — identical to a never-
  *    compacted control, through a subsequent refresh run AND a torn-batch
  *    replay drill on the compacted artifact;
  *  - the compaction itself is idempotent (manifest-matched skip), bounds
  *    the file count, and its in-place swap self-heals from a crash
  *    between the two renames (roll forward or back by the publish gate).
  */
class FoldCompactionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val dCols = Seq(col("doc_id"), col("text"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def pairsMultiset(path: String): Seq[(Long, Long)] =
    spark.read.parquet(path)
      .select(col("doc_id_a"), col("doc_id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFileCount(path: String): Int = {
    val fs = fsOf(path)
    fs.listStatus(new Path(path)).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private def markerCount(art: String): Int = {
    val fs = fsOf(art)
    val p = new Path(art, "_commits")
    if (!fs.exists(p)) 0 else fs.listStatus(p).length
  }

  /** Build a fresh base artifact + manifest, return its dir. */
  private def buildArtifact(base: org.apache.spark.sql.DataFrame): String = {
    val art = tmp("foldc_art")
    Dedup.writeSignatureArtifact(base, "doc_id", "text", art)
    ArtifactManifest.write(art, base.select(dCols: _*), dCols)
    art
  }

  /** Range-split a delta into 3 files = 3 micro-batches, return dir. */
  private def splitDelta(delta: org.apache.spark.sql.DataFrame): String = {
    val d = tmp("foldc_delta")
    delta.repartitionByRange(3, col("doc_id")).write.mode("overwrite").parquet(d)
    d
  }

  test("two-run lifecycle with mid-life compaction == never-compacted control; replay drill on the compacted artifact converges") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 4 >= 2)
    val deltaA = docs.filter(col("doc_id") % 4 === 0)
    val deltaB = docs.filter(col("doc_id") % 4 === 1)
    val deltaADir = splitDelta(deltaA)
    val deltaBDir = splitDelta(deltaB)

    // ---- control: two refresh runs, never compacted -------------------
    // Run B alone pins ADVICE r15: its checkpoint is NEW, so its batch ids
    // restart at 0 — with batchId-only keying every batch would have been
    // silently skipped and the manifest check below would throw.
    val artC = buildArtifact(base)
    val pairsC = tmp("foldc_pairs_c")
    ArtifactRefresh.refreshFromStream(spark, deltaADir, "doc_id", "text",
      artC, pairsC, tmp("foldc_ck"))
    val bandsAfterA = spark.read.parquet(s"$artC/bands.parquet").count()
    ArtifactRefresh.refreshFromStream(spark, deltaBDir, "doc_id", "text",
      artC, pairsC, tmp("foldc_ck"))
    assert(spark.read.parquet(s"$artC/bands.parquet").count() > bandsAfterA,
      "run B under a fresh checkpoint must append, not be skipped")
    val wantPairs = pairsMultiset(pairsC)
    val wantShingles = spark.read.parquet(s"$artC/shingles.parquet").count()
    val wantBands = spark.read.parquet(s"$artC/bands.parquet").count()
    ArtifactManifest.check(artC, docs.select(dCols: _*), dCols)

    // ---- treatment: compact between the runs --------------------------
    val artT = buildArtifact(base)
    val pairsT = tmp("foldc_pairs_t")
    val ckA = tmp("foldc_ck_a")
    ArtifactRefresh.refreshFromStream(spark, deltaADir, "doc_id", "text",
      artT, pairsT, ckA)
    assert(IdempotentFold.committedHorizon(spark, ckA) >= 2)
    val datasets = Seq(s"$artT/shingles.parquet", s"$artT/bands.parquet", pairsT)
    val manifestBefore = ArtifactManifest.read(artT, spark).get
    val bandFilesBefore = dataFileCount(s"$artT/bands.parquet")

    val stats = FoldCompaction.compactArtifact(spark, artT, datasets, ckA,
      targetFileBytes = 64L << 20)
    // run A is fully committed, so everything merges: one bin per dataset,
    // zero live keyed files, all of run A's markers pruned (the pairs sink
    // may hold nothing if a batch found no pairs — only the signature
    // tables are guaranteed non-empty per batch)
    assert(stats.values.forall(_.liveKept == 0))
    val sigTables = datasets.take(2)
    assert(sigTables.forall(d => !stats(d).skipped))
    assert(sigTables.forall(dataFileCount(_) == 1),
      "a fully-dead tiny dataset must merge to a single part")
    assert(dataFileCount(s"$artT/bands.parquet") < bandFilesBefore)
    assert(markerCount(artT) === 0, "replay-dead markers must be pruned")
    // the artifact-level provenance manifest is untouched by compaction
    assert(ArtifactManifest.read(artT, spark).get === manifestBefore)

    // idempotent: an immediate re-run is a manifest-matched no-op
    val again = FoldCompaction.compactArtifact(spark, artT, datasets, ckA,
      targetFileBytes = 64L << 20)
    assert(again.values.forall(_.skipped))

    // ---- run B on the compacted artifact -------------------------------
    val ckB = tmp("foldc_ck_b")
    ArtifactRefresh.refreshFromStream(spark, deltaBDir, "doc_id", "text",
      artT, pairsT, ckB)

    // ---- replay drill: tear run B's last batch and restart -------------
    val runB = IdempotentFold.runIdentity(spark, ckB)
    val fs = fsOf(artT)
    val lastBatch = fs.listStatus(new Path(artT, "_commits"))
      .map(_.getPath.getName.stripPrefix(s"r${runB}_b").toLong).max
    fs.delete(new Path(artT, s"_commits/r${runB}_b$lastBatch"), false)
    val keyed = fs.listStatus(new Path(s"$artT/bands.parquet"))
      .filter(_.getPath.getName.startsWith(s"r${runB}_b${lastBatch}_"))
    assert(keyed.nonEmpty, "run B's keyed files must survive compaction")
    fs.delete(keyed.head.getPath, false) // tear the append
    val commits = new java.io.File(s"$ckB/commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    commits.filter(_.getName.toLong >= lastBatch).foreach { f =>
      assert(f.delete())
      val crc = new java.io.File(f.getParent, s".${f.getName}.crc")
      if (crc.exists()) assert(crc.delete())
    }
    val replayed = ArtifactRefresh.refreshFromStream(spark, deltaBDir,
      "doc_id", "text", artT, pairsT, ckB)
    assert(replayed >= 1, "expected the torn batch to be re-delivered")

    // ---- every observable equals the never-compacted control -----------
    assert(pairsMultiset(pairsT) === wantPairs)
    assert(spark.read.parquet(s"$artT/shingles.parquet").count() === wantShingles)
    assert(spark.read.parquet(s"$artT/bands.parquet").count() === wantBands)
    val (mC, mT) = (ArtifactManifest.read(artC, spark).get,
      ArtifactManifest.read(artT, spark).get)
    assert((mT.nRows, mT.inputHash) === (mC.nRows, mC.inputHash))
    ArtifactManifest.check(artT, docs.select(dCols: _*), dCols)

    // ---- a second compaction after run B bounds the file count again ---
    val statsB = FoldCompaction.compactArtifact(spark, artT, datasets, ckB,
      targetFileBytes = 64L << 20)
    assert(statsB.values.forall(_.liveKept == 0))
    assert(sigTables.forall(d => !statsB(d).skipped))
    assert(sigTables.forall(dataFileCount(_) == 1))
    assert(markerCount(artT) === 0)
    assert(pairsMultiset(pairsT) === wantPairs)
    ArtifactManifest.check(artT, docs.select(dCols: _*), dCols)
  }

  test("in-place swap self-heals: roll back from a gate-less crash, roll forward from a gate-passed one") {
    import spark.implicits._
    val run = "deadbeefdeadbeef"
    val parent = tmp("foldc_swap")
    val ds = s"$parent/data.parquet"
    (1L to 100L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartition(4).write.parquet(ds)
    val want = spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq
    val fs = fsOf(parent)

    // crash BEFORE the publish gate passed: dataset renamed aside, tmp is
    // torn (no manifest) → recovery must roll BACK to the original
    require(fs.rename(new Path(ds), new Path(parent, "_compact_old_data.parquet")))
    fs.mkdirs(new Path(parent, "_compact_tmp_data.parquet"))
    val s1 = FoldCompaction.compactFold(spark, ds, run, horizon = -1L,
      targetFileBytes = 64L << 20)
    assert(spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq === want)
    assert(!s1.skipped && dataFileCount(ds) === 1, "rolled back, then compacted")

    // crash AFTER the gate passed (tmp holds the verified merged copy with
    // its manifest) but before the second rename → recovery rolls FORWARD
    require(fs.rename(new Path(ds), new Path(parent, "_compact_tmp_data.parquet")))
    fs.mkdirs(new Path(parent, "_compact_old_data.parquet"))
    val s2 = FoldCompaction.compactFold(spark, ds, run, horizon = -1L,
      targetFileBytes = 64L << 20)
    assert(spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq === want)
    assert(s2.skipped, "rolled forward to the already-compacted state, then skipped")
    assert(!fs.exists(new Path(parent, "_compact_old_data.parquet")))
    assert(!fs.exists(new Path(parent, "_compact_tmp_data.parquet")))
  }

  test("live keyed files (above the horizon, or foreign without a marker) survive verbatim; marker-proven foreign files merge") {
    import spark.implicits._
    val parent = tmp("foldc_live")
    val art = s"$parent/art"
    val ds = s"$art/data.parquet"
    fsOf(parent).mkdirs(new Path(art))
    def batchDf(lo: Long) = (lo until lo + 10L).map(i => (i, s"v$i")).toDF("id", "v")

    val runA = "aaaaaaaaaaaaaaaa"; val runB = "bbbbbbbbbbbbbbbb"
    // run A: batches 0,1 (committed — markers land), horizon will say 1
    for (b <- 0L to 1L) {
      IdempotentFold.appendKeyed(batchDf(b * 10), ds, runA, b)
      IdempotentFold.markCommitted(spark, art, runA, b)
    }
    // run B: batch 0 marker-proven (merges), batch 1 torn (no marker — live)
    IdempotentFold.appendKeyed(batchDf(100), ds, runB, 0L)
    IdempotentFold.markCommitted(spark, art, runB, 0L)
    IdempotentFold.appendKeyed(batchDf(200), ds, runB, 1L)

    val want = spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq
    val s = FoldCompaction.compactFold(spark, ds, runA, horizon = 1L,
      targetFileBytes = 64L << 20, markerDir = Some(art))
    assert(s.merged >= 3 && s.liveKept >= 1)
    assert(spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq === want)
    val fs = fsOf(ds)
    val liveLeft = fs.listStatus(new Path(ds))
      .filter(_.getPath.getName.startsWith(s"r${runB}_b1_"))
    assert(liveLeft.nonEmpty, "the torn (replay-live) batch must keep its keyed files")
    // …so a replay can still erase exactly that batch's contribution
    IdempotentFold.cleanKeyed(spark, ds, runB, 1L)
    assert(spark.read.parquet(ds).count() === want.size - 10L)
  }

  test("retireRuns deletes dead runs' markers once their files merged; refuses while keyed files remain (VERDICT r16 #4)") {
    import spark.implicits._
    val parent = tmp("foldc_retire")
    val art = s"$parent/art"; val ds = s"$art/data.parquet"
    fsOf(parent).mkdirs(new Path(art))
    def batchDf(lo: Long) = (lo until lo + 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").coalesce(1)
    val runA = "aaaaaaaaaaaaaaaa"; val runB = "bbbbbbbbbbbbbbbb"
    val runC = "cccccccccccccccc"
    for ((r, lo) <- Seq((runA, 0L), (runB, 100L))) {
      IdempotentFold.appendKeyed(batchDf(lo), ds, r, 0L)
      IdempotentFold.markCommitted(spark, art, r, 0L)
    }
    // live run C: committed, but above C's own compaction horizon
    IdempotentFold.appendKeyed(batchDf(200), ds, runC, 7L)
    IdempotentFold.markCommitted(spark, art, runC, 7L)

    // refuse while A's keyed files are unmerged
    intercept[IllegalArgumentException](
      FoldCompaction.retireRuns(spark, art, Seq(ds), Seq(runA)))

    // compact as run C: A and B merge under marker proof; C stays keyed
    val want = spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq
    FoldCompaction.compactFold(spark, ds, runC, horizon = -1L,
      targetFileBytes = 64L << 20, markerDir = Some(art))
    assert(spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq === want)

    assert(FoldCompaction.markerRuns(spark, art) === Set(runA, runB, runC))
    val n = FoldCompaction.retireRuns(spark, art, Seq(ds), Seq(runA, runB))
    assert(n === 2)
    assert(!IdempotentFold.isCommitted(spark, art, runA, 0L))
    assert(!IdempotentFold.isCommitted(spark, art, runB, 0L))
    assert(IdempotentFold.isCommitted(spark, art, runC, 7L),
      "the live run's markers survive retirement of the dead ones")
    // run C's replay contract is intact: its keyed files still erase cleanly
    IdempotentFold.cleanKeyed(spark, ds, runC, 7L)
    assert(spark.read.parquet(ds).count() === want.size - 10L)
  }

  test("plain parts at compaction size are retained verbatim: a nightly pass costs O(new), not O(artifact) (ADVICE r16)") {
    import spark.implicits._
    val parent = tmp("foldc_keep")
    val art = s"$parent/art"; val ds = s"$art/data.parquet"
    val fs = fsOf(parent)
    fs.mkdirs(new Path(ds))
    def movePart(stage: String, rename: String => String = identity): String = {
      val part = fs.listStatus(new Path(stage))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-")).head
      val name = rename(part.getPath.getName)
      require(fs.rename(part.getPath, new Path(ds, name)))
      name
    }
    // a "prior compaction output": one big plain part
    val bigStage = tmp("foldc_keep_big")
    (1L to 20000L).map(i => (i, s"payload $i ${"y" * (i % 53).toInt}"))
      .toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(bigStage)
    val bigName = movePart(bigStage)
    val bigLen = fs.getFileStatus(new Path(ds, bigName)).getLen
    assert(bigLen > 20000, s"fixture big part too small: $bigLen")
    // tonight's new work: one dead keyed batch + one small plain file
    val run = "dddddddddddddddd"
    IdempotentFold.appendKeyed(
      (1L to 20L).map(i => (i + 100000L, s"n$i")).toDF("id", "v").coalesce(1),
      ds, run, 0L)
    val smallStage = tmp("foldc_keep_small")
    (1L to 30L).map(i => (i + 200000L, s"s$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(smallStage)
    movePart(smallStage, n => s"part-small-$n")

    val want = spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq
    val mtimeBefore = fs.getFileStatus(new Path(ds, bigName)).getModificationTime
    val st1 = FoldCompaction.compactFold(spark, ds, run, horizon = 0L,
      targetFileBytes = bigLen * 2, markerDir = Some(art))
    assert(!st1.skipped && st1.merged === 2,
      "exactly the keyed batch and the small plain file merge")
    assert(st1.liveKept === 1, "the compaction-sized plain part is retained")
    val after = fs.getFileStatus(new Path(ds, bigName))
    assert(after.getModificationTime === mtimeBefore,
      "retained verbatim (linked/copied, never rewritten)")
    assert(spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq === want)

    // next night with nothing new: the single merged runt alone is a no-op
    val st2 = FoldCompaction.compactFold(spark, ds, run, horizon = 0L,
      targetFileBytes = bigLen * 2, markerDir = Some(art))
    assert(st2.skipped, "a lone plain runt must not be rewritten into itself")
    assert(spark.read.parquet(ds).collect().map(_.toString).sorted.toSeq === want)
  }

  test("replay: a landed batch whose engine commit tore skips on its marker; a torn batch whose manifest fold landed cleans, recomputes and folds once") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 4 >= 2)
    val deltaDir = splitDelta(docs.filter(col("doc_id") % 4 < 2))
    val art = buildArtifact(base)
    val pairs = tmp("foldc_rp_pairs")
    val ck = tmp("foldc_rp_ck")
    ArtifactRefresh.refreshFromStream(spark, deltaDir, "doc_id", "text",
      art, pairs, ck)
    val wantPairs = pairsMultiset(pairs)
    val wantBands = spark.read.parquet(s"$art/bands.parquet").count()
    val wantManifest = ArtifactManifest.read(art, spark).get
    val run = IdempotentFold.runIdentity(spark, ck)
    val fs = fsOf(art)
    val last = fs.listStatus(new Path(art, "_commits"))
      .flatMap(st => IdempotentFold.parseMarker(st.getPath.getName)).map(_._2).max
    assert(last >= 2)
    def bandFiles = fs.listStatus(new Path(s"$art/bands.parquet"))
      .map(_.getPath.getName).filter(_.startsWith(s"r${run}_b${last}_")).toSet
    def tearEngineCommit(): Unit =
      new java.io.File(s"$ck/commits").listFiles()
        .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong >= last)
        .foreach { f =>
          assert(f.delete())
          val crc = new java.io.File(f.getParent, s".${f.getName}.crc")
          if (crc.exists()) assert(crc.delete())
        }
    def assertConverged(): Unit = {
      assert(pairsMultiset(pairs) === wantPairs)
      assert(spark.read.parquet(s"$art/bands.parquet").count() === wantBands)
      assert(ArtifactManifest.read(art, spark).get === wantManifest)
      ArtifactManifest.check(art, docs.select(dCols: _*), dCols)
    }

    // case 1: every side-effect and the marker landed, the engine commit
    // did not — the re-delivered batch must SKIP (its files stay as written)
    val landed = bandFiles
    assert(landed.nonEmpty, "expected the last batch's keyed band files")
    tearEngineCommit()
    assert(ArtifactRefresh.refreshFromStream(spark, deltaDir, "doc_id", "text",
      art, pairs, ck) >= 1, "expected the batch to be re-delivered")
    assert(bandFiles === landed, "a marked batch must not be recomputed")
    assertConverged()

    // case 2: the marker is gone and a band file is torn, but the manifest
    // fold landed — the replay must clean, recompute, and not fold twice
    fs.delete(new Path(art, s"_commits/${IdempotentFold.markerName(run, last)}"), false)
    fs.delete(new Path(s"$art/bands.parquet", landed.head), false)
    tearEngineCommit()
    assert(ArtifactRefresh.refreshFromStream(spark, deltaDir, "doc_id", "text",
      art, pairs, ck) >= 1, "expected the torn batch to be re-delivered")
    assert(bandFiles.nonEmpty && (bandFiles & landed).isEmpty,
      "the torn batch's files must be rewritten")
    assertConverged()
  }

  test("fold session width: a caller override survives; default stays 8") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val deltaDir = splitDelta(delta)
    // the fold's stream pins its session's width in the checkpoint's first
    // offset log entry; returns that width and the emitted pairs
    def runWith(sp: Option[Int]): (String, Seq[(Long, Long)]) = {
      val art = buildArtifact(base)
      val pairs = tmp("foldc_sp_pairs")
      val ck = tmp("foldc_sp_ck")
      ArtifactRefresh.refreshFromStream(spark, deltaDir, "doc_id", "text",
        art, pairs, ck, shufflePartitions = sp)
      val offsets = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(ck, "offsets", "0")), "UTF-8")
      val width = """"spark\.sql\.shuffle\.partitions":"(\d+)"""".r
        .findFirstMatchIn(offsets).map(_.group(1)).getOrElse(offsets)
      (width, pairsMultiset(pairs))
    }
    val (overridden, pairs5) = runWith(Some(5))
    val (default, pairsDefault) = runWith(None)
    assert(overridden === "5")
    assert(default === "8")
    // and the override changes nothing observable: same refresh, same pairs
    assert(pairs5 === pairsDefault)
  }
}
