package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._

import graft.operators.{ArtifactManifest, Compaction, Parallelism}
import graft.streaming.FoldCompaction

/** A commit protocol whose jobs land one data file twice: a rewrite that
  * alters content, for the publish gate to refuse. */
class DuplicatingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(jobContext, taskCommits)
    val dir = new Path(path)
    val fs = dir.getFileSystem(jobContext.getConfiguration)
    val part = fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-")).minBy(_.getName)
    FileUtil.copy(fs, part, fs, new Path(dir, s"dup-${part.getName}"), false,
      jobContext.getConfiguration): Unit
  }
}

/** Pins the small-file compaction contract (r14): size-aware bin-packing,
  * proven content preservation, idempotent re-runs, and the range variant's
  * clustering (disjoint per-file key ranges, so sorted-layout row skipping
  * survives the rewrite). */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def docs(n: Int) =
    (1 to n).map(i => (i.toLong, s"doc $i body ${"x" * (i % 97)}", i % 7))
      .toDF("doc_id", "text", "grp")

  test("output file count is ceil(bytes/target), min 1") {
    // the count compact() and FoldCompaction ask of widthFor
    def files(bytes: Long, target: Long) = Parallelism.widthFor(bytes, target, 1, Int.MaxValue)
    assert(files(0L, 100L) == 1)
    assert(files(1L, 100L) == 1)
    assert(files(100L, 100L) == 1)
    assert(files(101L, 100L) == 2)
    assert(files(1000L, 100L) == 10)
    intercept[IllegalArgumentException](files(10L, 0L))
  }

  test("bin-pack merges a scattered dataset, preserving content exactly") {
    val in = tmp("compact_spec_in"); val out = tmp("compact_spec_out")
    docs(500).repartition(64).write.mode("overwrite").parquet(in)
    val st = Compaction.compact(spark, in, out, targetFileBytes = 64L << 20)
    assert(!st.skipped)
    assert(st.nFilesIn == 64)
    assert(st.nFilesOut == 1) // everything fits one target-sized bin
    assert(st.rows == 500)
    val before = docs(500).collect().toSet
    assert(spark.read.parquet(out).collect().toSet == before)
  }

  test("re-running the same compaction is a no-op (manifest-gated idempotence)") {
    val in = tmp("compact_idem_in"); val out = tmp("compact_idem_out")
    docs(200).repartition(16).write.mode("overwrite").parquet(in)
    val first = Compaction.compact(spark, in, out, targetFileBytes = 64L << 20)
    assert(!first.skipped)
    val mtimes = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(st => st.getPath.getName -> st.getModificationTime).toMap
    }
    val second = Compaction.compact(spark, in, out, targetFileBytes = 64L << 20)
    assert(second.skipped)
    assert(second.rows == 200)
    val mtimes2 = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(st => st.getPath.getName -> st.getModificationTime).toMap
    }
    assert(mtimes2 == mtimes) // nothing rewritten
  }

  test("a drifted input re-compacts instead of skipping") {
    val in = tmp("compact_drift_in"); val out = tmp("compact_drift_out")
    docs(100).repartition(8).write.mode("overwrite").parquet(in)
    assert(!Compaction.compact(spark, in, out, 64L << 20).skipped)
    docs(101).repartition(8).write.mode("overwrite").parquet(in) // content drift
    val st = Compaction.compact(spark, in, out, 64L << 20)
    assert(!st.skipped)
    assert(st.rows == 101)
  }

  test("range variant yields disjoint per-file key ranges (clustering preserved)") {
    val in = tmp("compact_range_in"); val out = tmp("compact_range_out")
    docs(4000).repartition(32).write.mode("overwrite").parquet(in)
    // tiny target so the rewrite MUST produce several files
    val bytesIn = {
      val p = new org.apache.hadoop.fs.Path(in)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(_.getLen).sum
    }
    val target = math.max(1L, bytesIn / 4)
    val st = Compaction.compact(spark, in, out, target, sortCol = Some("doc_id"))
    assert(st.nFilesOut >= 2, s"expected a multi-file rewrite, got ${st.nFilesOut}")
    // per-file [min,max] of the sort key must not overlap across files
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ranges = fs.listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map { f =>
        val r = spark.read.parquet(f.getPath.toString)
          .agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(out).count() == 4000)
  }

  test("partitioned dataset compacts per partition; a delta rewrites only its partition") {
    val in = tmp("compact_part_in"); val out = tmp("compact_part_out")
    docs(700).repartition(8).write.partitionBy("grp").mode("overwrite").parquet(in)
    val stats = Compaction.compactPartitioned(spark, in, out, 64L << 20)
    assert(stats.keySet == (0 to 6).map(g => s"grp=$g").toSet)
    assert(stats.values.forall(st => !st.skipped && st.nFilesOut == 1))
    // whole-dataset content survives, partition column re-derived from layout
    assert(spark.read.parquet(out).collect().toSet == docs(700).collect().toSet)
    // tonight's delta lands in ONE partition -> only that partition rewrites
    Seq((701L, "delta a", 3), (702L, "delta b", 3)).toDF("doc_id", "text", "grp")
      .write.partitionBy("grp").mode("append").parquet(in)
    val stats2 = Compaction.compactPartitioned(spark, in, out, 64L << 20)
    assert(!stats2("grp=3").skipped)
    assert((0 to 6).filter(_ != 3).forall(g => stats2(s"grp=$g").skipped))
    assert(spark.read.parquet(out).count() == 702)
  }

  test("a failed leaf fails compactPartitioned only once no leaf rewrite is running") {
    val in = tmp("compact_fail_in"); val out = tmp("compact_fail_out")
    // g=2 is big enough that its rewrite outlasts g=1's failure by seconds
    spark.range(3000000).selectExpr("id", "id % 1000 as v").write.parquet(s"$in/g=2")
    // g=1 holds a file that is not parquet: its rewrite fails at once
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$in/g=1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/g=1/part-0.parquet"),
      "not parquet".getBytes("UTF-8"))
    val sc = spark.sparkContext
    val group = "compact-fail-fast"
    // pool threads inherit the caller's job group
    sc.setJobGroup(group, group)
    try intercept[Exception](
      Compaction.compactPartitioned(spark, in, out, 64L << 20, parallelism = 2))
    finally sc.clearJobGroup()
    val running = sc.statusTracker.getJobIdsForGroup(group).filter(id =>
      sc.statusTracker.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    assert(running.isEmpty, s"jobs still running after the call threw: ${running.toSeq}")
    // the good leaf's rewrite finished before the call threw, and nothing
    // lands afterwards that a caller retrying at once could race
    val manifest = new java.io.File(s"$out/g=2/_input_manifest.json")
    assert(manifest.exists, "g=2's rewrite was still running when the call threw")
    val landed = manifest.lastModified
    Thread.sleep(1000)
    assert(manifest.lastModified === landed)
  }

  test("compact refuses inDir == outDir and nested in/out dirs (r15 guard)") {
    val in = tmp("compact_guard_in")
    docs(10).write.mode("overwrite").parquet(in)
    intercept[IllegalArgumentException](
      Compaction.compact(spark, in, in, 64L << 20))
    intercept[IllegalArgumentException](
      Compaction.compact(spark, in, s"$in/nested_out", 64L << 20))
    intercept[IllegalArgumentException](
      Compaction.compact(spark, s"$in/sub", in, 64L << 20))
    // and the same precondition on the partitioned driver
    intercept[IllegalArgumentException](
      Compaction.compactPartitioned(spark, in, in, 64L << 20))
  }

  test("compact refuses a nested layout loudly instead of flattening it (r15, VERDICT r14 #3)") {
    val in = tmp("compact_nested_refuse_in")
    docs(100).write.partitionBy("grp").mode("overwrite").parquet(in)
    val e = intercept[IllegalArgumentException](
      Compaction.compact(spark, in, tmp("compact_nested_refuse_out"), 64L << 20))
    assert(e.getMessage.contains("sub-directories"))
  }

  test("two-level layout compacts per LEAF, preserving the nested scheme; delta touches only its leaf") {
    val in = tmp("compact_two_in"); val out = tmp("compact_two_out")
    val data = docs(600).withColumn("day", col("doc_id") % 2)
    data.repartition(6).write.partitionBy("grp", "day")
      .mode("overwrite").parquet(in)
    val stats = Compaction.compactPartitioned(spark, in, out, 64L << 20,
      parallelism = 4)
    val wantLeaves = (0 to 6).flatMap(g => Seq(0, 1).map(d => s"grp=$g/day=$d")).toSet
    assert(stats.keySet == wantLeaves)
    assert(stats.values.forall(st => !st.skipped && st.nFilesOut == 1))
    // BOTH partition keys re-derive from the output layout; content exact
    // (partition discovery infers day as int — cast back for the compare)
    assert(spark.read.parquet(out)
      .select(col("doc_id"), col("grp"), col("day").cast("long"))
      .collect().toSet ===
      data.select(col("doc_id"), col("grp"), col("day")).collect().toSet)
    // tonight's delta lands in one LEAF -> only that leaf rewrites
    Seq((601L, "delta", 3))
      .toDF("doc_id", "text", "grp").withColumn("day", col("doc_id") % 2)
      .write.partitionBy("grp", "day").mode("append").parquet(in)
    val stats2 = Compaction.compactPartitioned(spark, in, out, 64L << 20)
    assert(!stats2("grp=3/day=1").skipped)
    assert(stats2.filter(_._1 != "grp=3/day=1").values.forall(_.skipped))
    assert(spark.read.parquet(out).count() == 601)
  }

  test("partitioned rollup manifest == recompute over the union of leaves (no rescan needed)") {
    import graft.operators.ArtifactManifest
    val in = tmp("compact_roll_in"); val out = tmp("compact_roll_out")
    docs(300).repartition(4).write.partitionBy("grp").mode("overwrite").parquet(in)
    Compaction.compactPartitioned(spark, in, out, 64L << 20)
    val rollup = ArtifactManifest.read(out, spark).get
    // recompute the dataset fingerprint the hard way: per-leaf reads (data
    // columns only — partition keys live in the layout), unioned
    val leaves = (0 to 6).map(g => spark.read.parquet(s"$out/grp=$g"))
    val whole = leaves.reduce(_ unionByName _)
    val (n, h) = ArtifactManifest.fingerprintOf(whole,
      whole.columns.toSeq.map(col))
    assert((rollup.nRows, rollup.inputHash) === ((n, h)))
    // idempotent re-run leaves the rollup identical
    Compaction.compactPartitioned(spark, in, out, 64L << 20)
    assert(ArtifactManifest.read(out, spark).get === rollup)
  }

  test("a corrupt output WITHOUT a manifest is re-compacted, never skipped (publish-gate ordering)") {
    // ADVICE r14 high: the manifest lands only AFTER the in-memory
    // fingerprint compare passes — so any crash or refusal leaves no
    // manifest, and a later run re-runs the rewrite instead of trusting
    // the corrupt output. Simulate the post-crash state: an output with
    // altered content and no manifest.
    val in = tmp("compact_crash_in"); val out = tmp("compact_crash_out")
    docs(120).repartition(4).write.mode("overwrite").parquet(in)
    docs(119).write.mode("overwrite").parquet(out) // torn rewrite, no manifest
    val st = Compaction.compact(spark, in, out, 64L << 20)
    assert(!st.skipped)
    assert(spark.read.parquet(out).count() == 120)
    assert(spark.read.parquet(out).collect().toSet == docs(120).collect().toSet)
  }

  test("scan economy: the skip path reads the input exactly once; a rewrite reads input twice + read-back (ADVICE r14 low)") {
    val in = tmp("compact_scan_in"); val out = tmp("compact_scan_out")
    val n = 200L
    docs(n.toInt).repartition(8).write.mode("overwrite").parquet(in)

    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          counter.addAndGet(te.taskMetrics.inputMetrics.recordsRead): Unit
    }
    def recordsDuring(f: => Unit): Long = {
      spark.sparkContext.addSparkListener(listener)
      try {
        counter.set(0)
        f
        // listener delivery is async: wait for the count to stabilize
        var last = -1L
        var same = 0
        while (same < 3) {
          Thread.sleep(100)
          val cur = counter.get()
          if (cur == last) same += 1 else { same = 0; last = cur }
        }
        last
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    // fresh rewrite: fingerprint scan (n) + the write's own read (n) +
    // read-back fingerprint (n) — and nothing else
    val freshReads = recordsDuring {
      assert(!Compaction.compact(spark, in, out, 64L << 20).skipped)
    }
    assert(freshReads == 3 * n, s"fresh rewrite read $freshReads records, want ${3 * n}")

    // idempotent no-op: ONE fingerprint scan decides the skip AND supplies
    // the stats row count (no second count() action)
    val skipReads = recordsDuring {
      assert(Compaction.compact(spark, in, out, 64L << 20).skipped)
    }
    assert(skipReads == n, s"skip path read $skipReads records, want $n")
  }

  test("a mixed layout (loose data file or stray dir beside key=value dirs) fails loudly (r16, VERDICT r15 #4)") {
    val in = tmp("compact_mixed_in")
    docs(100).write.partitionBy("grp").mode("overwrite").parquet(in)
    // a manual append parks a data file at the ROOT, beside the grp= dirs:
    // silently omitting it from the compacted copy is the r14-#3 loss class
    val fs = new org.apache.hadoop.fs.Path(in)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(in, "loose-part-0000.parquet"), true).close()
    val e = intercept[IllegalArgumentException](
      Compaction.compactPartitioned(spark, in, tmp("compact_mixed_out"), 64L << 20))
    assert(e.getMessage.contains("mixed layout") &&
      e.getMessage.contains("loose-part-0000.parquet"))
    // a stray non-partition SUBDIR is refused the same way
    fs.delete(new org.apache.hadoop.fs.Path(in, "loose-part-0000.parquet"), false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(in, "straydir"))
    val e2 = intercept[IllegalArgumentException](
      Compaction.compactPartitioned(spark, in, tmp("compact_mixed_out2"), 64L << 20))
    assert(e2.getMessage.contains("mixed layout") && e2.getMessage.contains("straydir"))
  }

  test("subset compaction == full run restricted to those leaves; rollup updated incrementally, still == recompute (r16, VERDICT r15 #6)") {
    import graft.operators.ArtifactManifest
    val in = tmp("compact_sub_in")
    val out = tmp("compact_sub_out"); val outFull = tmp("compact_sub_outfull")
    docs(700).repartition(8).write.partitionBy("grp").mode("overwrite").parquet(in)
    Compaction.compactPartitioned(spark, in, out, 64L << 20)
    val mtimeUntouched = {
      val p = new org.apache.hadoop.fs.Path(s"$out/grp=0")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(st => st.getPath.getName -> st.getModificationTime).toMap
    }
    // tonight's delta touches grp=2 and grp=5 only
    Seq((701L, "delta a", 2), (702L, "delta b", 5)).toDF("doc_id", "text", "grp")
      .write.partitionBy("grp").mode("append").parquet(in)
    val stats = Compaction.compactPartitioned(spark, in, out, 64L << 20,
      partitions = Some(Seq("grp=2", "grp=5")))
    assert(stats.keySet === Set("grp=2", "grp=5"))
    assert(stats.values.forall(!_.skipped))
    // untouched leaves were not even visited (no files re-stat'd/rewritten)
    val mtimeAfter = {
      val p = new org.apache.hadoop.fs.Path(s"$out/grp=0")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(st => st.getPath.getName -> st.getModificationTime).toMap
    }
    assert(mtimeAfter === mtimeUntouched)
    // subset result == a full run over the same input
    Compaction.compactPartitioned(spark, in, outFull, 64L << 20)
    assert(spark.read.parquet(out).collect().toSet ===
      spark.read.parquet(outFull).collect().toSet)
    // the incrementally-updated rollup == the full run's recomputed rollup
    val (ri, rf) = (ArtifactManifest.read(out, spark).get,
      ArtifactManifest.read(outFull, spark).get)
    assert((ri.nRows, ri.inputHash) === ((rf.nRows, rf.inputHash)))
    // no prior rollup: falls back to summing the out layout's sidecars
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out, "_input_manifest.json"), false)
    Compaction.compactPartitioned(spark, in, out, 64L << 20,
      partitions = Some(Seq("grp=2")))
    val r2 = ArtifactManifest.read(out, spark).get
    assert((r2.nRows, r2.inputHash) === ((rf.nRows, rf.inputHash)))
    // validation: a missing or non-leaf subset entry is a loud error
    intercept[IllegalArgumentException](
      Compaction.compactPartitioned(spark, in, out, 64L << 20,
        partitions = Some(Seq("grp=99"))))
    intercept[IllegalArgumentException](
      Compaction.compactPartitioned(spark, in, out, 64L << 20,
        partitions = Some(Seq("not-a-kv-path"))))
  }

  test("a rewrite that altered content would refuse to publish") {
    // Simulate by checking the manifest contract compact() relies on: the
    // OUTPUT check runs against the INPUT's stored fingerprint, so any
    // content difference throws (full refusal matrix is ArtifactManifestSpec).
    val in = tmp("compact_refuse_in")
    docs(50).write.mode("overwrite").parquet(in)
    val inDf = spark.read.parquet(in)
    val cols = inDf.columns.toSeq.map(col)
    val out = tmp("compact_refuse_out")
    docs(49).write.mode("overwrite").parquet(out) // a "lossy rewrite"
    operators.ArtifactManifest.write(out, inDf, cols)
    intercept[IllegalArgumentException] {
      operators.ArtifactManifest.check(out, spark.read.parquet(out), cols)
    }
  }

  test("subset entries normalize before dedup: equivalent spellings are ONE leaf (ADVICE r16)") {
    import graft.operators.ArtifactManifest
    val in = tmp("compact_norm_in")
    val out = tmp("compact_norm_out"); val outFull = tmp("compact_norm_outfull")
    docs(300).repartition(4).write.partitionBy("grp").mode("overwrite").parquet(in)
    Compaction.compactPartitioned(spark, in, out, 64L << 20)
    // drift grp=2 so a double-applied incremental delta would corrupt the
    // rollup (old raw-string distinct kept "grp=2" and "grp=2/" as two
    // entries: the same leaf compacted twice and its delta counted twice)
    Seq((901L, "delta", 2)).toDF("doc_id", "text", "grp")
      .write.partitionBy("grp").mode("append").parquet(in)
    val stats = Compaction.compactPartitioned(spark, in, out, 64L << 20,
      partitions = Some(Seq("grp=2", "grp=2/", "/grp=2//")), parallelism = 2)
    assert(stats.keySet === Set("grp=2"),
      "equivalent spellings must collapse to one normalized leaf")
    // the incrementally-updated rollup still equals a full recompute
    Compaction.compactPartitioned(spark, in, outFull, 64L << 20)
    val (ri, rf) = (ArtifactManifest.read(out, spark).get,
      ArtifactManifest.read(outFull, spark).get)
    assert((ri.nRows, ri.inputHash) === ((rf.nRows, rf.inputHash)))
  }

  /** Per-file [min, max] of `key` over the data files of `dir`, by min. */
  private def fileRanges(dir: String, key: String): Seq[(Long, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map { f =>
        val r = spark.read.parquet(f.getPath.toString)
          .agg(min(col(key)), max(col(key))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
  }

  test("the skip honours the sort column: an unsorted output is rewritten when a sort is asked") {
    val in = tmp("compact_sortskip_in"); val out = tmp("compact_sortskip_out")
    docs(4000).repartition(32).write.mode("overwrite").parquet(in)
    val bytesIn = {
      val p = new Path(in)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-")).map(_.getLen).sum
    }
    val target = math.max(1L, bytesIn / 4)
    assert(!Compaction.compact(spark, in, out, target).skipped)
    val sorted = Compaction.compact(spark, in, out, target, sortCol = Some("doc_id"))
    assert(!sorted.skipped, "same content, but the stored layout is not sorted by doc_id")
    assert(sorted.nFilesOut >= 2, s"expected a multi-file rewrite, got ${sorted.nFilesOut}")
    val ranges = fileRanges(out, "doc_id")
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    assert(ArtifactManifest.read(out, spark).flatMap(_.sortCol) === Some("doc_id"))
    // the same sort again is the no-op; dropping the sort is not
    assert(Compaction.compact(spark, in, out, target, sortCol = Some("doc_id")).skipped)
    assert(!Compaction.compact(spark, in, out, target).skipped)
    assert(spark.read.parquet(out).collect().toSet === docs(4000).collect().toSet)
  }

  test("the verified rewrite refuses a fingerprint its output does not match: no manifest, and the next compact rewrites") {
    val in = tmp("compact_gate_in"); val out = tmp("compact_gate_out")
    docs(100).repartition(4).write.mode("overwrite").parquet(in)
    val df = spark.read.parquet(in)
    val (n, h) = Compaction.contentOf(df)
    val e = intercept[IllegalArgumentException](
      Compaction.rewrite(spark, df, 1L << 20, out, 64L << 20, None, (n, h + 1)))
    assert(e.getMessage.contains("altered content"), e.getMessage)
    assert(ArtifactManifest.read(out, spark).isEmpty, "a refused rewrite must publish no manifest")
    val st = Compaction.compact(spark, in, out, 64L << 20)
    assert(!st.skipped, "an output without a manifest is rewritten, never skipped")
    assert(ArtifactManifest.read(out, spark).map(m => (m.nRows, m.inputHash)) === Some((n, h)))
  }

  test("a fold rewrite that alters content throws and leaves the dataset byte-for-byte untouched") {
    val parent = tmp("compact_fold_gate")
    val ds = s"$parent/data.parquet"
    docs(300).repartition(6).write.parquet(ds)
    def snapshot: Map[String, Seq[Byte]] = {
      val files = new java.io.File(ds).listFiles().toSeq
      files.map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = snapshot
    val altering = spark.newSession()
    altering.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[DuplicatingCommitProtocol].getName)
    val run = "deadbeefdeadbeef"
    val e = intercept[IllegalArgumentException](
      FoldCompaction.compactFold(altering, ds, run, horizon = -1L, targetFileBytes = 64L << 20))
    assert(e.getMessage.contains("altered content"), e.getMessage)
    assert(snapshot === before)
    assert(ArtifactManifest.read(s"$parent/_compact_tmp_data.parquet", spark).isEmpty)
    // the next pass discards the refused copy and compacts
    val st = FoldCompaction.compactFold(spark, ds, run, horizon = -1L, targetFileBytes = 64L << 20)
    assert(!st.skipped && st.merged === 6 && st.filesOut === 1)
    assert(spark.read.parquet(ds).collect().toSet === docs(300).collect().toSet)
  }
}
