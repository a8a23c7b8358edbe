package graft

import java.nio.file.Files

import graft.operators.Parallelism

/** Focused specs for the r18 optimization internals, now all members of
  * [[graft.operators.Parallelism]]: the per-caller loop width floor +
  * reentrant session lock (ADVICE r17 medium/low), the bounded-pool
  * overlap of independent driver-side work (VERDICT r17 #1), and the
  * derived stream-join state width (VERDICT r17 #6 done-condition).
  */
class R18OpsSpec extends SparkSpec {
  import spark.implicits._

  test("withInputSizedShuffle honors the per-caller floor and restores the session width") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val df = Seq(1, 2, 3).toDF("x")
    var seen = -1
    Parallelism.withInputSizedShuffle(Seq(df), floorN = 3) {
      seen = spark.conf.get("spark.sql.shuffle.partitions").toInt
    }
    // tiny input derives width 1; the floor lifts it to 3 (< session 4)
    assert(seen === 3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === prev)
  }

  test("withInputSizedShuffle is reentrant: a nested loop sizes within the outer width, both restore") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val df = Seq(1).toDF("x")
    Parallelism.withInputSizedShuffle(Seq(df), floorN = 2) {
      val outer = spark.conf.get("spark.sql.shuffle.partitions")
      assert(outer === "2")
      Parallelism.withInputSizedShuffle(Seq(df)) {
        assert(spark.conf.get("spark.sql.shuffle.partitions").toInt <= 2)
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") === outer)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === prev)
  }

  test("inParallel runs every task and propagates the first failure's cause") {
    val hits = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    Parallelism.inParallel(spark)(
      () => { hits.add(1): Unit },
      () => { hits.add(2): Unit },
      () => { hits.add(3): Unit })
    assert(hits.size === 3)
    val e = intercept[IllegalStateException] {
      Parallelism.inParallel(spark)(
        () => (),
        () => throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
  }

  test("inParallel runs a single task on the caller thread") {
    val t = Thread.currentThread()
    var ran: Thread = null
    Parallelism.inParallel(spark)(() => { ran = Thread.currentThread() })
    assert(ran eq t)
  }

  test("stream-join state width sizes from input bytes with floor and cap") {
    // the stream-join gates' rule: planBytes of the stored events at 64 MB
    // per partition, clamped to [2, 2048]
    val dir = Files.createTempDirectory("dsp").resolve("t").toString
    spark.range(1000).write.parquet(dir)
    val fileBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // a file-backed plan's size is its files' bytes
    assert(Parallelism.planBytes(spark.read.parquet(dir)) === Some(fileBytes))
    def width(bytes: Long, targetBytes: Long = 64L << 20, cap: Int = 2048) =
      Parallelism.widthFor(bytes, targetBytes, 2, cap)
    // tiny input derives the floor (the gate's measured-optimal narrow width)
    assert(width(2000L) === 2)
    // a backlog derives its own scale: ceil(2000 / 512) = 4
    assert(width(2000L, targetBytes = 512L) === 4)
    // the cap bounds a pathological burst
    assert(width(2000L, targetBytes = 1L, cap = 8) === 8)
    // no bytes → the floor, not a failure
    assert(width(0L) === 2)
    // an input of unknown size has no bytes
    val rdd = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)))
    assert(Parallelism.planBytes(spark.createDataFrame(rdd,
      new org.apache.spark.sql.types.StructType().add("x", "long"))) === None)
  }

  test("inParallel returns results in task order, runs at most bound at once, waits before rethrowing") {
    val live = new java.util.concurrent.atomic.AtomicInteger()
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    val out = Parallelism.inParallel(spark, bound = 2)((1 to 6).map { i => () =>
      peak.accumulateAndGet(live.incrementAndGet(), math.max): Unit
      Thread.sleep(50)
      live.decrementAndGet()
      i * 10
    }: _*)
    assert(out === (1 to 6).map(_ * 10))
    assert(peak.get <= 2)
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean()
    intercept[IllegalStateException] {
      Parallelism.inParallel(spark)(
        () => throw new IllegalStateException("fast failure"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(slowDone.get, "the call threw while a task was still running")
  }

  test("writeIvfPqIndex with a pre-trained coarse table writes an identical artifact") {
    import graft.operators.Similarity
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f, 2.0f)), (3L, Seq(0.0f, 2.0f, 2.0f, 0.0f)),
      (4L, Seq(3.0f, 0.1f, 0.0f, 3.0f)), (5L, Seq(0.0f, 3.0f, 3.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val retrain = java.nio.file.Files.createTempDirectory("ivfpq_rt").toString
    Similarity.writeIvfPqIndex(emb, retrain, m = 2, dim = 4,
      kCoarse = 2, coarseIters = 2, kPq = 2, pqIters = 1)
    val reuse = java.nio.file.Files.createTempDirectory("ivfpq_ru").toString
    Similarity.writeIvfPqIndex(emb, reuse, m = 2, dim = 4,
      kCoarse = 2, coarseIters = 2, kPq = 2, pqIters = 1,
      coarse = Some(Similarity.kmeansFixedK(emb, k = 2, maxIter = 2)))
    for (t <- Seq("cents", "codebook", "cells", "codes")) {
      val a = spark.read.parquet(s"$retrain/$t.parquet").collect().toSet
      val b = spark.read.parquet(s"$reuse/$t.parquet").collect().toSet
      assert(a === b, s"table $t differs between retrain and coarse-reuse")
    }
  }
}
