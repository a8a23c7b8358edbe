package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** The one place that turns bytes into a width, and the session and thread
  * machinery that widths live in. Every caller that sizes partitions,
  * files, slices or state stores from its input goes through these members;
  * each keeps its own target, floor and cap.
  *
  * The rule: a width is `ceil(bytes / targetBytes)` clamped to
  * `[floor, cap]` ([[widthFor]]), where `bytes` is measured from the input,
  * never a constant tuned for one deployment (guide §2: make partitioning
  * scale-adaptive). A plan's bytes are Catalyst's `sizeInBytes` estimate
  * ([[planBytes]]); that estimate is `Long.MaxValue` when Spark cannot size
  * a leaf (an RDD-backed frame, a sourceless plan), and values near it only
  * arise from such unknowns multiplied through joins. So the estimate is
  * UNKNOWN when it is not a valid long, ≤ 0, or ≥ `Long.MaxValue / 2`. An
  * unknown size contributes nothing: a caller that knows no bytes at all
  * gets its floor, or leaves the session width alone
  * ([[withInputSizedShuffle]]).
  *
  * A caller that needs its own width without touching the caller's session
  * runs on an [[isolated]] clone; independent driver-side work runs side by
  * side through [[inParallel]].
  *
  * Scan-parallelism normalization (optimization guide §2.4/§2.6) lives here
  * too. A per-row-heavy pipeline is only as parallel as its narrowest
  * upstream stage, and a stage's width is set by the SOURCE when no exchange
  * sits in between: a table stored as one file with one row group yields
  * exactly ONE scan split, so everything fused above it — explodes, joins
  * against broadcast sides, expression-heavy projections — runs on one core
  * no matter how many the session has (measured r17: q_fato_vendas 6.0 s of
  * summed task time in 6.4 s of wall on local[32]; q_tokenize_artifact
  * 6.8 s in 7.1 s).
  *
  * [[fanOut]] inserts one hash exchange to lift such a pipeline to the
  * session's parallelism — and is an exact no-op when the source already
  * provides at least that many partitions, which is the normal state at
  * scale (a 100 TB table is thousands of splits). It is therefore safe to
  * leave in production code paths: the exchange exists exactly when cores
  * would otherwise sit idle, and the bytes it moves are the bytes one core
  * would otherwise process alone.
  */
object Parallelism {

  /** The optimizer's size estimate of `df`'s plan, or None when it is
    * unknown (see the object's scaladoc for the test). No data is read. */
  def planBytes(df: Dataset[_]): Option[Long] = {
    val raw = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (raw.isValidLong && raw > 0 && raw < Long.MaxValue / 2) Some(raw.toLong)
    else None
  }

  /** `ceil(bytes / targetBytes)` clamped to `[floor, cap]` (the cap wins
    * when `floor > cap`). The ceiling division cannot overflow, so a byte
    * count near `Long.MaxValue` still yields the cap. */
  def widthFor(bytes: Long, targetBytes: Long, floor: Int, cap: Int): Int = {
    require(targetBytes > 0, s"targetBytes must be > 0: $targetBytes")
    val parts = bytes / targetBytes + (if (bytes % targetBytes == 0L) 0L else 1L)
    math.min(cap.toLong, math.max(floor.toLong, parts)).toInt
  }

  /** A clone of `spark` for work that needs its own shuffle width: the
    * caller's runtime SQL conf (time zone, ANSI mode, …) carried over,
    * static or non-settable entries skipped, and
    * `spark.sql.shuffle.partitions` set to `shufflePartitions`. The clone
    * shares the SparkContext but has its own SQL conf and catalog, so
    * queries planned concurrently on the caller's session keep their own
    * setting and concurrent clones cannot race on a shared save/restore. */
  def isolated(spark: SparkSession, shufflePartitions: Int): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v) catch { case _: Exception => () }
    }
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s
  }

  /** Run independent driver-side tasks side by side, at most `bound` at a
    * time, and return their results in task order (guide §2.6 — Spark runs
    * several jobs at once; work submitted one job after another leaves the
    * executors idle through each job's driver-side tail). Callers pass only
    * tasks that are pairwise independent, e.g. writes to distinct
    * directories. Pool threads resolve `spark` as their active session.
    *
    * Every task is waited for before the first failure's cause is rethrown,
    * so once the call throws no task is still running: a caller that
    * retries at once cannot race a write from the failed attempt. With one
    * task, or `bound` ≤ 1, the tasks run in order on the caller thread, and
    * the first failure throws before later tasks start. */
  def inParallel[T](spark: SparkSession, bound: Int = 4)(tasks: (() => T)*): Seq[T] =
    if (bound <= 1 || tasks.lengthCompare(2) < 0) tasks.map(_())
    else {
      val pool = Executors.newFixedThreadPool(math.min(tasks.size, bound))
      try {
        val futures = tasks.map { t =>
          pool.submit(new Callable[T] {
            override def call(): T = { SparkSession.setActiveSession(spark); t() }
          })
        }
        val outcomes = futures.map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collectFirst { case Left(e) => throw e }
        outcomes.collect { case Right(v) => v }
      } finally pool.shutdown()
    }

  /** Per-session reentrant lock for the save/set/restore of
    * `spark.sql.shuffle.partitions` below (ADVICE r17 medium): two
    * OVERLAPPING calls on one session would interleave their save/restore
    * (A saves 200→sets 4, B saves 4→sets 2, A restores 200, B restores 4 —
    * the session width is permanently clobbered). Serializing the loops on
    * one session is the honest semantics — their per-round widths are
    * session-global state; genuinely concurrent loops belong on
    * [[isolated]] clones. Reentrant because loops legitimately nest
    * (pipelineManifest's CC runs inside callers that may size their own
    * loops); the inner call then sizes within the outer's narrowed cap,
    * exactly as the serial semantics always did. Keyed weakly so dead
    * sessions don't pin locks. */
  private val loopLocks =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.locks.ReentrantLock]()
  private def loopLock(s: SparkSession) =
    loopLocks.synchronized {
      var l = loopLocks.get(s)
      if (l == null) { l = new java.util.concurrent.locks.ReentrantLock(); loopLocks.put(s, l) }
      l
    }

  /** Run `body` with the session's `spark.sql.shuffle.partitions` sized to
    * the loop inputs' [[planBytes]] — [[widthFor]] at `targetBytes` per
    * partition, clamped to `[floorN, current session width]` — restoring
    * the previous value afterwards. When no input's size is known the
    * session width is left alone.
    *
    * Iterative fixpoint loops (pagerank, HITS, label-prop, CC, perceptron)
    * run O(rounds × stages-per-round) shuffle stages over state that is
    * bounded by their INPUT size, and each round is materialized through an
    * [[graft.operators.IterState]] checkpoint whose scan forgets
    * partitioning — so AQE never gets to coalesce the per-round exchanges
    * and every tiny stage pays the session's full task count (measured
    * r17: the five graph-loop queries at sf0.1 run 20.7 s with 32-wide
    * rounds vs 17.1 s with 4-wide; per-round state is a few MB). The clamp
    * means a 100 TB input keeps the session's width untouched — the narrow
    * case exists exactly when the data is small relative to the cluster.
    *
    * Results are unchanged by construction: every loop that calls this
    * already sums partitioning-invariant quantized integers (the engines'
    * cross-engine determinism contract), and the full oracle gate re-proves
    * it.
    */
  def withInputSizedShuffle[T](inputs: Seq[DataFrame],
                               targetBytes: Long = 32L << 20,
                               floorN: Int = 1)(body: => T): T = {
    if (inputs.isEmpty) return body
    val session = inputs.head.sparkSession
    val lock = loopLock(session)
    lock.lock()
    try {
      val key = "spark.sql.shuffle.partitions"
      val prev = session.conf.get(key)
      val cap = prev.toInt
      val known = inputs.flatMap(planBytes)
      // summed as doubles: several huge estimates saturate instead of
      // wrapping to a negative byte count
      val n =
        if (known.isEmpty) cap
        else widthFor(known.map(_.toDouble).sum.toLong, targetBytes, math.max(1, floorN), cap)
      if (n >= cap) body
      else {
        session.conf.set(key, n.toString)
        try body finally session.conf.set(key, prev)
      }
    } finally lock.unlock()
  }

  /** Repartition `df` up to the session's default parallelism when its
    * current physical partitioning is narrower, else return it unchanged.
    *
    *  - `keys` non-empty: hash repartition on the keys — deterministic
    *    row→partition assignment (safe under task retry, guide §2.5; no
    *    sort-before-repartition cost). Pass a high-cardinality key.
    *  - `keys` empty: round-robin repartition (pays the deterministic
    *    local sort Spark inserts before round-robin).
    *
    * Streaming frames are returned unchanged (micro-batch sizing is the
    * refresh loops' own concern — IdempotentFold.sizeBatchShuffle).
    * Results are row-set-identical under any partitioning; callers that
    * derive values from physical placement (spark_partition_id,
    * monotonically_increasing_id) must fan out BEFORE deriving, as the
    * Surrogate helpers do via their own exchanges.
    */
  def fanOut(df: DataFrame, keys: Seq[Column] = Nil): DataFrame = {
    if (df.isStreaming) return df
    val session = df.sparkSession
    // target the session's intended shuffle width, not the raw core count:
    // a caller that sized spark.sql.shuffle.partitions for its batch (the
    // refresh loops' per-batch sizing) must not be overridden upward
    val target = math.min(
      session.sparkContext.defaultParallelism,
      session.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val current = df.rdd.getNumPartitions
    if (current >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }
}
