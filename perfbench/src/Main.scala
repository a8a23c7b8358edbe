package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Runs one workload in this JVM and prints one `PERFBENCH {json}` line.
  *
  *   --workload W --data DIR --deltas DIR --work DIR --oracle FILE --seed N
  *   --seconds S --trace 0|1 --cores N
  *
  * End-to-end numbers come from untraced rounds. A workload that serves
  * traffic (daytime_mix) and every traced run first run one untimed round;
  * with --trace 1 untraced and traced rounds then alternate, and the
  * per-layer numbers are averages per traced call into each layer.
  *
  * Two modes derive the stored oracle checksums (perfbench/derive_oracle.py):
  *   --oracle-sql FILE   writes the DuckDB mirror SQL of every checked entry
  *   --checksums DIR     prints `entry rows hash` for each DIR/<entry>.parquet
  */
object Main {

  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("oracle-sql")) oracleSql(a("oracle-sql"))
    else if (a.contains("checksums")) checksums(a("checksums"))
    else {
      val json = run(a("workload"), Env(a("data"), a("deltas"), a("work"), a("seed").toLong),
        a("oracle"), a("seconds").toDouble, a("trace") == "1", a("cores").toInt)
      println(s"PERFBENCH $json")
    }
  }

  /** {entry: DuckDB mirror SQL} for every entry a workload's checks compare
    * against. */
  private def oracleSql(file: String): Unit = {
    val sql = SparkEntry.oracleSql
    val body = Json.obj(Workload.oracles.values.flatten.toSeq.distinct.sorted
      .map(n => n -> Json.str(sql(n))))
    java.nio.file.Files.write(java.nio.file.Paths.get(file), body.getBytes("UTF-8"))
  }

  private def checksums(dir: String): Unit = {
    val spark = session(2, s"$dir/spark-tmp")
    new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted.foreach { f =>
      val c = Check.of(spark.read.parquet(s"$dir/$f"))
      println(s"${f.stripSuffix(".parquet")} ${c.rows} ${java.lang.Long.toHexString(c.hash)}")
    }
    spark.stop()
  }

  /** The stored checksums: one `entry rows hash` line each. */
  def readOracle(file: String): Map[String, Checksum] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split(" ")
      n -> Checksum(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
    }.toMap
    finally src.close()
  }

  /** A session set up as the program's own mains (graft.Bench, graft.Verify)
    * set theirs: UTC, ANSI off, WARN logging. */
  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/spark-checkpoints")
      // bounded status history: live heap must not grow with the op count
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Timed ops grouped by round, in order. */
  def rounds(ops: Seq[OpRec], start: Int, round: Int): Seq[Seq[OpRec]] =
    ops.groupBy(o => (o.i - start) / round).toSeq.sortBy(_._1).map(_._2)

  /** One timed op. */
  final case class OpRec(i: Int, traced: Boolean, ms: Double, cpuNs: Long, gcMs: Long,
                         startMs: Long, endMs: Long, rows: Long, ok: Boolean)

  def run(workload: String, env: Env, oracleFile: String,
          seconds: Double, trace: Boolean, cores: Int): String = {
    val work = env.work
    env.expected ++= readOracle(oracleFile)
    // Set-up: a fresh SparkContext and session, then the workload's own
    // preparation; repeated so its median is steady. The last one runs.
    val wl = Workload(workload, env)
    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime
      spark = session(cores, work)
      wl.setup(spark)
      (System.nanoTime - t0) / 1e9
    }
    System.err.println(s"[perfbench] ${System.currentTimeMillis} setup done ${setupS.mkString(", ")}")
    val sc = spark.sparkContext

    val tasks = new TaskListener
    val queries = new QueryListener
    val streams = new StreamListener
    val tracer = new SpanTracer(sc)
    if (trace) {
      sc.addSparkListener(tasks)
      spark.listenerManager.register(queries)
      spark.streams.addListener(streams)
    }

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val errors = mutable.ArrayBuffer.empty[String]
    val round = wl.roundSize
    val budgetNs = (seconds * 1e9).toLong
    var measuredNs = 0L
    // A traced run compares traced with untraced ops, so both must be warm:
    // its first round runs untimed, as does a serving workload's.
    val start = if (trace || wl.warmUp) round else 0
    (0 until start).foreach { k =>
      wl.op(spark, k, NoTrace)().error.foreach(e => throw new IllegalStateException(s"warm-up round: $e"))
    }
    var i = start
    def mayStop = (i - start) % (if (trace) 2 * round else round) == 0
    while (wl.hasInput(i) && (measuredNs < budgetNs || !mayStop)) {
      val traced = trace && ((i - start) / round) % 2 == 1
      tracer.op = i
      val c0 = osBean.getProcessCpuTime
      val g0 = gcMs
      val m0 = System.currentTimeMillis
      val t0 = System.nanoTime
      val outcome = Try(if (traced) tracer.span("op")(wl.op(spark, i, tracer)) else wl.op(spark, i, NoTrace))
      val dt = System.nanoTime - t0
      val m1 = System.currentTimeMillis
      val c1 = osBean.getProcessCpuTime
      val g1 = gcMs
      measuredNs += dt
      val verdict = outcome.flatMap(v => Try(v())) match {
        case Success(v) => v
        case Failure(e) => Verdict(0L, Some(s"op $i: $e"))
      }
      System.err.println(f"[perfbench] op $i%d traced=$traced ${dt / 1e6}%.1f ms")
      verdict.error.foreach(errors += _)
      ops += OpRec(i, traced, dt / 1e6, c1 - c0, g1 - g0, m0, m1, verdict.rows, verdict.error.isEmpty)
      i += 1
    }

    // Spark's ContextCleaner frees the blocks of collected broadcasts and
    // shuffles only after a GC has found them unreachable: collect three times.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    System.err.println(s"[perfbench] ${System.currentTimeMillis} ops done")
    val finishErrors = Try(wl.finish(spark)) match {
      case Success(es) => es
      case Failure(e) => Seq(s"end-of-run check: $e")
    }
    errors ++= finishErrors
    val attempted = ops.size
    val failed = math.min(attempted, ops.count(!_.ok) + finishErrors.size)

    // An op of the end-to-end metrics is one round of the workload: one
    // call for nightly_batch, the 13 calls of a daytime_mix round. The
    // median of a round's mixed calls jumps between neighbouring entries;
    // a round's total does not.
    val rounds = Main.rounds(ops.toSeq, start, round)
    val plain = rounds.filter(r => !r.head.traced && r.forall(_.ok))
    val lat = plain.map(_.map(_.ms).sum)
    val busyS = lat.sum / 1e3
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (percentile(setupS, 0.5), "s"),
      "op_p50_ms" -> (percentile(lat, 0.5), "ms"),
      "ops_per_s" -> (lat.size / math.max(busyS, 1e-9), "1/s"),
      "rows_per_s" -> (plain.flatten.map(_.rows).sum / math.max(busyS, 1e-9), "rows/s"),
      "cpu_s_per_op" -> (plain.flatten.map(_.cpuNs).sum / 1e9 / math.max(lat.size, 1), "s"),
      "heap_live_mb" -> (heap, "MB"),
      "dw_bytes_per_row" -> (wl.dwBytesPerRow, "B/row"))
    val extra = mutable.LinkedHashMap[String, (Double, String)](
      "error_rate" -> (failed.toDouble / math.max(attempted, 1), "ratio"))
    if (lat.size >= 100) extra("op_p90_ms") = (percentile(lat, 0.9), "ms")
    if (round > 1) extra("call_p50_ms") = (percentile(plain.flatten.map(_.ms), 0.5), "ms")

    val layers =
      if (!trace) Map.empty[String, (Double, String)]
      else Layers(spark, rounds, tracer, tasks, queries, streams)

    def metrics(m: collection.Map[String, (Double, String)]) =
      Json.obj(m.toSeq.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "rounds_timed" -> lat.size.toString,
      "setup_runs_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "errors" -> errors.take(5).map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> metrics(e2e),
      "extra" -> metrics(extra),
      "per_layer" -> metrics(layers)))
    spark.stop()
    json
  }
}

/** Per-layer numbers of a traced run: averages per traced call into the
  * layer, except the spark.* group, which gives per-round numbers of the
  * untraced rounds of the same run. */
object Layers {
  import Main.OpRec

  def apply(spark: SparkSession, rounds: Seq[Seq[OpRec]], tr: SpanTracer, tl: TaskListener,
            ql: QueryListener, sl: StreamListener): Map[String, (Double, String)] = {
    tl.drain()
    val spans = tr.spans.toSeq
    ql.await(spans.flatMap(_.qe))
    sl.await(spans.count(_.name == "streaming.incremental_fact"))

    val traced = rounds.filter(_.head.traced).flatten
    val plainRounds = rounds.filter(!_.head.traced)
    val plain = plainRounds.flatten
    val n = math.max(traced.size, 1).toDouble
    val m = math.max(plainRounds.size, 1).toDouble
    def opsWith(l: String) = math.max(spans.filter(_.layer == l).map(_.op).distinct.size, 1)
    def per(l: String)(x: Double) = x / opsWith(l)
    def layerSpans(l: String) = spans.filter(_.layer == l)
    def selfMs(l: String) = per(l)(layerSpans(l).map(tr.selfNs).sum / 1e6)
    def counter(k: String) = spans.map(_.counters(k)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    // tasks → innermost span: by job group, else by launch time
    val byId = spans.map(s => s.id -> s).toMap
    def spanOf(t: TaskRec): Option[Span] =
      if (t.group.startsWith("span-")) byId.get(t.group.stripPrefix("span-").toInt)
      else spans.filter(s => s.startMs <= t.launchMs && t.launchMs <= s.endMs).sortBy(-_.startMs).headOption
    val allTasks = tl.tasks.asScala.toSeq
    val taskLayer = allTasks.map(t => t -> spanOf(t).map(_.layer))
    def layerTasks(l: String) = taskLayer.collect { case (t, Some(`l`)) => t }

    val streamSpans = layerSpans("streaming")
    val started = sl.started.asScala.toSeq
    val progress = sl.progress.asScala.toSeq
    def inStream(ts: Long) = streamSpans.exists(s => s.startMs <= ts && ts <= s.endMs)
    val startMs = streamSpans.flatMap(s => started.find(ts => s.startMs <= ts && ts <= s.endMs)
      .map(_ - s.startMs)).sum
    val prog = progress.filter(p => inStream(p._1)).map(_._2)
    def progMs(keys: String*) = per("streaming")(prog.map(d => keys.map(d.getOrElse(_, 0L)).sum).sum.toDouble)

    val qrecs = spans.filter(_.name == "entries.exec").flatMap(_.qe).flatMap(q => Option(ql.recs.get(q)))
    def phase(p: String) = per("entries")(qrecs.map(_.phasesMs.getOrElse(p, 0.0)).sum)

    val windows = plain.map(o => (o.startMs, o.endMs))
    def inPlain(ts: Long) = windows.exists { case (a, b) => a <= ts && ts <= b }
    val plainTasks = allTasks.filter(t => inPlain(t.launchMs))
    def sumT(f: TaskRec => Double) = plainTasks.map(f).sum / m
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    def roundLat(rs: Seq[Seq[OpRec]]) = rs.filter(_.forall(_.ok)).map(_.map(_.ms).sum)
    val tracedLat = roundLat(rounds.filter(_.head.traced))
    val plainLat = roundLat(plainRounds)

    val ms = "ms"; val cnt = "count"; val b = "B"; val r = "ratio"
    Seq(
      "sources.busy_ms" -> (selfMs("sources"), ms),
      "sources.rows_out" -> (per("sources")(counter("sources.rows_out")), cnt),
      "sources.bytes_read" -> (per("sources")(layerTasks("sources").map(_.inputBytes).sum.toDouble), b),
      "dims.busy_ms" -> (selfMs("dims"), ms),
      "dims.rows_out" -> (per("dims")(counter("dims.rows_out")), cnt),
      "dims.shuffle_bytes" -> (per("dims")(layerTasks("dims").map(_.shuffleWrite).sum.toDouble), b),
      "fact.busy_ms" -> (selfMs("fact"), ms),
      "fact.rows_in" -> (per("fact")(counter("fact.rows_in")), cnt),
      "fact.rows_out" -> (per("fact")(counter("fact.rows_out")), cnt),
      "fact.keep_ratio" -> (ratio(counter("fact.rows_out"), counter("fact.rows_in")), r),
      "fact.null_sk_rows" -> (per("fact")(counter("fact.null_sk_rows")), cnt),
      "fact.shuffle_bytes" -> (per("fact")(layerTasks("fact").map(_.shuffleWrite).sum.toDouble), b),
      "fact.smj_count" -> (per("fact")(counter("fact.smj_count")), cnt),
      "warehouse.write_ms" -> (selfMs("warehouse"), ms),
      "warehouse.bytes_written" -> (per("warehouse")(counter("warehouse.bytes_written")), b),
      "warehouse.files_written" -> (per("warehouse")(counter("warehouse.files_written")), cnt),
      "streaming.start_ms" -> (per("streaming")(startMs.toDouble), ms),
      "streaming.trigger_ms" -> (progMs("triggerExecution"), ms),
      "streaming.add_batch_ms" -> (progMs("addBatch"), ms),
      "streaming.wal_commit_ms" -> (progMs("walCommit", "commitOffsets"), ms),
      "streaming.rows_appended" -> (per("streaming")(counter("streaming.rows_appended")), cnt),
      "streaming.files_written" -> (per("streaming")(counter("streaming.files_written")), cnt),
      "streaming.ckpt_bytes" -> (per("streaming")(counter("streaming.ckpt_bytes")), b),
      "entries.build_ms" -> (per("entries")(layerSpans("entries").filter(_.name == "entries.build").map(_.durNs).sum / 1e6), ms),
      "entries.analysis_ms" -> (phase("analysis"), ms),
      "entries.optimization_ms" -> (phase("optimization"), ms),
      "entries.planning_ms" -> (phase("planning"), ms),
      "entries.exec_ms" -> (per("entries")(qrecs.map(_.execMs).sum), ms),
      "entries.rows_scanned_per_row_returned" ->
        (ratio(qrecs.map(_.scannedRows).sum.toDouble, counter("entries.rows_returned")), r),
      "entries.cache_hit_ratio" -> (ratio(qrecs.map(_.cacheScans).sum, qrecs.map(_.scans).sum), r),
      "curation.busy_ms" -> (selfMs("curation"), ms),
      "curation.docs_kept_ratio" -> (ratio(counter("curation.docs_kept"), counter("curation.docs_in")), r),
      "dedup.busy_ms" -> (selfMs("dedup"), ms),
      "dedup.candidate_pairs" -> (per("dedup")(counter("dedup.candidate_pairs")), cnt),
      "dedup.verified_pairs" -> (per("dedup")(counter("dedup.verified_pairs")), cnt),
      "dedup.precision" -> (ratio(counter("dedup.verified_pairs"), counter("dedup.candidate_pairs")), r),
      "spark.jobs" -> (tl.jobs.asScala.count(j => inPlain(j._2)) / m, cnt),
      "spark.tasks" -> (plainTasks.size / m, cnt),
      "spark.failed_tasks" -> (plainTasks.count(_.failed) / m, cnt),
      "spark.task_run_ms" -> (sumT(_.runMs), ms),
      "spark.task_cpu_ms" -> (sumT(_.cpuMs), ms),
      "spark.cpu_per_run" -> (ratio(plainTasks.map(_.cpuMs).sum, plainTasks.map(_.runMs).sum), r),
      "spark.sched_delay_ms" -> (sumT(_.schedDelayMs), ms),
      "spark.driver_only_ms" -> (windows.map { case (a, z) => tl.idleMs(a, z) }.sum / m, ms),
      "spark.gc_ms" -> (plain.map(_.gcMs).sum / m, ms),
      "spark.shuffle_write_bytes" -> (sumT(_.shuffleWrite.toDouble), b),
      "spark.spill_bytes" -> (sumT(_.spill.toDouble), b),
      "spark.peak_exec_mem_mb" -> (plainTasks.map(_.peakExecMem).foldLeft(0L)(math.max) / 1048576.0, "MB"),
      "spark.storage_mem_mb" -> (storageMb, "MB"),
      "trace.overhead_ms" -> (Main.percentile(tracedLat, 0.5) - Main.percentile(plainLat, 0.5), ms),
      "trace.spans" -> (spans.size / n, cnt)
    ).toMap
  }
}

/** Just enough JSON for the result line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
