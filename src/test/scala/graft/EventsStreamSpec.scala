package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.Crm
import graft.streaming.EventsStream
import graft.streaming.EventsStream.Ev

/** Bounded-stream tests for the Structured Streaming twins (SURVEY §2.7).
  *
  * The clamp regression: with maxFilesPerTrigger=1 and a second file whose
  * events are far OLDER than the first file's (files ordered by mod-time),
  * the watermark has already advanced past last+gap when the old session is
  * created — an unclamped setTimeoutTimestamp throws IllegalArgumentException
  * (ADVICE r01). The clamped version completes and still emits the sessions
  * that closed by gap within a batch.
  */
class EventsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def writeEventsFile(dir: Path, name: String, modTime: Long, evs: Seq[Ev]): Unit = {
    val tmp = Files.createTempDirectory("evw").toFile
    evs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = dir.resolve(name).toFile
    java.nio.file.Files.copy(part.toPath, dest.toPath)
    assert(dest.setLastModified(modTime))
  }

  test("sessionize survives out-of-order files (watermark clamp) and emits gap-closed sessions") {
    val dir = Files.createTempDirectory("events_stream")
    // file1 (processed first): user 1 has two events >30min apart → the first
    // session closes in-batch; watermark after batch1 = 20:00 - 2h = 18:00.
    writeEventsFile(dir, "f1.parquet", 1000000L, Seq(
      Ev(1, ts("2024-01-01 18:00:00"), 1L, "view", 1.0),
      Ev(2, ts("2024-01-01 20:00:00"), 1L, "view", 2.0)))
    // file2 (processed second, newer mod-time): user 2's events are far below
    // the advanced watermark → unclamped timeout would throw.
    writeEventsFile(dir, "f2.parquet", 2000000L, Seq(
      Ev(3, ts("2024-01-01 10:00:00"), 2L, "click", 1.0),
      Ev(4, ts("2024-01-01 10:05:00"), 2L, "click", 1.0)))

    val out = EventsStream.runToCompletion(spark, "sessions_test", OutputMode.Append()) { ss =>
      import ss.implicits._
      EventsStream.sessionize(
        EventsStream.readEventsStream(ss, dir.toString).as[Ev]).toDF()
    }.as[EventsStream.SessionOut].collect()

    // user 1's first session (single event at 18:00) closed by the 20:00 gap.
    assert(out.exists(s => s.user_id == 1L &&
      s.session_start == ts("2024-01-01 18:00:00") && s.n_events == 1))
    // open sessions at end-of-run are not emitted (documented semantics).
    assert(!out.exists(_.user_id == 2L))
  }

  test("sessionize out-of-order: within-gap stragglers extend start, far ones close alone") {
    val dir = Files.createTempDirectory("events_ooo")
    // batch 1: one event at 20:00 → state [20:00, 20:00]
    writeEventsFile(dir, "f1.parquet", 1000000L, Seq(
      Ev(1, ts("2024-01-01 20:00:00"), 1L, "view", 1.0)))
    // batch 2 (newer mod-time, OLDER events, above the 18:00 watermark):
    // 19:00 ends >30min before the stored start → closes alone;
    // 19:50 is within gap of the start → extends it BACKWARDS
    writeEventsFile(dir, "f2.parquet", 2000000L, Seq(
      Ev(2, ts("2024-01-01 19:00:00"), 1L, "view", 5.0),
      Ev(3, ts("2024-01-01 19:50:00"), 1L, "view", 2.0)))
    // batch 3: 20:40 is >gap after last=20:00 → closes the stored session,
    // whose emitted start PROVES the 19:50 backward extension
    writeEventsFile(dir, "f3.parquet", 3000000L, Seq(
      Ev(4, ts("2024-01-01 20:40:00"), 1L, "view", 7.0)))

    val out = EventsStream.runToCompletion(spark, "sessions_ooo", OutputMode.Append()) { ss =>
      import ss.implicits._
      EventsStream.sessionize(
        EventsStream.readEventsStream(ss, dir.toString).as[Ev]).toDF()
    }.as[EventsStream.SessionOut].collect().sortBy(_.session_start.getTime)

    assert(out.length === 2, s"got ${out.toSeq}")
    assert(out(0).session_start === ts("2024-01-01 19:00:00") &&
      out(0).n_events === 1 && out(0).session_value === 5.0,
      "far-earlier straggler must close as its own session")
    assert(out(1).session_start === ts("2024-01-01 19:50:00") &&
      out(1).n_events === 2 && out(1).session_value === 3.0,
      "within-gap straggler must extend the session start backwards")
  }

  test("streaming hourlyCounts over a bounded source matches batch aggregation") {
    val dir = Files.createTempDirectory("events_hourly")
    val evs = (0 until 100).map { i =>
      Ev(i.toLong, ts(f"2024-01-01 ${i % 5}%02d:${i % 60}%02d:00"), (i % 7).toLong,
        if (i % 2 == 0) "view" else "click", i.toDouble)
    }
    writeEventsFile(dir, "all.parquet", 3000000L, evs)

    val streamed = EventsStream.runToCompletion(spark, "hourly_test", OutputMode.Complete()) { ss =>
      EventsStream.hourlyCounts(EventsStream.readEventsStream(ss, dir.toString))
    }.orderBy("hora", "event_type").collect()

    val batch = graft.operators.Events.hourly(evs.toDS().toDF())
      .orderBy("hora", "event_type")
      .select("hora", "event_type", "n_events")
      .collect()

    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getTimestamp(0) === b.getTimestamp(0))
      assert(s.getString(1) === b.getString(1))
      assert(s.getLong(2) === b.getLong(2))
    }
  }

  test("stream-stream interval join matches the batch interval join") {
    val dir = Files.createTempDirectory("events_ssj")
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1L, "purchase", 5.0), // joins view@10:00
      Ev(3, ts("2024-01-01 09:40:00"), 1L, "view", 1.0),     // >10min before → no
      Ev(4, ts("2024-01-01 10:04:00"), 2L, "view", 1.0),
      Ev(5, ts("2024-01-01 10:06:00"), 2L, "purchase", 9.0), // joins view@10:04
      Ev(6, ts("2024-01-01 12:00:00"), 3L, "purchase", 2.0)) // no views → dropped
    writeEventsFile(dir, "all.parquet", 4000000L, evs)

    val out = EventsStream.runToCompletion(spark, "ssj_test", OutputMode.Append()) { ss =>
      EventsStream.purchaseViewJoin(EventsStream.readEventsStream(ss, dir.toString))
    }.orderBy("event_id", "vts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(3)))
    assert(out.toSeq === Seq(2L -> ts("2024-01-01 10:00:00"),
      5L -> ts("2024-01-01 10:04:00")))
  }

  test("LEFT OUTER stream-stream join: null rows only below the final watermark") {
    val dir = Files.createTempDirectory("events_ssjo")
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1L, "purchase", 5.0), // matched
      Ev(4, ts("2024-01-01 10:04:00"), 2L, "view", 1.0),
      Ev(5, ts("2024-01-01 10:06:00"), 2L, "purchase", 9.0), // matched
      Ev(6, ts("2024-01-01 12:00:00"), 3L, "purchase", 2.0), // unmatched ABOVE wm
      Ev(7, ts("2024-01-01 09:30:00"), 5L, "purchase", 1.0), // unmatched below wm
      Ev(8, ts("2024-01-01 13:00:00"), 9L, "view", 1.0))     // advances view wm
    writeEventsFile(dir, "all.parquet", 4000000L, evs)
    // final watermark = min(max pts = 12:00, max vts = 13:00) - 2h = 10:00:
    // purchase 7 (09:30 < wm) emits null-extended; purchase 6 (12:00) is
    // still in state when the bounded run ends - no emission.
    val out = EventsStream.runToCompletion(spark, "ssjo_test", OutputMode.Append()) { ss =>
      EventsStream.purchaseViewJoinOuter(EventsStream.readEventsStream(ss, dir.toString))
    }.orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(3))))
    assert(out.toSeq === Seq(
      2L -> Some(ts("2024-01-01 10:00:00")),
      5L -> Some(ts("2024-01-01 10:04:00")),
      7L -> None))
  }

  test("native session_window emits sessions sealed by the final watermark only") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("events_sw")
    // user 1: two events 10min apart (one session, end 10:40), then one at
    // 14:00 (second session, end 14:30). Final watermark = 14:00 − 2h =
    // 12:00 → only the first session (end 10:40 < 12:00) is emitted.
    writeEventsFile(dir, "all.parquet", 3000000L, Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1L, "view", 1.0),
      Ev(3, ts("2024-01-01 14:00:00"), 1L, "view", 1.0)))
    val out = EventsStream.runToCompletion(spark, "sw_test", OutputMode.Append()) { ss =>
      EventsStream.sessionWindowAgg(EventsStream.readEventsStream(ss, dir.toString))
    }.orderBy(col("session_start")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00"), 2L)))
  }

  test("session_window boundary: an event exactly gap after EXTENDS the session") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("events_swb")
    // 10:00 and 10:30 are exactly 30min apart: the per-event windows
    // [10:00, 10:30) and [10:30, 11:00) touch and MERGE — one session, the
    // same `diff > gap` boundary as the custom sessionize. A late 20:00
    // event seals it.
    writeEventsFile(dir, "all.parquet", 3100000L, Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      Ev(2, ts("2024-01-01 10:30:00"), 1L, "view", 1.0),
      Ev(3, ts("2024-01-01 20:00:00"), 1L, "view", 1.0)))
    val out = EventsStream.runToCompletion(spark, "swb_test", OutputMode.Append()) { ss =>
      EventsStream.sessionWindowAgg(EventsStream.readEventsStream(ss, dir.toString))
    }.orderBy(col("session_start")).collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 2L)))
  }

  test("stateful checkpoint recovery: window state survives a restart, no re-emission") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val src = Files.createTempDirectory("events_ckpt_src")
    val out = Files.createTempDirectory("events_ckpt_out")

    def run(): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val q = EventsStream.hourlyCounts(
        EventsStream.readEventsStream(ss, src.toString))
        .writeStream.format("parquet")
        .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emitted(): Seq[(Timestamp, Long)] =
      spark.read.parquet(s"$out/data").select(col("hora"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq.sortBy(_._1.getTime)

    // phase 1: hours 10..13; watermark after the run = 13:00 − 2h = 11:00 →
    // only the 10:00 window is sealed and emitted
    writeEventsFile(src, "p1.parquet", 5000000L,
      (0 until 4).flatMap(h => Seq(
        Ev(h * 10L, ts(f"2024-01-01 ${10 + h}%02d:05:00"), 1L, "view", 1.0),
        Ev(h * 10L + 1, ts(f"2024-01-01 ${10 + h}%02d:35:00"), 2L, "view", 1.0))))
    run()
    val first = emitted()
    assert(first.map(_._1.toString.substring(11, 13)) === Seq("10"),
      s"expected only the sealed 10:00 window, got $first")

    // phase 2 (same checkpoint): hours 14..17 arrive; watermark moves to
    // 15:00 → windows 11..14 seal. The 10:00 window must NOT re-emit, and
    // the recovered state must still hold the phase-1 counts for 11..13.
    writeEventsFile(src, "p2.parquet", 6000000L,
      (4 until 8).flatMap(h => Seq(
        Ev(h * 10L, ts(f"2024-01-01 ${10 + h}%02d:05:00"), 1L, "view", 1.0))))
    run()
    val all = emitted()
    val hours = all.map(_._1.toString.substring(11, 13))
    assert(hours === Seq("10", "11", "12", "13", "14"), s"got $all")
    assert(all.map(_._2) === Seq(2L, 2L, 2L, 2L, 1L),
      s"phase-1 state lost or duplicated: $all")
  }

  test("streaming HLL registers equal the batch registers over a bounded run") {
    val dir = Files.createTempDirectory("events_hll")
    val evs = (1 to 200).map(i =>
      Ev(i.toLong, ts("2024-01-01 10:00:00"), (i % 77).toLong, "view", 1.0))
    writeEventsFile(dir, "all.parquet", 4000000L, evs)
    val streamRegs = EventsStream.runToCompletion(spark, "hll_regs_test") { ss =>
      EventsStream.hllRegistersStream(EventsStream.readEventsStream(ss, dir.toString))
    }.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // batch registers over the same identities
    val batch = graft.operators.Sketches.withBucketRho(
      evs.map(e => e.user_id.toString).distinct.toDF("it")
        .withColumn("h", graft.operators.Dedup.hash60($"it")))
      .groupBy($"bucket")
      .agg(org.apache.spark.sql.functions.max($"rho").as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(streamRegs === batch)
  }

  test("streaming CMS registers equal the batch sketch over the same events") {
    val dir = Files.createTempDirectory("events_cms")
    val types = Seq("view", "click", "purchase")
    val evs = (1 to 300).map(i =>
      Ev(i.toLong, ts("2024-01-01 10:00:00"), i.toLong, types(i % 3), 1.0))
    writeEventsFile(dir, "all.parquet", 4000000L, evs)
    val streamCells = EventsStream.runToCompletion(spark, "cms_regs_test") { ss =>
      EventsStream.cmsRegistersStream(EventsStream.readEventsStream(ss, dir.toString))
    }.collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    // estimates from the streamed sketch can only over-count
    val exact = evs.groupBy(_.event_type).map { case (t, v) => t -> v.size.toLong }
    val est = graft.operators.Sketches.cmsEstimate(
      streamCells.toSeq.map { case ((r, c), n) => (r, c, n) }.toDF("r", "c", "cnt"),
      types.toDF("t"), $"t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    types.foreach(t => assert(est(t) >= exact(t), s"$t under-counted"))
    // and the cell table itself is exactly the batch-built sketch
    val cells = (0 until graft.operators.Sketches.CmsRows).map(r =>
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit(r).as("r"),
        graft.operators.Sketches.cmsCol($"term", r).cast("long").as("c")))
    val batch = evs.map(_.event_type).toDF("term")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(cells: _*)).as("rc"))
      .groupBy($"rc.r", $"rc.c")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(streamCells === batch)
  }

  test("streaming exact dedup equals batch dedup over a bounded run") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("docs_stream")
    val docs = Seq((1L, "aa", "en", "s", 2L), (2L, "bb", "en", "s", 2L),
      (3L, "aa", "en", "s", 2L), (4L, "aa", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/d")

    val out = EventsStream.runToCompletion(spark, "sdedup_test") { ss =>
      EventsStream.streamingExactDedup(
        ss.readStream.schema(Crm.schemas("documents")).parquet(dir.toString + "/d"))
    }.orderBy(col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(("aa", 1L, 3L), ("bb", 2L, 1L)))
  }

  test("bloom dedup stream: history content never re-admitted, novel content passes") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.OutputMode
    val dir = Files.createTempDirectory("docs_bloom")
    // history: docs 1-2; delta: docs 3-5, where doc 3 repeats history text
    val hist = Seq((1L, "seen before", "en", "s", 11L), (2L, "also ingested", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val delta = Seq((3L, "seen before", "en", "s", 11L),
      (4L, "fresh document body", "en", "s", 19L),
      (5L, "another novel text entirely", "en", "s", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    hist.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/hist")
    delta.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/delta")

    val kept = EventsStream.runToCompletion(spark, "sbloom_test",
      OutputMode.Append()) { ss =>
      EventsStream.bloomDedupStream(
        ss.read.parquet(dir.toString + "/hist"),
        ss.readStream.schema(Crm.schemas("documents"))
          .parquet(dir.toString + "/delta"),
        "text")
    }.orderBy(col("doc_id")).collect().map(_.getLong(0))
    // Bloom contract: no false negatives — doc 3 (exact history content)
    // CANNOT be admitted. Docs 4-5 pass unless an (astronomically unlikely
    // at 2 keys / 4096 bits, and deterministic) collision flags them.
    assert(!kept.contains(3L), "historical content re-admitted")
    assert(kept.toSeq === Seq(4L, 5L))
  }

  test("streaming audio decode equals the batch wavWindows twin over a bounded run") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.OutputMode
    val dir = Files.createTempDirectory("docs_audio")
    val ids = Seq(3L, 10L, 17L) // mono + stereo, varying frame counts
    val docs = ids.map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/d")

    val streamed = EventsStream.runToCompletion(spark, "saudio_test",
      OutputMode.Append()) { ss =>
      EventsStream.audioWindowsStream(
        ss.readStream.schema(Crm.schemas("documents"))
          .parquet(dir.toString + "/d"))
    }.orderBy(col("doc_id"), col("win_idx")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))

    val batch = graft.operators.Multimodal.wavWindows(spark,
      graft.operators.Multimodal.withSyntheticWavs(
        spark, ids.toDF("doc_id"), "doc_id"), "doc_id")
      .orderBy(col("doc_id"), col("win_idx")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }
}
