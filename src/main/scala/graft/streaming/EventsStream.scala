package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.functions.GraftFunctions.truncUtc
import graft.operators.Parallelism
import graft.sources.Crm

/** Row type of [[EventsStream.audioWindowsStream]] — field names/order
  * match Multimodal.wavWindowsSchema so the stream is gated on the batch
  * twin's oracle unchanged. */
private[streaming] case class AudioWindowRow(
  doc_id: Long, win_idx: Int, n_samples: Int, sum_sq: Long,
  n_zero_cross: Int, peak: Int)

/** Structured Streaming twins of graft.operators.Events (SURVEY.md §2.7 —
  * additive capability; the reference is batch-only).
  *
  * The batch testdata parquet doubles as a bounded stream via
  * `Trigger.AvailableNow`: identical plan shape to a live Kafka-style
  * source, so the watermark/window/state logic is exercised for real.
  */
object EventsStream {

  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Crm.schemas("events"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir")

  /** Stream the stored events table under `dir`, declared and
    * footer-checked by [[Crm.storedSchema]] (`ts` reads as the UTC
    * instant the batch reader and the oracle engine see). No
    * maxFilesPerTrigger: one AvailableNow batch, so nothing is ever behind
    * the watermark and the result equals the batch aggregate.
    */
  def readStoredEventsStream(spark: SparkSession, dir: String): DataFrame =
    // glob: FileStreamSource requires a directory base path
    spark.readStream.schema(Crm.storedSchema(spark, dir, "events")).parquet(s"$dir/events*")

  /** Tumbling 1-hour event-time windows with a 2-hour watermark — the
    * streaming form of Events.hourly. Late rows beyond the watermark are
    * dropped; state is bounded by (watermark horizon / window) per type.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.GraftFunctions.stableSum2(col("value")).as("sum_value"))
      .select(col("w.start").as("hora"), col("event_type"), col("n_events"), col("sum_value"))

  /** Per-user sessions via the NATIVE `session_window` operator (Spark's
    * built-in gap-merging window) — the declarative twin of the custom
    * [[sessionize]]: no user state-management code, Catalyst owns merge and
    * eviction. Boundary semantics MATCH the custom form (pinned by spec +
    * oracle): per-event windows `[ts, ts+gap)` merge when they touch, so an
    * event exactly `gap` after its predecessor EXTENDS the session — i.e.
    * a new session starts only when `ts > prev + gap`, the same `diff >
    * gap` rule as [[sessionize]].
    *
    * In append mode a session emits once the watermark passes its end
    * (last event + gap); sessions still open at end-of-stream stay in
    * state, exactly like [[sessionize]] — the deterministic oracle is the
    * batch gap-sessionization filtered to sessions whose end precedes the
    * final watermark.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Native bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * holds a key only until the watermark passes its event time — the
    * production alternative to [[streamingExactDedup]]'s complete-mode
    * running state (which grows with distinct keys forever). Emits the
    * KEY COLUMNS only: which duplicate "wins" depends on arrival order, so
    * only the (deterministic) key set is oracle-comparable.
    */
  def streamingDedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_type"),
        truncUtc("minute", col("ts")).as("minuto"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minuto")
      .select(col("user_id"), col("event_type"), col("minuto"))

  /** Streaming hopping windows — the streaming twin of
    * Events.slidingCounts: each event lands in its two overlapping 2-hour
    * windows. Complete mode over the bounded run equals the batch result
    * (the oracle), like [[hourlyCounts]].
    */
  def slidingCountsStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)
  /** start/last are MICROSECONDS since epoch: `Timestamp.getTime` is
    * ms-grained and would silently truncate sub-millisecond event times
    * (r2 advice — Spark's encoder preserves micros in the nanos field).
    */
  case class SessionState(start: Long, last: Long, n: Long, value: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        n_events: Long, session_value: Double)

  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def microsToTs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Custom stateful sessionization via flatMapGroupsWithState: a session
    * closes after 30 min of inactivity (event-time timeout), emitting one
    * row per completed session. State per key is O(1).
    *
    * Semantics notes:
    *  - The timeout timestamp is clamped to watermark+1: with unordered
    *    input files (`maxFilesPerTrigger=1`) a user's last event can be
    *    older than the already-advanced watermark, and an un-clamped
    *    `setTimeoutTimestamp` would throw IllegalArgumentException.
    *  - Sessions still open when a bounded (AvailableNow) run ends are NOT
    *    emitted — the stream has no "end of time" marker, matching Spark's
    *    append-mode semantics. A final batch flush over the state store
    *    would be the production pattern for run-to-completion jobs.
    *  - Out-of-order events across micro-batches: an above-watermark event
    *    WITHIN gap of the stored session's start extends the session
    *    backwards (start = min(start, t), symmetric with last = max); one
    *    more than gap BEFORE the start closes immediately as its own
    *    single-event session — it can never merge with the stored one, and
    *    one-session-per-key state cannot hold a second open session (the
    *    documented best-effort bound of this shape; the native
    *    [[sessionWindowAgg]] handles arbitrary reordering exactly).
    */
  def sessionize(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, microsToTs(s.start), s.n, s.value))
          } else {
            val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            for (e <- sorted) {
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.last > gapUs =>
                  out += SessionOut(user, microsToTs(s.start), s.n, s.value)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(s) if s.start - t > gapUs =>
                  // above-watermark event from an unordered file that ends
                  // more than gap BEFORE the stored session: it can never
                  // merge, so it closes immediately as its own session
                  // (best effort — a later in-between arrival that would
                  // have bridged to it is gone; single-session-per-key
                  // state cannot hold two open sessions)
                  out += SessionOut(user, microsToTs(t), 1, e.value)
                case Some(s) =>
                  // within gap on EITHER side: out-of-order earlier events
                  // extend the session start just as later ones extend last
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1, value = s.value + e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the GroupState timeout API is ms-grained; round the micros
              // deadline UP so a timeout never fires early
              state.setTimeoutTimestamp(
                math.max(Math.floorDiv(s.last + gapUs + 999L, 1000L),
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming exact dedup: running (content → canonical id, copies) state
    * over a document stream — the streaming twin of `Dedup.exactDedup`.
    * Complete-mode aggregation: state is one row per distinct content key
    * (bound it with a watermark + content hash partitioning in production);
    * over a bounded AvailableNow run the result equals the batch dedup,
    * which is the oracle.
    */
  def streamingExactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))

  /** Streaming ingest dedup against a HISTORICAL corpus via its Bloom
    * filter: newly arriving documents are admitted only if their content
    * misses the history's bit table — the shape that dedups a delta stream
    * against a 100 TB base without ever joining the base. The filter is the
    * relational ≤m-row bit-position table ([[graft.operators.Sketches]]
    * bloom machinery), used as the STATIC side of k stream-static broadcast
    * joins (one per bloom hash) — stateless, append mode, no watermark, no
    * state store; at scale the bit table is the persisted nightly artifact
    * and m is sized ≈1.44·k·n_history for the target false-positive rate
    * (the 4096-bit default matches the sf0.01 gate corpus; Bloom semantics
    * — no false negatives, deterministic md5-derived false positives — are
    * exactly mirrored by the oracle).
    *
    * `history` must be built on the SAME session as the stream (pass the
    * [[runToCompletion]] clone's reads), so both sides share one analyzer.
    */
  def bloomDedupStream(history: DataFrame, stream: DataFrame,
                       item: String): DataFrame = {
    import graft.operators.Sketches
    // Materialize the bit table ONCE, driver-side: it is bounded by the
    // BloomBits geometry (≤4096 longs), and as a plain DataFrame it would
    // be re-scanned/re-shuffled/re-broadcast per aliased join PER
    // MICRO-BATCH (the k differently-aliased references defeat
    // exchange reuse). As a local relation the history pass runs exactly
    // once and each join broadcasts a tiny in-memory table. Null positions
    // (a null item in history) are dropped — they can match no probe.
    val setBits = history
      .select(Sketches.bloomPositions(col(item)).as("pos"))
      .filter(col("pos").isNotNull).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val sp = history.sparkSession
    import sp.implicits._
    val bits = setBits.toDF("pos")
    val joined = (0 until Sketches.BloomHashes).foldLeft(stream) { (df, i) =>
      df.join(
        broadcast(bits.select(col("pos").as(s"__p$i"), lit(true).as(s"__set$i"))),
        Sketches.bloomBit(col(item), i) === col(s"__p$i"), "left")
    }
    val allSet = (0 until Sketches.BloomHashes)
      .map(i => col(s"__set$i").isNotNull).reduce(_ && _)
    // admitted rows keep the STREAM's own schema (the bit-table helper
    // columns are internal) — the operator is not documents-specific
    joined.filter(!allSet)
      .select(stream.columns.map(col): _*)
  }

  /** Model serving at stream time: score a document stream with the
    * TRAINED perceptron quality classifier
    * ([[graft.operators.TextAnalysis.perceptronTrain]]). The ≤ dim-entry
    * weight map is embedded as a LITERAL array in the expression, and the
    * margin Σ_tokens w_{bucket(token)} (≡ Σ_b f_b·w_b, exact BIGINT) is
    * computed entirely PER ROW — no shuffle, no state store, no watermark:
    * a stateless append-mode map the planner fuses into the scan, the
    * shape online corpus filtering actually runs at 100 TB/day (the model
    * rides the closure; only kept rows leave the stage). Identical
    * integer arithmetic to the batch scorer, so the batch chain is the
    * exact oracle.
    */
  def qualityScoreStream(stream: DataFrame, weights: Map[Long, Long],
                         dim: Int = 256): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val wArr = array((0 until dim).map(b => lit(weights.getOrElse(b.toLong, 0L))): _*)
    val toks = regexp_extract_all(col("text"), lit(TextAnalysis.TokenPattern), lit(0))
    stream.select(col("doc_id"), toks.as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
        aggregate(col("__t"), lit(0L), (acc, t) =>
          acc + element_at(wArr,
            (Dedup.hash60(lower(t)) % dim + 1).cast("int"))).as("margin"))
      .withColumn("keep", col("margin") > 0)
  }

  /** Decode IN the stream: the streaming twin of
    * [[graft.operators.Multimodal.wavWindows]] — per arriving document the
    * payload is synthesized ([[graft.operators.Multimodal.syntheticWav]])
    * and its channel-0 PCM decoded to windowed energy/zero-cross/peak
    * features through the SAME shared core ([[graft.operators.Multimodal
    * .wavWindowFeatures]]), as a stateless typed flatMap — Append mode, no
    * state store, no watermark. This is the streaming-ingest transcoder
    * shape (media arrives, features leave): per-row codec work that
    * executor count divides, gated on the identical closed-form oracle as
    * the batch twin. Undecodable payloads emit no rows (a stream has no
    * null-row contract — rows ARE the features).
    */
  def audioWindowsStream(docs: DataFrame, winLen: Int = 32): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .flatMap { d =>
        graft.operators.Multimodal.wavWindowFeatures(
          graft.operators.Multimodal.syntheticWav(d), winLen)
          .getOrElse(Seq.empty)
          .map { case (w, n, ss, zc, pk) => AudioWindowRow(d, w, n, ss, zc, pk) }
      }.toDF()
  }

  /** Streaming HLL register build: the 64-row max-rho state that gives a
    * running distinct-user estimate over an unbounded stream with CONSTANT
    * state — where streaming `countDistinct` would hold every identity
    * forever. Complete-mode aggregate keyed on the register bucket; the
    * caller finishes the materialized registers into an estimate in batch
    * ([[graft.operators.Sketches.estimateFromRegisters]]) because chained
    * streaming aggregates are not supported — and the registers ARE the
    * artifact a production job would persist per trigger anyway.
    */
  def hllRegistersStream(events: DataFrame): DataFrame =
    graft.operators.Sketches.withBucketRho(
      events.select(col("user_id").cast("string").as("it"))
        .withColumn("h", graft.operators.Dedup.hash60(col("it"))))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m"))

  /** Streaming count-min register build — the CMS sibling of
    * [[hllRegistersStream]]: constant d×w cell state giving running
    * frequency estimates over an unbounded stream, where a streaming
    * per-term count would grow with the term vocabulary. Complete-mode
    * aggregate keyed on (row, cell); finish a probe in batch with
    * [[graft.operators.Sketches.cmsEstimate]]. Register merge is
    * element-wise sum, so per-trigger snapshots compose downstream.
    */
  def cmsRegistersStream(events: DataFrame): DataFrame =
    events.select(col("event_type").as("term"))
      .select(graft.operators.Sketches.cmsCells(col("term")).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))

  /** Stream-stream interval join: each purchase joins the same user's views
    * from the preceding 10 minutes. Both sides are watermarked so Spark can
    * bound the join state (a view is droppable once the watermark passes
    * `vts + 10 min`; a purchase once it passes `pts`) — the state-eviction
    * contract that makes stream-stream joins feasible at all. Over one
    * AvailableNow batch every in-range pair emits, so the result equals the
    * batch interval join — which is exactly what the oracle checks.
    */
  def purchaseViewJoin(events: DataFrame, windowMinutes: Int = 10): DataFrame =
    purchaseViewJoinWith(events, windowMinutes, "inner")

  /** The one definition of the purchase↔view interval join (watermarks,
    * filters, interval bound) that both the inner and left-outer variants
    * share — the join-type literal is the ONLY difference, so the two can
    * never disagree on which pairs qualify. */
  private def purchaseViewJoinWith(events: DataFrame, windowMinutes: Int,
                                   joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("u"), col("ts").as("pts"))
      .withWatermark("pts", "2 hours")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "2 hours")
    purchases.join(views,
      col("u") === col("user_id") &&
        col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("event_id"), col("u").as("user_id"), col("pts"), col("vts"))
  }

  /** LEFT OUTER stream-stream interval join — the streaming semantics the
    * inner join can't give: purchases with NO prior view still emit, with a
    * null view side, but only once the watermark proves no matching view
    * can still arrive. Spark derives the left row's state TTL from the join
    * condition (`vts <= pts` ⇒ a left row is unmatched-forever once the
    * global watermark passes `pts`) and emits the null-extended row at
    * eviction. Over an AvailableNow run the final watermark is
    * `min(max pts, max vts) − delay`, so the bounded-run oracle is the
    * batch left join with unmatched rows RESTRICTED to `pts < final
    * watermark` — purchases above it are still in state when the run ends,
    * exactly as they would be on a live stream.
    */
  def purchaseViewJoinOuter(events: DataFrame, windowMinutes: Int = 10): DataFrame =
    purchaseViewJoinWith(events, windowMinutes, "left_outer")

  /** Build a streaming DataFrame against a DEDICATED session clone, run it
    * to completion over the bounded source, and return the materialized
    * result (memory sink, AvailableNow trigger).
    *
    * Shuffle partitions are lowered for the stream: a streaming query pins
    * its STATE partition count at first start, and every state partition
    * pays a store load/commit per micro-batch — with the keyspace here
    * (event types, ≤thousands of users) 8 partitions cut that fixed
    * overhead 4× vs. the session's batch setting with no loss of map-side
    * parallelism. At production volume pick ~(peak keys × state row size /
    * executor memory budget) instead.
    *
    * The override lives only in the [[Parallelism.isolated]] clone, so
    * concurrent `runToCompletion` calls cannot race on a shared
    * save/restore (r3 advice). The `build` callback must construct the whole
    * stream from the session it is given.
    */
  def runToCompletion(spark: SparkSession, name: String,
                      outputMode: OutputMode = OutputMode.Complete(),
                      statePartitions: Int = 8)(build: SparkSession => DataFrame): DataFrame = {
    val s = Parallelism.isolated(spark, statePartitions)
    val q = build(s).writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the memory sink registers its table in the clone's (session-scoped)
    // catalog — read it from there; the returned DataFrame is an ordinary
    // local relation usable from any session sharing the context
    s.table(name)
  }
}
