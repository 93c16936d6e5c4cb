package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.CacheScope

/** Structured Streaming extension (SURVEY.md §7.5, §2.10): the glider/events
  * time-series is naturally an append-only stream. The same transformations
  * run identically over a batch DataFrame and a readStream DataFrame —
  * Spark's unified API — so the batch driver oracle checks the exact code
  * the streaming path executes.
  */
object StreamingOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Watermark delay (ms) attached to a Dataset's analyzed plan, if any —
    * surfaces the [[gapSessionsStream]] ≡ [[gapSessions]] equivalence
    * precondition (gapUs >= delay) instead of leaving it a silent config
    * hazard.
    */
  private[graft] def watermarkDelayMs(ds: Dataset[_]): Option[Long] =
    ds.queryExecution.analyzed.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
        org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
          .getDelayMs(e.delay)
    }

  /** events.ts arrives as BIGINT nanoseconds (parquet TIMESTAMP(NANOS)
    * behind the legacy conf) or as a micros TIMESTAMP_NTZ (current
    * testdata); expose a microsecond TimestampType for watermarks/windows
    * via the shared schema-adaptive derivation.
    */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time",
      timestamp_micros(graft.queries.Common.tsUs(events)))

  /** Tumbling-window counts + sums per event type, 10-minute watermark.
    * Works on both batch and streaming inputs unchanged.
    */
  def tumblingStats(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100)).cast("long").as("sum_cents"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_cents"))

  final case class SessionInput(user_id: Long, ts_us: Long, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Long, total: Double, closed: Boolean)
  // public like ProfileState: the streaming state encoder's generated code
  // constructs and reads it from outside this object (batch execution
  // tolerates private, a running stream does not)
  final case class SessionState(n: Long, total: Double)

  /** Stateful sessionization per user via mapGroupsWithState: accumulates
    * per-user event counts/totals with a processing-time timeout — the
    * KeyValueGroupedDataset custom-state surface (SURVEY.md §2.10).
    * Batch twin: [[sessionTotalsBatch]] (driver row q68) — once a user's
    * events are drained, the state this fold carries (and the last open
    * SessionSummary emitted for the user) holds exactly that aggregate.
    */
  def sessionize(events: Dataset[SessionInput]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionSummary(user, s.n, s.total, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0))
            var n = prev.n; var total = prev.total
            rows.foreach { r => n += 1; total += r.value }
            state.update(SessionState(n, total))
            state.setTimeoutDuration("30 seconds")
            SessionSummary(user, n, total, closed = false)
          }
      }
  }

  /** Batch twin of [[sessionize]]: the per-user cumulative (count, total)
    * its mapGroupsWithState fold converges to once the user's events are
    * drained — one hash-aggregate on the session key (partial map-side
    * combine, no window), so the shape holds at any scale. n_events
    * matches the stream exactly; the stream's double `total` is a fold in
    * arrival order, so the twin projects totals to exact cents
    * (round(value*100) per event — the q65/q38 convention) to stay
    * bit-deterministic for the driver oracle (q68), and the StreamingSpec
    * equivalence run pins the stream's final per-user emission to this
    * aggregate (count exact, total to float tolerance). Input rows need a
    * non-null `value`, the same envelope [[sessionize]]'s typed encoder
    * enforces.
    */
  def sessionTotalsBatch(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100)).cast("long").as("total_cents"))

  // event_time must ride along in the typed row: the watermark attaches to
  // that attribute, and projecting it away before the stateful operator
  // would strip the watermark the event-time timeout needs
  final case class GliderPing(profile_number: Double, time_us: Long,
      pressure: Double, event_time: java.sql.Timestamp)
  final case class ProfileSummary(profile_number: Double, n_pings: Long,
      max_pressure: Double, t_start_us: Long, t_end_us: Long)
  /** Open-profile accumulator (public: the state encoder's generated code
    * constructs and reads it from outside this object).
    */
  final case class ProfileState(nPings: Long, maxPressure: Double,
      tMin: Long, tMax: Long)

  /** Batch twin of [[profileSummaries]]: per-profile ping count, max
    * pressure, and time span over a bounded pings frame (the reference's
    * per-profile painting, process_adcp.py:1509-1516,1652-1653). One
    * hash-aggregate on the profile key — partial map-side combine, no
    * window — so it holds its shape at any scale. The driver oracle (q66)
    * checks this form; the StreamingSpec equivalence run pins every
    * watermark-closed profile the stream emits to its row here.
    */
  def profileSummariesBatch(pings: DataFrame): DataFrame =
    pings.groupBy(col("profile_number"))
      .agg(count(lit(1)).as("n_pings"),
        max(col("pressure")).as("max_pressure"),
        min(col("time_us")).as("t_start_us"),
        max(col("time_us")).as("t_end_us"))

  /** Streaming per-profile summaries for live glider telemetry — the
    * streaming analog of the batch pipeline's per-profile aggregations
    * (max depth, ping count, time span). A profile is an open session
    * keyed by profile_number; it closes and emits exactly once when the
    * event-time watermark passes the last ping plus `gap` — i.e. when the
    * glider has demonstrably moved on. flatMapGroupsWithState +
    * EventTimeTimeout keeps state bounded: one small struct per OPEN
    * profile, closed profiles leave state immediately.
    *
    * Input must already carry a watermark on `eventTimeCol` (the caller
    * sets `withWatermark` so the delay is chosen where the source skew is
    * known).
    */
  def profileSummaries(pings: Dataset[GliderPing], gapSeconds: Long = 300):
      Dataset[ProfileSummary] = {
    import pings.sparkSession.implicits._
    pings
      .groupByKey(_.profile_number)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (profile: Double, rows: Iterator[GliderPing],
            state: GroupState[ProfileState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ProfileSummary(profile, s.nPings, s.maxPressure,
              s.tMin, s.tMax))
          } else {
            val prev = state.getOption.getOrElse(
              ProfileState(0L, Double.MinValue, Long.MaxValue, Long.MinValue))
            var (n, maxP, lo, hi) =
              (prev.nPings, prev.maxPressure, prev.tMin, prev.tMax)
            rows.foreach { p =>
              n += 1; maxP = math.max(maxP, p.pressure)
              lo = math.min(lo, p.time_us); hi = math.max(hi, p.time_us)
            }
            state.update(ProfileState(n, maxP, lo, hi))
            // close once the watermark passes the profile's last ping + gap
            state.setTimeoutTimestamp(hi / 1000L + gapSeconds * 1000L)
            Iterator.empty
          }
      }
  }

  final case class SessionEvent(user_id: Long, ts_us: Long, value: Double,
      event_time: java.sql.Timestamp)
  final case class GapSession(user_id: Long, n_events: Long, t_start_us: Long,
      t_end_us: Long, sum_cents: Long)
  /** Open-session accumulator (public for the state encoder). */
  final case class GapSessionState(n: Long, tStart: Long, tEnd: Long,
      cents: Long)

  /** Batch gap-based sessionization over events: a new session starts when
    * the time since the user's previous event exceeds `gapUs`. Session ids
    * are 0-based per user in time order (lag -> gap flag -> running sum —
    * one window pass, partitioned by user, no shuffle beyond the groupBy
    * that shares its key). This is the batch twin of [[gapSessionsStream]];
    * the driver oracle (q65) checks this form, and the StreamingSpec
    * equivalence run pins the streaming form to it.
    *
    * The running sum uses a RANGE frame, not ROWS: with TIED ts_us values
    * (us-coincident events — the sf1 replica corpus has 100k such pairs) a
    * ROWS frame hands tied rows different session ids depending on the
    * engine's arbitrary tie order, and two window passes (flag vs sum) may
    * even order ties differently WITHIN one engine. Under RANGE every tied
    * row sees the whole tie group's flag total — and that total is
    * tie-order-independent (exactly one row of a tie group lags back to
    * the previous distinct timestamp), so the assignment is deterministic
    * on any input.
    */
  def gapSessions(events: DataFrame, gapUs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
    events
      .withColumn("__new", when(
        col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(
        w.rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("t_start_us"),
        max(col("ts_us")).as("t_end_us"),
        sum(round(col("value") * 100)).cast("long").as("sum_cents"))
  }

  /** Streaming gap-based sessionization: flatMapGroupsWithState with an
    * event-time timeout. Each micro-batch's rows for a user are sorted and
    * folded into the open-session state; a row past the gap closes the open
    * session (emitted immediately) and opens a new one; the final open
    * session closes when the watermark passes its last event plus the gap —
    * state is one small struct per ACTIVE user, closed sessions leave state
    * at once. Per-row cents use java BigDecimal HALF_UP on value*100 — the
    * exact arithmetic of Spark's `round`, so a session's sum_cents is
    * bit-equal to the batch twin's.
    *
    * Within-watermark reordering is handled by folding each micro-batch
    * into gap-merged session INTERVALS and merging the open session into
    * that run: a late row inside the gap of the open session extends it
    * (min on t_start), a late row more than the gap BEFORE it becomes its
    * own earlier session (emitted immediately — a later session exists, so
    * it is definitionally closed), matching the batch twin in both cases.
    * A row arriving AFTER the watermark already passed its session's close
    * is dropped by the engine before the handler sees it — the standard
    * late-data contract. Input must already carry a watermark on
    * `event_time`. Memory: the handler materializes one user's rows for
    * ONE micro-batch to sort them (persistent state stays a single small
    * struct per open session) — bounded by per-user micro-batch volume,
    * the usual sessionization envelope; cap trigger size for firehose
    * users.
    */
  def gapSessionsStream(events: Dataset[SessionEvent], gapUs: Long):
      Dataset[GapSession] = {
    import events.sparkSession.implicits._
    // surface the batch-equivalence precondition at plan-build time: with
    // a watermark delay LONGER than the gap, a within-watermark row can
    // arrive after the session it would have bridged into was already
    // emitted (append-mode emission is irrevocable), and the streaming
    // output diverges from the batch twin — warn instead of silently
    // diverging in misconfigured deployments
    watermarkDelayMs(events).filter(_ * 1000L > gapUs).foreach { delayMs =>
      log.warn(
        s"gapSessionsStream: watermark delay ${delayMs} ms exceeds the " +
        s"session gap ${gapUs / 1000L} ms — rows arriving late-but-within-" +
        "watermark may bridge into sessions that were already emitted, so " +
        "the streaming output can diverge from the batch twin " +
        "(gapSessions). Use gapUs >= the watermark delay for exact " +
        "equivalence.")
    }
    def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent],
            state: GroupState[GapSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(GapSession(user, s.n, s.tStart, s.tEnd, s.cents))
          } else {
            // Fold the micro-batch into session INTERVALS rather than
            // assuming every row follows the open session: a within-
            // watermark row may precede the open session's start by MORE
            // than the gap (reachable whenever gapUs < the watermark
            // delay), and absorbing it would diverge from the batch twin,
            // which sorts globally and gives that row its own earlier
            // session. A row within the gap of the open session (before or
            // after) still extends it — min on tStart — and rows can chain
            // each other into the session transitively, which the interval
            // merge below handles by construction.
            val sorted = rows.toArray.sortBy(_.ts_us)
            // 1) gap-merged sessions from this batch's rows alone
            //    (ascending, so the simple sequential fold is exact)
            val pts = scala.collection.mutable.ArrayBuffer[GapSessionState]()
            sorted.foreach { e =>
              pts.lastOption match {
                case Some(p) if e.ts_us - p.tEnd <= gapUs =>
                  pts(pts.size - 1) = GapSessionState(p.n + 1, p.tStart,
                    math.max(p.tEnd, e.ts_us), p.cents + cents(e.value))
                case _ =>
                  pts += GapSessionState(1L, e.ts_us, e.ts_us, cents(e.value))
              }
            }
            // 2) merge the open-session interval into the sorted run
            val merged = (state.getOption.toSeq ++ pts)
              .sortBy(s => (s.tStart, s.tEnd))
              .foldLeft(Vector.empty[GapSessionState]) { (acc, iv) =>
                acc.lastOption match {
                  case Some(p) if iv.tStart - p.tEnd <= gapUs =>
                    acc.init :+ GapSessionState(p.n + iv.n, p.tStart,
                      math.max(p.tEnd, iv.tEnd), p.cents + iv.cents)
                  case _ => acc :+ iv
                }
              }
            // every interval except the latest is definitionally closed (a
            // later session for this user exists) and emits now; a yet-
            // later row that would have bridged into one of them is the
            // standard append-mode late-data loss — unreachable in configs
            // with gapUs >= the watermark delay (q65's shipped 12h >>
            // 10min); the converse misconfiguration is warned about at
            // plan-build time above
            val last = merged.last
            state.update(last)
            // close once the watermark passes the session's last event +
            // gap; clamp above the current watermark (a gap shorter than
            // the watermark delay can put tEnd + gap in the engine's past,
            // which setTimeoutTimestamp rejects — the clamp closes such a
            // session at the next watermark advance instead)
            state.setTimeoutTimestamp(
              math.max(last.tEnd / 1000L + gapUs / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            merged.init.iterator
              .map(s => GapSession(user, s.n, s.tStart, s.tEnd, s.cents))
          }
      }
  }

  /** Streaming exact dedup for a continuously-ingested document stream:
    * content-hash each row, then `dropDuplicatesWithinWatermark` keeps the
    * first arrival of each hash and expires dedup state once the watermark
    * passes — bounded state, unlike a plain `dropDuplicates` whose state
    * grows with the whole corpus. The batch twin of this operator is
    * [[graft.operators.Dedup.exact]]; the hash arithmetic
    * ([[graft.functions.Text.hash48Builtin]]) is identical, so a streaming
    * ingest and a batch backfill dedupe against the same keys.
    */
  def dedupStream(docs: DataFrame, textCol: String, eventTimeCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("__key_hash", graft.functions.Text.hash48Builtin(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("__key_hash")
      .drop("__key_hash")

  /** Batch twin of [[dedupStream]]: keep, per content hash, the row with
    * the minimum (arrival time, id) — deterministic where the stream's
    * "first arrival" depends on processing order, and equal to it whenever
    * rows arrive in event-time order (the StreamingSpec equivalence run
    * feeds micro-batches in `tsCol` order to pin exactly that). Identical
    * hash arithmetic ([[graft.functions.Text.hash48Builtin]]), so a batch
    * backfill and a live ingest keep the same keys. One window pass
    * partitioned by the hash — the shuffle key a 100 TB corpus wants
    * anyway; the driver oracle (q67) checks this form.
    */
  def dedupFirstArrival(docs: DataFrame, textCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__key_hash")).orderBy(col(tsCol), col(idCol))
    docs.withColumn("__key_hash", graft.functions.Text.hash48Builtin(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__key_hash", "__rn")
  }

  /** Streaming corpus ingest with incremental near-dup dedup — the
    * daily-ingest loop as a stream. Each micro-batch is (1) SELF-deduped
    * ([[graft.operators.Dedup.dedupCorpus]] within the batch, so a batch
    * carrying its own near-dup pair admits one survivor), (2) probed
    * against the PERSISTED LSH index
    * ([[graft.operators.Dedup.dedupBatchAgainstLshIndex]] — no corpus
    * re-shingling), then (3) its survivors are appended to the index AND
    * to the accepted-corpus parquet sink, so every later micro-batch sees
    * them. `foreachBatch` is the canonical pattern for maintaining a
    * stateful external artifact from a stream: the index IS the streaming
    * state, persisted, bounded, and shared with the batch surface — one
    * dedup code path serves batch backfills and the live stream.
    *
    * Semantics: idempotent on epoch replay via the index's batch ledger
    * ([[graft.operators.IndexFiles.wasBatchApplied]], scoped to this
    * stream's writer identity — see [[writerIdFor]]) — a re-delivered
    * epochId (crash between the appends and the checkpoint commit) is
    * SKIPPED, not re-appended. The residual window (crash between the
    * last append and the ledger marker) re-appends the INDEX rows once,
    * repaired by `compactLshIndex(dedupeRows = true)`; the CORPUS sink is
    * idempotent even in that window — each batch's survivors land in a
    * batch-scoped `ingest_batch=` partition via dynamic partition
    * overwrite, so a replay rewrites its own partition instead of
    * appending duplicates (see [[writeCorpus]]). The spec pins both the
    * no-failure path (stream output ≡ the sequential batch loop) and the
    * replay path (re-delivering an applied batch changes nothing, without
    * compaction). Caller configures trigger/checkpoint on the returned
    * writer and calls `start()`.
    */
  def ingestWithDedup(stream: DataFrame, indexDir: String,
      corpusDir: String, jaccardThreshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Option[Int] = graft.operators.Dedup.defaultMaxBucket,
      appId: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.toDF(), indexDir, corpusDir, jaccardThreshold,
          idCol, textCol, maxBucket, batchId = Some(batchId), appId = appId)
    }

  /** One ingest step — the foreachBatch body, exposed so a batch backfill
    * loop and the stream run literally the same code (the spec's
    * equivalence is code identity plus micro-batch boundaries).
    */
  def ingestBatch(batch: DataFrame, indexDir: String, corpusDir: String,
      jaccardThreshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Option[Int] = graft.operators.Dedup.defaultMaxBucket,
      batchId: Option[Long] = None, appId: Option[String] = None): Unit = {
    import graft.operators.{Dedup, IndexFiles}
    val spark = batch.sparkSession
    val writer = writerIdFor(spark, appId)
    // a replayed micro-batch is skipped; the marker lands last (the
    // corpus sink is idempotent even in the window before it)
    IndexFiles.applyBatchOnce(spark, indexDir, writer, batchId) {
      CacheScope.using { scope =>
        // survivors feed two writes (index append + corpus sink): persist
        // so the probe computes once
        val self = Dedup.dedupCorpus(batch, idCol, textCol, jaccardThreshold,
          maxBucket = maxBucket, scope = scope)
        val survivors = scope.persist(Dedup.dedupBatchAgainstLshIndex(spark,
          indexDir, self, jaccardThreshold, idCol, textCol, maxBucket, scope))
        Dedup.appendToLshIndex(spark, indexDir, survivors, idCol, textCol)
        writeCorpus(survivors, corpusDir, writer, batchId)
      }
    }
  }

  /** Effective ledger writer identity for an ingest step: the explicit
    * `appId` when the caller supplies one (the Delta txnAppId pattern —
    * use it when one logical pipeline must survive a checkpoint
    * migration), else the stream's queryId (Structured Streaming sets it
    * as a local property on the foreachBatch thread; it is persisted in
    * the checkpoint metadata, so it is stable across restarts of the SAME
    * checkpoint and fresh for a NEW one — matching the batchId scope
    * exactly, which is what makes the ledger safe: a restarted stream
    * with a fresh checkpoint restarts batchIds from 0 and must NOT be
    * skipped by markers an earlier stream left behind), else "local"
    * (non-streaming backfill loops, which share one namespace by
    * construction).
    */
  private def writerIdFor(spark: SparkSession,
      appId: Option[String]): String =
    appId.orElse(Option(spark.sparkContext
      .getLocalProperty("sql.streaming.queryId")))
      .getOrElse("local")

  /** Corpus-sink write for one ingest step. With a known `batchId` the
    * survivors land in a batch-scoped `ingest_batch=<writer>-<id>`
    * partition under DYNAMIC partition overwrite — a replayed batch
    * (the residual crash window between the index appends and the ledger
    * marker) rewrites ITS OWN partition with the recomputed survivors
    * instead of appending duplicates, so the corpus needs no repair pass
    * in any crash window. (The recomputation is survivor-stable because
    * both index probes exclude same-id matches; in bucket-cap/k-cap
    * corner cases a replay may dedup MORE rows than the first attempt —
    * a valid dedup outcome either way, never a duplicate.) Without a
    * batchId (ad-hoc backfill) it is a plain append; don't mix the two
    * modes in one corpus dir — the partitioned and flat layouts don't
    * union under parquet partition discovery.
    */
  private def writeCorpus(survivors: DataFrame, corpusDir: String,
      writerId: String, batchId: Option[Long]): Unit = batchId match {
    case Some(id) =>
      survivors.withColumn("ingest_batch", lit(s"$writerId-$id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(corpusDir)
    case None =>
      survivors.write.mode("append").parquet(corpusDir)
  }

  /** Streaming EMBEDDING ingest into a persisted IVF ANN index — the
    * vector twin of [[ingestWithDedup]]: each micro-batch of
    * (vec_id, embedding) is self-deduped (SemDeDup drop rule within the
    * batch), probed against the saved inverted lists for near-dups of
    * already-accepted vectors, and the survivors are appended to the
    * index (assigned by the FROZEN saved centroids) and to the vector
    * corpus sink — so tomorrow's batch sees them. Idempotent on replay
    * via the index's writer-scoped batch ledger (the [[ingestWithDedup]]
    * contract): a re-delivered micro-batch is skipped, not re-appended;
    * only the residual crash window between the appends and the ledger
    * marker re-appends the INDEX rows once, repaired by
    * `compactIvfIndex(dedupeRows = true)` — the corpus sink is idempotent
    * even there ([[writeCorpus]]'s batch-scoped partition overwrite).
    * Caller configures trigger/checkpoint and calls `start()`.
    */
  def ingestVectors(stream: DataFrame, indexDir: String, corpusDir: String,
      cosineThreshold: Double = 0.99, selfDedupK: Int = 8, nProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      appId: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestVectorsBatch(batch.toDF(), indexDir, corpusDir,
          cosineThreshold, selfDedupK, nProbe, idCol, vecCol,
          batchId = Some(batchId), appId = appId)
    }

  /** One vector-ingest step — the foreachBatch body, exposed so a batch
    * backfill loop and the stream run literally the same code (the
    * [[ingestBatch]] equivalence recipe).
    */
  def ingestVectorsBatch(batch: DataFrame, indexDir: String,
      corpusDir: String, cosineThreshold: Double = 0.99,
      selfDedupK: Int = 8, nProbe: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding", batchId: Option[Long] = None,
      appId: Option[String] = None): Unit = {
    import graft.operators.{Dedup, IndexFiles, Similarity}
    val spark = batch.sparkSession
    val writer = writerIdFor(spark, appId)
    IndexFiles.applyBatchOnce(spark, indexDir, writer, batchId) {
      CacheScope.using { scope =>
        // in-batch SemDeDup first (two near-dups arriving together would
        // both survive an index-only probe), then the index probe;
        // survivors feed two writes, so persist
        val keptIds = Similarity.semanticDedup(batch, k = selfDedupK,
            threshold = cosineThreshold, idCol = idCol, vecCol = vecCol)
          .select(col("id").as(idCol))
        val survivors = scope.persist(Similarity.dedupBatchAgainstIvfIndex(
          spark, indexDir, batch.join(keptIds, Seq(idCol), "left_semi"),
          cosineThreshold, nProbe, idCol, vecCol, scope))
        Similarity.appendToIvfIndex(spark, indexDir, survivors, idCol, vecCol)
        writeCorpus(survivors, corpusDir, writer, batchId)
      }
    }
  }

  /** Streaming DOCUMENT INDEXING into a persisted BM25 inverted index:
    * each micro-batch appends its postings into the frozen term buckets
    * and additively merges the corpus stats
    * ([[graft.operators.Retrieval.appendToIndex]]) — so the serve path
    * ([[graft.operators.Retrieval.searchIndex]]) always ranks against the
    * full ingested corpus. Because the append is provably equivalent to a
    * one-shot build on the union (the q91 identity), the stream's final
    * index is bit-identical to batch-building over everything it ingested
    * — micro-batch BOUNDARIES don't matter. Micro-batch REPLAY is
    * guarded by the index's batch ledger (the [[ingestWithDedup]]
    * contract): a re-delivered batchId is skipped instead of
    * double-counting postings and stats; the residual crash window
    * between the append and the ledger marker re-appends once, repaired
    * by `compactIndex(dedupeRows = true)`. The index must be seeded by
    * [[graft.operators.Retrieval.buildIndex]] on a NONEMPTY initial
    * corpus first (the stats table, which carries the frozen bucket
    * count, has one row per term). Caller configures trigger/checkpoint
    * and calls `start()`.
    */
  def indexDocuments(stream: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      appId: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        indexDocumentsBatch(batch.toDF(), indexDir, idCol, textCol,
          batchId = Some(batchId), appId = appId)
    }

  /** One document-indexing step — the foreachBatch body, exposed so a
    * batch backfill loop and the stream run literally the same code (the
    * [[ingestBatch]] equivalence recipe).
    */
  def indexDocumentsBatch(batch: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      batchId: Option[Long] = None, appId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    graft.operators.IndexFiles.applyBatchOnce(spark, indexDir,
        writerIdFor(spark, appId), batchId) {
      graft.operators.Retrieval.appendToIndex(spark, indexDir, batch,
        idCol, textCol)
    }
  }

  /** Run a streaming query over a parquet directory to a memory sink and
    * block until all available input is processed (local smoke harness).
    */
  def runToMemory(spark: SparkSession, inputDir: String, queryName: String,
      transform: DataFrame => DataFrame, outputMode: OutputMode): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(inputDir).schema
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    val q = transform(stream).writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
