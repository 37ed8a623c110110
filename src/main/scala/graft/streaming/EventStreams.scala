package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the events table: the streaming
  * analog of the batch trips_by_hour aggregation, plus stateful per-user
  * session tracking.
  *
  * The reference is batch-only (SURVEY.md §2.8 — its "near-real-time" is
  * request/response scoring), so this module is part of the 100 TB
  * extension surface: the same event-time aggregation a production
  * pipeline runs continuously, with watermarked state eviction so
  * executor state stays bounded regardless of stream length.
  */
object EventStreams {

  final case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  final case class UserStats(user_id: Long, n_events: Long, sum_value: Double)

  /** File-based streaming source over a directory of events parquet
    * (micro-batch per new file). Schema must be supplied — streaming
    * reads cannot infer.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventSchema).parquet(dir)

  private val EventSchema = "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

  /** Watermarked event-time hourly aggregation — the streaming
    * trips_by_hour: tumbling 1-hour windows per event_type, state
    * dropped once the watermark passes (late data beyond 2h discarded).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
      )
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stateful running per-user totals via mapGroupsWithState — the
    * custom-state shape (KeyValueGroupedDataset) for logic windowed
    * aggregation can't express.
    *
    * `evictIdleAfter` (production): a ProcessingTime timeout evicts idle
    * users so state stays bounded on an unbounded key space. Pass None in
    * tests — with a timeout configured, Spark's no-data trigger re-fires
    * continuously to check timers, so `processAllAvailable` never settles.
    */
  def runningUserStats(
      events: Dataset[Event],
      evictIdleAfter: Option[String] = None): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (evictIdleAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](timeoutConf) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          updateUserStats(userId, batch, state, evictIdleAfter)
      }
  }

  /** State-update function behind [[runningUserStats]], extracted so the
    * eviction branch is testable via `TestGroupState` — with a
    * ProcessingTime timeout live, the no-data trigger re-fires
    * continuously and `processAllAvailable` never settles.
    */
  private[streaming] def updateUserStats(
      userId: Long,
      batch: Iterator[Event],
      state: GroupState[UserStats],
      evictIdleAfter: Option[String]): UserStats =
    if (state.hasTimedOut) {
      // idle-eviction timer fired with no new data: drop the state so an
      // unbounded key space can't grow it forever, emitting the final
      // stats once as the eviction record
      val last = state.getOption.getOrElse(UserStats(userId, 0L, 0.0))
      state.remove()
      last
    } else {
      val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0))
      val next = batch.foldLeft(prev) { (acc, e) =>
        UserStats(userId, acc.n_events + 1, acc.sum_value + e.value)
      }
      state.update(next)
      evictIdleAfter.foreach(state.setTimeoutDuration)
      next
    }

  /** Windowed heavy hitters on the stream — the SAME mergeable
    * Misra–Gries summary as the batch op
    * ([[graft.functions.MisraGries]] / `TextAnalysis.heavyHitters`),
    * applied per event-time window: because the sketch is a mergeable
    * typed Aggregator, Structured Streaming holds ONE capacity-bounded
    * map per open window as its state (merged incrementally across
    * micro-batches), instead of per-key counts over an unbounded key
    * space — the streaming frequent-items shape that works on an
    * endless stream. Watermark evicts closed windows.
    *
    * Emits the surviving candidates ordered by estimated frequency;
    * batch-exact recounting of candidates (the verify half) is a batch
    * join downstream — on a stream the estimates themselves carry the
    * N/(capacity+1) error bound.
    */
  def windowedHeavyHitters(
      events: DataFrame,
      watermark: String = "2 hours",
      windowLen: String = "1 hour",
      capacity: Int = 64,
  ): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(capacity))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(mg(col("event_type")).as("heavy_hitters"))
      .select(col("window.start").as("window_start"), col("heavy_hitters"))
  }

  /** Windowed count-min sketch on the stream — [[graft.ops.Stats]]'s
    * CMS state ((r, bucket, cnt) rows, md5 buckets) maintained as a
    * streaming windowed aggregation: per open window the state is AT
    * MOST d·w counter rows no matter how many distinct items flow
    * through — the bounded-state property that makes a frequency
    * sketch the streaming answer where per-item counts grow without
    * bound. Complements [[windowedHeavyHitters]] the same way the
    * batch ops complement each other: Misra–Gries keeps the few
    * survivors, CMS can answer a point query for ANY item after the
    * window closes. Watermark evicts closed windows; a closed window's
    * rows merge with other shards/days by cellwise addition
    * ([[graft.ops.Stats.cmsMerge]]), spec-proven equal to the batch
    * build over the same events.
    */
  def windowedCms(
      events: DataFrame,
      itemCol: String,
      watermark: String = "2 hours",
      windowLen: String = "1 hour",
      d: Int = 4,
      w: Int = 64,
  ): DataFrame = {
    val bucket = conv(substring(
        md5(concat_ws("|", lit("cms"), col("r").cast("string"), col(itemCol))),
        1, 8), 16, 10).cast("long") % w
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col(itemCol),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .groupBy(window(col("ts"), windowLen), col("r"), bucket.as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("r"), col("b"), col("cnt"))
  }

  /** An admission event from [[streamingQuota]]. */
  case class QuotaAdmission(source: String, id: Long, score: Double)

  /** Streaming per-source quota — the continuous form of
    * [[graft.ops.Corpus.sourceQuota]]: each source's ONLY state is its
    * current top-`cap` admission set by (score desc, id asc) — a
    * cap-sized vector per active source, the same bound as the batch
    * aggregator's heap — and every micro-batch emits the documents
    * newly ADMITTED in that batch. A later higher-scoring document
    * evicts the weakest member, so an emission is an admission event,
    * not a final verdict; the state after any prefix equals the batch
    * operator's result over that prefix (spec-asserted), which is what
    * makes the continuous and batch curation rules interchangeable.
    */
  def streamingQuota(
      docs: Dataset[(String, Long, Double)],
      cap: Int): Dataset[QuotaAdmission] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Double, Long)], QuotaAdmission](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source, batch, state) =>
          val prev = state.getOption.getOrElse(Vector.empty)
          val merged = (prev ++ batch.map(t => (t._3, t._2)))
            .distinct
            .sortBy { case (s, id) => (-s, id) }
            .take(cap)
          state.update(merged)
          val prevSet = prev.toSet
          merged.iterator
            .filterNot(prevSet)
            .map { case (s, id) => QuotaAdmission(source, id, s) }
      }
  }

  /** Streaming exact dedup — the continuous form of the batch content-
    * hash dedup (graft.ops.Dedup): keep the first event per key, where
    * state for a key is dropped once the watermark passes it, so state
    * size tracks the late-data window, not the stream's history. The
    * 100 TB/endless-stream property: bounded state regardless of volume.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Event-time sessionization with the built-in session_window (gap
    * closes a session) — declarative, watermark-evicted, no custom state
    * function needed (Spark-first: flatMapGroupsWithState is reserved
    * for semantics the built-in can't express).
    */
  def userSessions(events: DataFrame, gap: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
      )
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  final case class SessionSummary(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      sum_value: Double)

  /** Internal session state (public: Spark's generated encoder code must
    * reach the accessors — a `private` case class fails janino
    * compilation inside the state serializer). Times are EPOCH MICROS:
    * `Timestamp.getTime` is millis and silently truncates the
    * microsecond fraction the fixtures carry (the q_sessions_fmgs gate
    * caught exactly that — session bounds off by the sub-ms digits).
    */
  final case class OpenSession(
      user_id: Long, startUs: Long, lastUs: Long, nEvents: Long, sumValue: Double)

  /** Timestamp → epoch micros without ms truncation (getNanos carries
    * the full sub-second fraction; getTime/1000 floors to seconds).
    */
  private def tsMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Custom-state sessionization via flatMapGroupsWithState: sessions
    * close `gapMs` after their last event and are EMITTED ON CLOSE via
    * event-time timeout — the output shape `session_window` can't give
    * (it emits aggregates, not close events, and only on watermark
    * commit of the window). Demonstrates the full custom-state contract:
    * event-time timers, state eviction, and append-mode emission.
    *
    * State per user is one fixed-size record; the watermark bounds how
    * long a silent user's record lives. At 100 TB-of-stream the state
    * store scales with ACTIVE users, not history.
    *
    * Boundary semantics match the batch ISLANDS oracle exactly: merge
    * on STRICT `t - last < gap` (an event landing exactly `gap` later
    * opens a new session — the oracle breaks at `diff >= gap`), and a
    * merge takes min(start, t) as well as max(last, t) so any
    * in-watermark arrival order yields the right session_start. Note
    * Spark's built-in `session_window` differs at that measure-zero
    * boundary (touching `[t, t+gap)` windows COALESCE — EventStreamsSpec
    * pins both behaviors); this operator follows the oracle its gate
    * replays. Remaining contract: the
    * state is ONE open session per user, so an in-watermark event older
    * than `start - gap` (a distinct EARLIER session arriving after a
    * later one opened) merges instead of forming its own session —
    * full generality there needs interval-set state; under event-time-
    * ordered replay (the bridge contract) the case cannot occur.
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          val sorted = batch.toSeq.sortBy(e => tsMicros(e.ts))
          var open = state.getOption
          val closed = Seq.newBuilder[SessionSummary]
          def close(s: OpenSession): Unit = closed += SessionSummary(
            s.user_id, microsTs(s.startUs), microsTs(s.lastUs + gapUs),
            s.nEvents, s.sumValue)
          if (sorted.isEmpty) {
            // timer fired: the watermark passed last + gap with no new data
            open.foreach(close(_))
            open = None
          } else {
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              open match {
                // STRICT <: an event exactly `gap` after the last one
                // starts a NEW session — `session_window` merges only
                // when the next start is strictly before last + gap,
                // and the batch islands oracle breaks at
                // `t - lag(t) >= gap`. `<=` here would silently merge
                // boundary-landing events and diverge from both.
                case Some(s) if t - s.lastUs < gapUs =>
                  // min on startUs too: an in-watermark arrival older
                  // than the open session's start must extend the
                  // session backwards, or session_start diverges from
                  // batch session_window under out-of-order replay.
                  open = Some(s.copy(startUs = math.min(s.startUs, t),
                    lastUs = math.max(s.lastUs, t),
                    nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
                case Some(s) =>
                  close(s)
                  open = Some(OpenSession(userId, t, t, 1L, e.value))
                case None =>
                  open = Some(OpenSession(userId, t, t, 1L, e.value))
              }
            }
          }
          open match {
            case Some(s) =>
              state.update(s)
              // timer granularity is millis; round the close UP so the
              // timer can never fire before the true micro-precise close
              state.setTimeoutTimestamp(
                math.floorDiv(s.lastUs + gapUs + 999L, 1000L))
            case None => state.remove()
          }
          closed.result().iterator
      }
  }

  private val stagedEventsFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shared batch↔stream bridge harness: stage the events table as a
    * multi-file directory replayed in EVENT-TIME order, run an
    * arbitrary watermarked streaming aggregation over it as a FILE
    * STREAM (one file per micro-batch, append mode — the production
    * contract: results emit exactly once, when the watermark closes
    * them), and land each batch in `workDir/out/batch_id=N` as parquet
    * (idempotent per batchId — restart-safe) for a DuckDB batch oracle
    * to hash-check. Every event bridge gate (sessions, windowed CMS,
    * …) goes through here: the slices are written by [[stageSlices]]
    * and replayed by [[streamSlices]], the stager and stream driver
    * the doc bridge ([[DocStreams.incrementalDedupDirToParquet]])
    * shares.
    *
    * Staging must replay in event-time order ACROSS micro-batches: the
    * watermark ratchets to each batch's max event time, so a file
    * holding near-max timestamps early in the stream would mark every
    * later file LATE and silently drop its results (the first cut of
    * the sessions bridge hash-failed exactly that way — 3780/5725
    * sessions). Each event-time slice is one file with a synthetic
    * strictly-ascending whole-second mtime (the file source's order
    * key; no sleeping) and a matching lexicographic name.
    *
    * End-of-stream flush: append mode only emits what the WATERMARK
    * has closed, and a finite fixture's tail would otherwise sit in
    * state forever. Two sentinel files (user −1, 30/31 days past the
    * real max, mtimes after the data) extend the stream: the first
    * advances the watermark past every real close when its batch
    * commits, the second's batch performs the eviction under that
    * watermark — no reliance on no-data micro-batches. Consumers drop
    * sentinel-derived rows (user filter or event-time cut at the real
    * max — the sentinels sit ≥30 days past it).
    *
    * Returns the result directory (`workDir/out`). `workDir` (out +
    * checkpoint) is wiped first so repeated gate runs are idempotent.
    *
    * Staging is memoized — ONE staged replay per SOURCE: every bridge
    * reads the same event-time slices + sentinels, so staging once and
    * fanning out N streaming queries is both the cheaper bench shape
    * and the production one (land the stream once, attach consumers).
    * The stage path is DETERMINISTIC — an MD5 digest of the normalized
    * absolute source path under the system temp dir — and staging
    * writes a `_STAGED` marker on completion, so a `resume = true` run
    * in a FRESH JVM finds the exact files the checkpoint's file-source
    * log committed instead of re-staging into a new temp dir (which
    * would make every slice look new and re-ingest the whole stream as
    * duplicate batches). An incomplete stage (no marker — e.g. the
    * negative-user_id guard threw, or the JVM died mid-stage) is wiped
    * and rebuilt. Assumes the source is immutable for the stage dir's
    * lifetime (the fixture contract — a mutated source needs a new
    * path or a cleared stage dir).
    */
  def replayEventsDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String,
      buildQuery: DataFrame => DataFrame,
      statePartitions: Int = 8,
      resume: Boolean = false,
      interruptAfterBatches: Option[Int] = None): String = {
    // `resume = true` continues an interrupted run from its checkpoint
    // (exactly-once restart: committed batches are skipped, the
    // in-flight one replays into its own overwritten partition);
    // a fresh run wipes the previous out + checkpoint first
    if (!resume) wipeTree(workDir)
    val stage = stagedEventsFor.computeIfAbsent(
      Path.of(srcDir).toAbsolutePath.normalize.toString,
      key => stageEventSlices(spark, srcDir, key))
    streamSlices(spark, EventSchema, stage, workDir, "batch_id",
      statePartitions, interruptAfterBatches)(buildQuery, batch => batch)
  }

  /** The one stream driver behind every batch↔stream bridge: replay the
    * `slice_NN.parquet` files of `stage` ([[stageSlices]]) as a FILE
    * STREAM of `schema`, one file per micro-batch (`maxFilesPerTrigger`
    * 1, `Trigger.AvailableNow`, append mode, checkpoint at
    * `workDir/ckpt`), run `query` over it, and land each micro-batch,
    * passed through `perBatch`, in its own overwrite partition
    * `workDir/out/<part>=<batchId>`. Returns `workDir/out`.
    *
    * `perBatch` is the batch-local step a streaming plan cannot hold
    * (the doc bridge's exact-Jaccard verify); the event bridges pass
    * the batch through. `statePartitions` is the
    * `spark.sql.shuffle.partitions` the query runs under, set for the
    * query's lifetime and restored after it. `interruptAfterBatches`
    * stops the query after that many committed batches (the restart
    * drill's failure injection). The caller owns `workDir`: a fresh run
    * wipes it first, a resumed one keeps its checkpoint.
    */
  private[streaming] def streamSlices(
      spark: SparkSession,
      schema: String,
      stage: String,
      workDir: String,
      part: String,
      statePartitions: Int,
      interruptAfterBatches: Option[Int])(
      query: DataFrame => DataFrame,
      perBatch: DataFrame => DataFrame): String = {
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
    val out = s"$workDir/out"
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage)
    // State-store partitioning is pinned at query start from
    // spark.sql.shuffle.partitions and every micro-batch COMMITS every
    // state partition (per stateful operator — a stream-stream join
    // carries two) whether or not it holds keys. At the batch default
    // (32 here) the per-partition commit overhead dominates these
    // bounded-state queries: the r11 join bridge measured 15.1 s at 32
    // state partitions vs ~6 s at 8, identical results. Size state
    // partitions to STATE volume, not batch shuffle width — on a real
    // cluster this is the same knob, just pointed at executor count ×
    // state skew instead of a constant. Scoped set/restore: the
    // streaming query captures the value at start(); gates run on a
    // single driver thread (the documented registry assumption).
    val shufKey = "spark.sql.shuffle.partitions"
    val prevShuf = spark.conf.get(shufKey)
    spark.conf.set(shufKey, statePartitions.toString)
    // test-only failure injection: stop() the query after N committed
    // batches, simulating a mid-stream crash for the restart proof.
    // The listener bus is SESSION-wide, so progress events are filtered
    // to the query this call started (targetQuery, set right after
    // start()) — a concurrent query on the same session must not
    // advance the count or be stopped; events arriving before the ref
    // is set are at worst undercounted, never misattributed. stop()
    // goes through the captured handle, not spark.streams.get (which
    // returns null for an already-terminated query — NPE on the bus
    // thread).
    val targetQuery = new java.util.concurrent.atomic.AtomicReference[StreamingQuery](null)
    val interruptListener = interruptAfterBatches.map { n =>
      val seen = new java.util.concurrent.atomic.AtomicInteger(0)
      new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val q = targetQuery.get()
          if (q != null && e.progress.id == q.id &&
              seen.incrementAndGet() == n)
            q.stop()
        }
      }
    }
    interruptListener.foreach(spark.streams.addListener)
    try {
      val q = query(stream).writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$workDir/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // idempotent per batchId: a batch replayed after a crash +
          // restart OVERWRITES its own partition instead of appending
          // a duplicate — the exactly-once contract foreachBatch
          // leaves to its handler. Readers see `part` as a
          // provenance partition column.
          perBatch(batch).write.mode("overwrite").parquet(s"$out/$part=$id")
        }
        .start()
      targetQuery.set(q)
      q.awaitTermination()
    } finally {
      interruptListener.foreach(spark.streams.removeListener)
      spark.conf.set(shufKey, prevShuf)
    }
    out
  }

  /** Stage the events table as mtime-ordered event-time slices plus
    * the two watermark sentinels (see [[replayEventsDirToParquet]]'s
    * doc for the ordering/flush rationale). Returns the staging dir.
    *
    * The stage dir is DETERMINISTIC per source (MD5 of the normalized
    * absolute source path): a completed stage from an earlier JVM —
    * `_STAGED` marker present — is reused byte-for-byte, so a resumed
    * checkpoint's file-source log keeps referencing files that exist
    * and nothing is double-ingested across a process restart. Staging
    * builds into a pid-keyed scratch dir and PUBLISHES with an atomic
    * rename, so two processes racing on first-time staging cannot
    * corrupt each other — the loser adopts the winner's stage. A
    * marker-less leftover (a JVM died mid-publish, pre-atomic-rename
    * era) is wiped before the rename retries.
    */
  private def stageEventSlices(
      spark: SparkSession, srcDir: String, srcKey: String): String = {
    // the digest covers the source path AND a listing fingerprint
    // (relative name, size, mtime per file): a source REGENERATED at
    // the same path — new round, new fixture — keys a fresh stage
    // instead of silently replaying stale slices, while a byte-stable
    // source keeps the same key across a kill-and-resume JVM restart
    val fingerprint = {
      val root = Path.of(srcKey)
      val listing = scala.util.Using.resource(Files.walk(root))(
        _.filter(p => Files.isRegularFile(p))
          .map[String](p => s"${root.relativize(p)}|${Files.size(p)}|" +
            s"${Files.getLastModifiedTime(p).toMillis}")
          .sorted().toArray.mkString("\n"))
      s"$srcKey\n$listing"
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(fingerprint.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val stageRoot = Path.of(
      s"${System.getProperty("java.io.tmpdir")}/graft_replay_stage_$digest")
    val published = s"$stageRoot/slices"
    if (Files.exists(stageRoot.resolve("_STAGED"))) return published
    val buildRoot = Path.of(
      s"$stageRoot.build_${ProcessHandle.current().pid()}")
    wipeTree(buildRoot.toString)
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, srcDir)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
    // one probe for the replay bounds AND the sentinel-domain guard:
    // the watermark-flush sentinel is user_id = -1, so a source that
    // legitimately carries negative user ids would have its rows
    // confused with sentinel rows by consumers' filters — fail
    // loudly instead. count(*) > 0 also guards the min/max NPE an
    // empty events table would otherwise hit below.
    val bounds = ev
      .agg(min(col("ts")), max(col("ts")), min(col("user_id")),
        count(lit(1)))
      .head()
    require(bounds.getLong(3) > 0,
      s"replayEventsDirToParquet: events table at $srcDir is empty" +
        " — nothing to replay")
    require(bounds.getLong(2) >= 0,
      "replayEventsDirToParquet: events table carries negative" +
        s" user_id (min ${bounds.getLong(2)}) — the in-band watermark" +
        " sentinel (user_id = -1) would collide; remap ids first")
    val (minMs, maxMs) =
      (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val nSlices = 4
    val span = maxMs - minMs + 1
    // sentinels LAST (slices nSlices and nSlices + 1 of the same write):
    // the first advances the watermark past every real result close
    // (30 d ≫ any gap/window), the second's batch evicts and emits
    // under that watermark
    val dayMs = 24L * 3600 * 1000
    val sentinels = Seq(
      (new Timestamp(maxMs + 30 * dayMs), -1L, "_sentinel", 0.0, nSlices),
      (new Timestamp(maxMs + 31 * dayMs), -1L, "_sentinel", 0.0, nSlices + 1))
      .toDF("ts", "user_id", "event_type", "value", "_slice")
    // subpath of the scratch root: the parquet writer creates it
    stageSlices(
      ev.withColumn("_slice",
        least(lit(nSlices - 1),
          ((unix_millis(col("ts")) - lit(minMs)) * nSlices / lit(span))
            .cast("int")))
        .unionByName(sentinels),
      nSlices + 2, s"$buildRoot/slices")
    // complete the build (markers INSIDE, so they travel with the
    // rename), then publish atomically: the winner's rename succeeds,
    // a loser adopts whatever complete stage now sits at stageRoot.
    // `_SOURCE` records the staged source path so stale stages for the
    // SAME source (the digest covers file mtimes, so every fixture
    // regeneration keys a fresh dir) can be pruned instead of orphaned.
    Files.writeString(buildRoot.resolve("_SOURCE"), srcKey)
    Files.createFile(buildRoot.resolve("_STAGED"))
    def publish(): Unit =
      Files.move(buildRoot, stageRoot,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val raceFailure: PartialFunction[Throwable, Boolean] = {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.AccessDeniedException => true
    }
    try publish()
    catch {
      case e: Throwable if raceFailure.applyOrElse(e, (_: Throwable) => false) =>
        if (!Files.exists(stageRoot.resolve("_STAGED"))) {
          // marker-less leftover from a dead pre-publish JVM: replace
          // it — but another process may publish a COMPLETE stage
          // between this wipe and the retry move, so on a second race
          // failure adopt the winner instead of propagating
          wipeTree(stageRoot.toString)
          try publish()
          catch {
            case e2: Throwable
                if raceFailure.applyOrElse(e2, (_: Throwable) => false) &&
                  Files.exists(stageRoot.resolve("_STAGED")) =>
              wipeTree(buildRoot.toString)
          }
        } else wipeTree(buildRoot.toString)
    }
    pruneStaleStages(stageRoot, srcKey)
    published
  }

  /** The one slice stager: write `sliced`, whose int `_slice` column
    * runs over [0, nSlices), to `dir` as ONE file per non-empty slice,
    * `slice_NN.parquet`, with nothing else left in `dir`.
    *
    * One pass over the input (r11; a per-slice filter loop scanned it
    * nSlices times): repartition by the slice value, so every
    * `partitionBy` directory holds exactly one file, then move the
    * files to the flat layout the file stream reads (the partition-dir
    * layout would surface `_slice` as a stream column). mtime is the
    * file source's order key (ties fall back to the filesystem's
    * listing order, which the local FS does not define), so each slice
    * is stamped with a synthetic strictly-ascending whole-second mtime
    * instead of sleeping a second between writes (whole seconds stay
    * distinct even on 1 s-granularity filesystems); the lexicographic
    * names agree with it.
    */
  private[streaming] def stageSlices(sliced: DataFrame, nSlices: Int, dir: String): Unit = {
    sliced.repartition(nSlices, col("_slice"))
      .write.partitionBy("_slice").parquet(dir)
    val stageDir = Path.of(dir)
    val mtimeBase = System.currentTimeMillis()
    for (k <- 0 until nSlices) {
      val part = stageDir.resolve(s"_slice=$k")
      if (Files.isDirectory(part)) {
        scala.util.Using.resource(Files.list(part))(
          _.filter(p => p.getFileName.toString.startsWith("part-"))
            .forEach { p =>
              val target = stageDir.resolve(f"slice_$k%02d.parquet")
              Files.move(p, target)
              Files.setLastModifiedTime(target,
                java.nio.file.attribute.FileTime.fromMillis(mtimeBase + k * 1000L))
            })
        wipeTree(part.toString)
      }
    }
    // _SUCCESS / .crc markers from the batch write would be listed by
    // the file source; clear everything that is not a slice file
    scala.util.Using.resource(Files.list(stageDir))(
      _.filter(p => !p.getFileName.toString.startsWith("slice_"))
        .forEach(p => wipeTree(p.toString)))
  }

  /** Whether `pid` names a running process: the liveness rule for the
    * pid-keyed scratch dirs this engine leaves under the temp dir. */
  private[graft] def pidAlive(pid: Long): Boolean =
    ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)

  /** Recursive delete of `dir` (a no-op when it does not exist) that
    * throws on any failure: a wipe that silently left, say, a
    * `batch_id=N` directory of an earlier run behind would have it
    * read back as output. */
  private[graft] def wipeTree(dir: String): Unit = {
    val root = Path.of(dir)
    if (Files.exists(root))
      scala.util.Using.resource(Files.walk(root))(
        _.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p)))
  }

  /** Best-effort [[wipeTree]] for the pruners: a concurrent pruner may
    * remove files first, which just means they are already gone. */
  private[graft] def deleteTree(p: Path): Unit =
    try wipeTree(p.toString)
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  /** Delete orphaned stage dirs for `srcKey` other than the live
    * `stageRoot`: published stages whose digest no longer matches (the
    * digest covers source mtimes, so a regenerated fixture keys a fresh
    * dir and strands the old one at full fixture size) and `.build_*`
    * leftovers from dead JVMs. A stale PUBLISHED stage is safe to drop
    * under the documented fixture contract (a source is immutable for
    * its stage's lifetime — a new digest means the old slices describe
    * data that no longer exists); a build dir is only dropped when its
    * owning pid is gone, so a concurrent builder is never sabotaged.
    * Best-effort: races with another pruner just mean the file is
    * already gone.
    */
  private[streaming] def pruneStaleStages(stageRoot: Path, srcKey: String): Unit = {
    val tmp = stageRoot.getParent
    if (tmp == null || !Files.isDirectory(tmp)) return
    // Two-phase prune (r14, ADVICE r13): a published-but-stale stage is
    // deleted only a grace period AFTER it was first SEEN stale. The
    // pruner is the racing WRITER (it runs at new-digest publish, i.e.
    // right after a fixture regeneration), and a concurrent JVM that
    // resolved the old digest just before the regeneration may still be
    // mid-replay on those slices — deleting immediately would yank
    // files out from under a live file-source. First pass stamps a
    // `_STALE` marker; only a marker older than the grace (default
    // 10 min ≫ any replay; GRAFT_STAGE_STALE_GRACE_MS overrides) is
    // reaped — by the next fresh staging of this source, which is when
    // the walk runs again. Readers never re-resolve a stage mid-replay,
    // so anything that started before the marker is long done when the
    // reap lands. Build-dir leftovers keep the immediate delete: their
    // owning pid is checked dead, so no reader exists by construction.
    val graceMs = sys.env.get("GRAFT_STAGE_STALE_GRACE_MS")
      .flatMap(_.toLongOption).getOrElse(600000L)
    def sourceOf(dir: Path): Option[String] =
      try {
        val f = dir.resolve("_SOURCE")
        if (Files.isRegularFile(f)) Some(Files.readString(f)) else None
      } catch { case _: java.io.IOException => None }
    def buildPidAlive(name: String): Boolean =
      name.split("\\.build_", 2) match {
        case Array(_, pid) => pid.toLongOption.exists(pidAlive)
        case _ => false
      }
    try scala.util.Using.resource(Files.list(tmp))(_
      .filter(p => p.getFileName.toString.startsWith("graft_replay_stage_"))
      .filter(p => p != stageRoot && !p.startsWith(stageRoot))
      .filter(p => Files.isDirectory(p))
      .forEach { p =>
        val name = p.getFileName.toString
        val isBuild = name.contains(".build_")
        if (isBuild) {
          if (!buildPidAlive(name) && sourceOf(p).forall(_ == srcKey)) deleteTree(p)
        } else if (sourceOf(p).contains(srcKey)) {
          val mark = p.resolve("_STALE")
          try {
            if (!Files.exists(mark)) Files.createFile(mark)
            else if (System.currentTimeMillis() -
              Files.getLastModifiedTime(mark).toMillis > graceMs) deleteTree(p)
          } catch { case _: java.io.IOException => () }
        }
      })
    catch { case _: java.io.IOException => () }
  }

  /** End-to-end streaming sessionization into a parquet RESULT table —
    * the batch↔stream gate bridge (VERDICT r9 item 7) over
    * [[replayEventsDirToParquet]]: watermarked `session_window`
    * aggregate in append mode; the DuckDB q_sessions oracle
    * hash-checks the parquet — proving the streaming plan end-to-end,
    * not just suite-internal equality.
    *
    * Determinism: the aggregate is (count, decimal sum) — partial
    * state merges exactly across micro-batches and session merges, so
    * the emitted rows are bit-identical to the batch q_sessions gate.
    * Scale shape: state is one open-session record per ACTIVE user
    * (watermark-evicted); the sink append is per-batch sequential
    * parquet — the same contract as any streaming lake sink.
    */
  def sessionizeEventsDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String): String =
    replayEventsDirToParquet(spark, srcDir, workDir, sessionWindowQuery)

  /** The query [[sessionizeEventsDirToParquet]] replays: a 6 h-gap
    * `session_window` per user (the gap of the q_sessions oracle) with
    * a count and a decimal sum, also the query of the cross-JVM
    * restart drill ([[graft.StreamRestartDrill]]).
    */
  private[graft] def sessionWindowQuery(stream: DataFrame): DataFrame =
    stream
      .select(col("ts"), col("user_id"), col("value"))
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.queries.Det.dsum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Custom-state sessionization bridge — the SIXTH batch↔stream gate
    * (r12, VERDICT r11 task 4), over [[replayEventsDirToParquet]]: the
    * [[sessionize]] flatMapGroupsWithState operator (event-time
    * timers, emit-on-close) replayed end-to-end against the SAME
    * DuckDB islands oracle the `session_window` bridge uses — its
    * output shape differs (one close event per session, produced by
    * timer eviction rather than watermark window commit), which is
    * exactly what gating it separately proves. Determinism: per-user
    * event order is total under replay (slices are event-time ordered
    * and each batch is sorted in the state function; the fixture
    * carries no duplicate (user_id, ts) pairs), so the Double
    * accumulation order is fixed; the gate consumer rounds the sum at
    * 6 dp, where a ≤1e-10 double-vs-decimal summation difference on
    * 2-dp terms cannot flip the rounded digit.
    *
    * The sentinel rows (user_id −1, +30/+31 days) drive the
    * watermark past every real session's `last + gap` timer, so all
    * real sessions EMIT before the stream ends; the sentinels' own
    * open sessions never close and are filtered by user_id ≥ 0
    * downstream like every bridge's.
    */
  def sessionizeFmgsEventsDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String): String =
    replayEventsDirToParquet(spark, srcDir, workDir, { stream =>
      import spark.implicits._
      sessionize(stream.as[Event], gapMs = 6L * 3600 * 1000).toDF()
    })

  /** Watermarked streaming-dedup bridge — the SEVENTH batch↔stream
    * gate (r12, VERDICT r11 task 4), over
    * [[replayEventsDirToParquet]]: [[dedupStream]]
    * (`dropDuplicatesWithinWatermark`) keyed on (user_id, event_type,
    * day) — "first event per user/type/day", the daily-dedup shape —
    * replayed end-to-end against a batch DISTINCT oracle. The
    * watermark delay deliberately exceeds the fixture's span, so the
    * streamed dedup is GLOBAL and must equal the batch distinct
    * exactly; the eviction path (state dropped `delay` past first
    * sight) is spec-covered — here the contract under test is the
    * operator end-to-end through staging, checkpointing, and the
    * exactly-once sink. Which physical row survives per key is
    * batch-order dependent, so gate consumers project the KEY columns
    * only (the surviving row's other columns are not part of the
    * operator's contract).
    */
  def dedupStreamEventsDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String): String =
    replayEventsDirToParquet(spark, srcDir, workDir, stream =>
      dedupStream(
        stream.withColumn("day", to_date(col("ts"))),
        Seq("user_id", "event_type", "day"), watermark = "90 days"))

  /** Windowed CMS bridge — the SECOND batch↔stream gate (r11, VERDICT
    * r10 task 5), over [[replayEventsDirToParquet]]: the
    * [[windowedCms]] aggregation replayed as a file stream. Unlike the
    * Misra–Gries stream (whose summary is merge-order dependent), the
    * windowed CMS is EXACTLY order-free — each (window, row, bucket)
    * count is a plain sum — so the streamed result hash-matches a
    * batch DuckDB oracle computing the same md5 buckets over
    * `date_trunc('hour', ts)` windows. Consumers cut at the real max
    * event time to drop the sentinel's own (far-future) windows.
    */
  def windowedCmsEventsDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String): String =
    replayEventsDirToParquet(spark, srcDir, workDir, stream =>
      windowedCms(stream.select(col("ts"), col("event_type")),
        "event_type", watermark = "0 seconds", windowLen = "1 hour",
        d = 4, w = 64),
      // COMPUTE-bound, not state-bound: the d× row explode + hash
      // aggregate dominates each micro-batch, so this bridge keeps the
      // batch shuffle width (8 state partitions measured 13.2 s vs
      // 6.4 s at 32 — the inverse of the join/session bridges)
      statePartitions = 32)

  /** Carve one join side out of the replayed stream. The sentinel rows
    * (user_id < 0) MUST pass the side filter: each side's watermark
    * node sits downstream of it ([[clickPurchaseAttribution]] applies
    * `withWatermark` on the filtered frame), so a plain event-type
    * filter would hide the sentinels from the watermark entirely — the
    * watermark then stalls at (real max − delay) and every row still
    * inside the join interval at end of stream sits in state forever
    * (observed: the outer bridge's last-2 h clicks never emitted their
    * null rows). Sentinels never join REAL rows (they sit 30/31 days
    * past the data, ≫ any join interval) but each does match ITSELF —
    * the same row enters both sides with click_ts == purchase_ts — so
    * consumers must drop user_id < 0 from the result (the gates do).
    */
  private def joinSide(stream: DataFrame, eventType: String): DataFrame =
    stream
      .filter(col("event_type") === eventType || col("user_id") < 0)
      .select(col("ts"), col("user_id"), col("value"))

  /** Stream–stream interval-join bridge — the THIRD batch↔stream gate
    * (r11), over [[replayEventsDirToParquet]]: the
    * [[clickPurchaseAttribution]] join replayed as a file stream. Both
    * sides of the join are carved from the SAME replayed stream by
    * event-type filter (a streaming self-join — each side keeps its own
    * keyed state store), so one staging pass feeds both. An INNER
    * interval join emits each matched pair exactly once, when the match
    * arrives — no watermark-gated flush is needed for output, only for
    * state eviction — and the pair set is order-free, so the streamed
    * result hash-matches a batch DuckDB interval join verbatim. The
    * sentinel rows (user_id < 0) deliberately PASS both side filters —
    * [[joinSide]] lets them through so each side's watermark node sees
    * them and ratchets past the real data — and each sentinel matches
    * ITSELF (it enters both sides with click_ts == purchase_ts), so
    * consumers MUST filter `user_id >= 0` from the result (the gates
    * do); sentinels never match real rows (they sit ≥30 days past the
    * data, far outside any join interval).
    *
    * Scale shape: per-side state is bounded by watermark + the 2 h
    * join interval (the eviction horizon Spark derives from the time-bound join
    * condition) — never by stream length. That bound is the entire
    * difference between this plan and an unbounded stream-stream join
    * Spark would reject in append mode.
    */
  def attributionJoinEventsDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String): String =
    replayEventsDirToParquet(spark, srcDir, workDir, stream =>
      clickPurchaseAttribution(
        joinSide(stream, "click"), joinSide(stream, "purchase"), "2 hours"))

  /** LEFT OUTER stream–stream bridge — the FOURTH batch↔stream gate
    * (r11), over [[replayEventsDirToParquet]]: the
    * [[clickPurchaseAttributionOuter]] join replayed end-to-end. Where
    * the inner bridge ([[attributionJoinEventsDirToParquet]]) needs no
    * watermark for OUTPUT, this one gates its null side on it: an
    * unmatched click may only emit (with null purchase columns) once
    * the watermark proves no in-window purchase can still arrive —
    * exactly the state-eviction semantics the sentinel files exist to
    * drive at end of stream. The emitted row set still equals the
    * batch LEFT JOIN verbatim (matches emit once on arrival; each
    * never-matched click emits exactly one null row at eviction), so
    * the DuckDB oracle is the relational left interval join.
    */
  def attributionOuterEventsDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String): String =
    replayEventsDirToParquet(spark, srcDir, workDir, stream =>
      clickPurchaseAttributionOuter(
        joinSide(stream, "click"), joinSide(stream, "purchase"), "2 hours"))

  /** Stream–static enrichment join: the batch lookup join (J1) applied
    * per micro-batch. The static side broadcasts once; no stream state,
    * no watermark needed — the shape for dimension enrichment at any
    * stream rate.
    */
  def enriched(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val lookup = spark
      .createDataFrame(graft.etl.EventsPipeline.EventLookup)
      .toDF("event_type", "event_desc")
    events.join(broadcast(lookup), Seq("event_type"), "left")
  }

  /** Stream–stream event-time interval join: each purchase matches the
    * same user's clicks from the preceding `within` interval — the
    * canonical attribution join. BOTH sides carry watermarks and the
    * join condition bounds click time to a window around purchase time,
    * so Spark derives an eviction horizon for each buffered side: state
    * is bounded by watermark + interval, never by stream length.
    * Without the time bound, append-mode stream–stream join must buffer
    * a side forever (Spark rejects the plan) — the time bound IS the
    * scalability contract.
    */
  def clickPurchaseAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      within: String = "1 hour",
  ): DataFrame = intervalJoin(clicks, purchases, within, "inner")

  /** LEFT OUTER interval join: every click eventually emits — matched
    * rows as soon as the purchase arrives, UNMATCHED clicks with null
    * purchase columns once the watermark proves no in-window purchase
    * can still arrive. The "did this click convert?" stream where
    * non-conversions are data, not absence. The null-side emission is
    * watermark-GATED state eviction: a click cannot be declared
    * unconverted until event time has moved `within` past it — which is
    * why the join interval and watermark delay must agree here too.
    */
  def clickPurchaseAttributionOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      within: String = "1 hour",
  ): DataFrame = intervalJoin(clicks, purchases, within, "left_outer")

  /** The one body of both attribution joins: clicks within `within`
    * before a purchase of the same user, joined as `joinType`. The
    * output's user_id is the click side's, which under the inner join's
    * equality is the purchase side's too.
    */
  private def intervalJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      within: String,
      joinType: String): DataFrame = {
    // watermark delay tracks the join interval: a fixed delay narrower
    // than `within` would silently drop late clicks the wider window
    // was meant to capture
    val c = clicks
      .withWatermark("ts", within)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases
      .withWatermark("ts", within)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $within"),
      joinType)
      .select(col("c_user").as("user_id"), col("click_ts"),
        col("purchase_ts"), col("click_value"), col("purchase_value"))
  }

  /** foreachBatch sink: per-micro-batch handler receiving (batchDf,
    * batchId) — the production shape for idempotent upserts/merges into
    * stores the native sinks can't address. Exactly-once comes from the
    * checkpoint replaying batch ids: handlers must be idempotent per
    * batchId (e.g. overwrite a batchId-keyed partition, as the spec
    * does).
    */
  def toForeachBatchSink(df: DataFrame, checkpoint: String)(
      handler: (DataFrame, Long) => Unit) =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(handler)

  /** Drive a streaming aggregate into an in-memory table and block until
    * all available input is processed (test/bootstrap harness).
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** [[runToMemory]] but returning the live query, for tests that feed
    * multiple batches and inspect the table between triggers.
    */
  def runToMemoryQuery(
      df: DataFrame,
      name: String,
      mode: OutputMode): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode(mode).format("memory").queryName(name).start()

  /** Production-shaped sink: append to partitioned parquet with a
    * checkpoint for exactly-once restart.
    */
  def toParquetSink(df: DataFrame, path: String, checkpoint: String) =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .option("path", path)
      .format("parquet")
}
