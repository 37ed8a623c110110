package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.queries.Det
import graft.streaming.EventStreams.{Event, UserStats}

class EventStreamsSpec extends SparkTestBase {

  private def ts(h: Int, m: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  val batch1 = Seq(
    Event(ts(0, 10), 1, "click", 10.0),
    Event(ts(0, 20), 2, "view", 5.0),
    Event(ts(1, 5), 1, "click", 7.0),
  )
  val batch2 = Seq(
    Event(ts(1, 30), 2, "click", 2.0),
    Event(ts(2, 0), 3, "purchase", 100.0),
  )

  test("stateful aggregation runs on the RocksDB state store (large-state path)") {
    // The default HDFS-backed state store holds every key in executor
    // heap — fine for test-sized state, a memory wall for production
    // streams whose key space (users, sessions, dedup signatures) grows
    // into the billions. This pins that the same query runs unchanged
    // on the spill-capable RocksDB provider and returns the same
    // answer, and that the provider is actually engaged (its custom
    // metrics appear in the query progress).
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val input = MemoryStream[Event]
      input.addData(batch1: _*)
      input.addData(batch2: _*)
      val q = EventStreams.runToMemoryQuery(
        EventStreams.hourlyCounts(input.toDF()), "hourly_rocks",
        OutputMode.Complete())
      try {
        q.processAllAvailable()
        val progress = q.lastProgress
        assert(progress.stateOperators.nonEmpty)
        assert(progress.stateOperators.exists(
          _.customMetrics.keySet.toArray.exists(_.toString.contains("rocksdb"))),
          s"no rocksdb metrics in progress: ${progress.json}")
      } finally q.stop()
      val got = spark.table("hourly_rocks")
        .orderBy("hour_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val want = (batch1 ++ batch2).toDF()
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
        .orderBy("hour_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.sameElements(want))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("hourly windowed aggregation matches the batch equivalent") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(batch1: _*)
    input.addData(batch2: _*)
    EventStreams.runToMemory(
      EventStreams.hourlyCounts(input.toDF()), "hourly", OutputMode.Complete())

    val got = spark.table("hourly")
      .orderBy("hour_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    val want = (batch1 ++ batch2).toDF()
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .orderBy("hour_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    assert(got.sameElements(want))
  }

  test("windowed heavy hitters merge the sketch across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    // hour 0: click ×3, view ×1 split across two micro-batches — the
    // window's sketch state must merge, not reset
    input.addData(
      Event(ts(0, 1), 1, "click", 1.0),
      Event(ts(0, 2), 2, "click", 1.0),
      Event(ts(0, 3), 3, "view", 1.0))
    input.addData(Event(ts(0, 4), 4, "click", 1.0))
    EventStreams.runToMemory(
      EventStreams.windowedHeavyHitters(input.toDF(), capacity = 8),
      "heavy_stream", OutputMode.Complete())
    val rows = spark.table("heavy_stream").orderBy("window_start").collect()
    assert(rows.length == 1)
    val hh = rows.head.getSeq[String](1)
    // ordered by estimated frequency desc: click(3) before view(1)
    assert(hh == Seq("click", "view"))
  }

  test("windowed CMS: streaming sketch equals the batch build over the same window") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    // one hour-0 window fed across two micro-batches: the (r, b) counter
    // state must accumulate, and the closed window's rows must equal
    // the BATCH cmsBuild over the same events — the merge contract that
    // lets closed streaming windows join per-day batch sketches
    val evs = Seq(
      Event(ts(0, 1), 1, "click", 1.0), Event(ts(0, 2), 2, "click", 1.0),
      Event(ts(0, 3), 3, "view", 1.0), Event(ts(0, 5), 5, "click", 1.0),
      Event(ts(0, 6), 6, "purchase", 1.0))
    input.addData(evs.take(3))
    input.addData(evs.drop(3))
    EventStreams.runToMemory(
      EventStreams.windowedCms(input.toDF(), "event_type", d = 4, w = 8),
      "cms_stream", OutputMode.Complete())
    val streamed = spark.table("cms_stream")
      .select("r", "b", "cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Stats.cmsBuild(
        evs.toDF().select(col("event_type")), "event_type", d = 4, w = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // bounded state: never more than d*w counter rows per window
    assert(streamed.size <= 32)
  }

  test("stateful running user totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.runningUserStats(input.toDS())
      .toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("user_stats").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // latest state per user across updates
    val last = spark.table("user_stats")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.sum_value"))
      .as[UserStats].collect().map(u => u.user_id -> u).toMap

    assert(last(1L) == UserStats(1, 2, 17.0))
    assert(last(2L) == UserStats(2, 2, 7.0))
    assert(last(3L) == UserStats(3, 1, 100.0))
  }

  test("evictIdleAfter: timed-out state is removed, final stats emitted once") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // timer fired, no new data → state must be DROPPED (bounded state on
    // an unbounded key space), emitting the final stats as the record
    val timedOut = TestGroupState.create[UserStats](
      Optional.of(UserStats(1, 2, 17.0)),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[Long], true)
    val out = EventStreams.updateUserStats(
      1L, Iterator.empty, timedOut, Some("10 seconds"))
    assert(out == UserStats(1, 2, 17.0))
    assert(timedOut.isRemoved, "idle state must be evicted on timeout")

    // normal data batch → state updated and the idle timer re-armed
    val live = TestGroupState.create[UserStats](
      Optional.of(UserStats(1, 2, 17.0)),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[Long], false)
    val out2 = EventStreams.updateUserStats(
      1L, Iterator(Event(ts(0, 30), 1, "click", 3.0)), live, Some("10 seconds"))
    assert(out2 == UserStats(1, 3, 20.0))
    assert(live.isUpdated && !live.isRemoved)
    assert(live.getTimeoutTimestampMs.isPresent,
      "idle timer must be re-armed on data")
  }

  test("streaming quota: admissions bounded per source, final state matches the batch rule") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val q = EventStreams.runToMemoryQuery(
      EventStreams.streamingQuota(input.toDS(), cap = 2).toDF(),
      "quota", OutputMode.Append())
    try {
      // batch 1: three docs for s1 — only the top 2 admitted
      input.addData(("s1", 1L, 5.0), ("s1", 2L, 9.0), ("s1", 3L, 7.0))
      q.processAllAvailable()
      val b1 = spark.table("quota").as[(String, Long, Double)].collect().toSet
      assert(b1 == Set(("s1", 2L, 9.0), ("s1", 3L, 7.0)))
      // batch 2: a higher-scoring late doc evicts the weakest (id 3)
      input.addData(("s1", 4L, 8.0), ("s2", 5L, 1.0))
      q.processAllAvailable()
      val all = spark.table("quota").as[(String, Long, Double)].collect().toSet
      assert(all == b1 ++ Set(("s1", 4L, 8.0), ("s2", 5L, 1.0)))
      // the admitted-and-not-evicted set equals the batch operator over the prefix
      val prefix = Seq(("s1", 1L, 5.0), ("s1", 2L, 9.0), ("s1", 3L, 7.0),
        ("s1", 4L, 8.0), ("s2", 5L, 1.0)).toDF("source", "doc_id", "score")
      val batchTop = graft.ops.Corpus
        .sourceQuota(prefix, "source", "doc_id", "score", cap = 2)
        .select("source", "doc_id").as[(String, Long)].collect().toSet
      assert(batchTop == Set(("s1", 2L), ("s1", 4L), ("s2", 5L)))
      // every finally-admitted doc was emitted as an admission event
      assert(batchTop.subsetOf(all.map(t => (t._1, t._2))))
    } finally q.stop()
  }

  test("streaming dedup keeps one event per key across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF(), Seq("user_id", "event_type"), "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup").start()
    try {
      input.addData(batch1: _*) // user 1 has two clicks (t 0:10 and 1:05)
      q.processAllAvailable()
      input.addData(batch2: _*) // user 2 click duplicates batch1's view? no: new type
      input.addData(Event(ts(1, 45), 1, "click", 99.0)) // dup within watermark
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup")
      .groupBy("user_id", "event_type").count()
      .filter(col("count") > 1)
    assert(out.count() == 0, "duplicate (user, type) escaped the dedup")
    // first-wins: user 1's click kept the original value, not 99.0
    val kept = spark.table("dedup")
      .filter(col("user_id") === 1 && col("event_type") === "click")
      .select("value").collect().map(_.getDouble(0))
    assert(kept.sameElements(Array(10.0)))
  }

  test("session windows close after the gap and match batch semantics") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = Seq(
      Event(ts(0, 0), 7, "click", 1.0),
      Event(ts(0, 10), 7, "click", 2.0), // same session (10 < 30 min gap)
      Event(ts(2, 0), 7, "click", 4.0), // new session
      Event(ts(0, 5), 8, "view", 8.0),
    )
    val input = MemoryStream[Event]
    input.addData(events: _*)
    EventStreams.runToMemory(
      EventStreams.userSessions(input.toDF(), "30 minutes"),
      "sessions", OutputMode.Complete())
    val got = spark.table("sessions")
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
    // user 7: sessions {2 events, 3.0} then {1 event, 4.0}; user 8: {1, 8.0}
    assert(got.sameElements(Array((7L, 2L, 3.0), (7L, 1L, 4.0), (8L, 1L, 8.0))))
  }

  test("flatMapGroupsWithState sessions emit on close as the watermark advances") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("closed_sessions").start()
    try {
      input.addData(
        Event(ts(0, 0), 7, "click", 1.0),
        Event(ts(0, 10), 7, "click", 2.0)) // one open session for user 7
      q.processAllAvailable()
      assert(spark.table("closed_sessions").count() == 0, "session still open")
      // an event far in the future pushes the watermark (2h behind max ts)
      // beyond user 7's session close timer → the timer fires, session emits
      input.addData(Event(ts(9, 0), 8, "view", 5.0))
      q.processAllAvailable()
      input.addData(Event(ts(9, 30), 8, "view", 5.0)) // extra batch: timers fire on the NEXT trigger
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("closed_sessions")
      .filter(col("user_id") === 7)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
    assert(got.sameElements(Array((7L, 2L, 3.0))), s"got ${got.mkString(",")}")
  }

  test("fmgs sessionize splits on an EXACT-gap pair (strict boundary, r13)") {
    // the DuckDB islands oracle the gate hash-checks against breaks at
    // `t - lag(t) >= gap`, so an exactly-gap-spaced pair is TWO
    // sessions; the sessionizer's old `<=` silently merged the boundary
    // — the fixtures just never carried an exact-gap pair (ADVICE r12).
    // Note Spark's own session_window is measured HERE to be
    // gap-INCLUSIVE (touching [t, t+gap) windows coalesce → one
    // session), so at this measure-zero boundary the built-in diverges
    // from the islands oracle; the custom operator follows the ORACLE,
    // which is what its gate replays.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gap_boundary").start()
    try {
      input.addData(
        Event(ts(0, 0), 7, "click", 1.0),
        Event(ts(0, 30), 7, "click", 2.0)) // EXACTLY gap later → new session
      q.processAllAvailable()
      input.addData(Event(ts(9, 0), 8, "view", 5.0)) // watermark push
      q.processAllAvailable()
      input.addData(Event(ts(9, 30), 8, "view", 5.0)) // timers fire next trigger
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gap_boundary")
      .filter(col("user_id") === 7)
      .orderBy("session_start")
      .collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    // islands-oracle twin: break at diff >= gap → two one-event
    // sessions, each ending last + gap
    assert(got.sameElements(Array(
      (ts(0, 0), ts(0, 30), 1L, 1.0),
      (ts(0, 30), ts(1, 0), 1L, 2.0))),
      s"exact-gap pair must split per the islands oracle: ${got.mkString(",")}")
  }

  test("fmgs sessionize extends session_start on an older in-watermark arrival (r13)") {
    // an out-of-order but non-late event older than the open session's
    // start must pull session_start back (min), matching batch
    // session_window semantics — lastUs-only max kept the wrong start
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ooo_start").start()
    try {
      input.addData(Event(ts(1, 0), 7, "click", 1.0)) // opens at 1:00
      q.processAllAvailable()
      // 0:50 arrives later but is within the 2 h watermark and within
      // gap of the open session → merge backwards
      input.addData(Event(ts(0, 50), 7, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(ts(9, 0), 8, "view", 5.0)) // watermark push
      q.processAllAvailable()
      input.addData(Event(ts(9, 30), 8, "view", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ooo_start")
      .filter(col("user_id") === 7)
      .collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    assert(got.sameElements(Array(
      (ts(0, 50), ts(1, 30), 2L, 3.0))), s"got ${got.mkString(",")}")
  }

  test("stale replay-stage pruning: same-source orphans die, live and foreign dirs survive (r13)") {
    // the stage digest covers source mtimes, so every fixture
    // regeneration orphans a full-size stage dir — pruning reclaims
    // them without sabotaging a live stage, another source's stage, or
    // a CONCURRENT builder's .build_<pid> dir
    import java.nio.file.{Files, Path}
    val parent = java.nio.file.Path.of(tmpDir("prune_spec"))
    def mk(name: String, source: Option[String], staged: Boolean): Path = {
      val d = Files.createDirectories(parent.resolve(name))
      source.foreach(s => Files.writeString(d.resolve("_SOURCE"), s))
      if (staged) Files.createFile(d.resolve("_STAGED"))
      Files.writeString(d.resolve("payload"), "x")
      d
    }
    val live = mk("graft_replay_stage_livedigest", Some("/data/srcA"), staged = true)
    val stale = mk("graft_replay_stage_olddigest", Some("/data/srcA"), staged = true)
    val foreign = mk("graft_replay_stage_otherdigest", Some("/data/srcB"), staged = true)
    val deadBuild = mk("graft_replay_stage_zz.build_999999999", None, staged = false)
    val myBuild = mk(
      s"graft_replay_stage_yy.build_${ProcessHandle.current().pid()}",
      None, staged = false)
    val unrelated = mk("not_a_stage_dir", Some("/data/srcA"), staged = true)
    EventStreams.pruneStaleStages(live, "/data/srcA")
    assert(Files.exists(live), "the live stage must survive")
    // r14 (ADVICE r13): a published stale stage is NOT deleted on first
    // sight — a concurrent JVM that resolved the old digest just before
    // the fixture regeneration may still be replaying it. The first
    // walk stamps _STALE; only a marker older than the grace period is
    // reaped on a later walk.
    assert(Files.exists(stale), "same-source stale stage survives the first walk")
    assert(Files.exists(stale.resolve("_STALE")), "first walk stamps the _STALE marker")
    assert(Files.exists(foreign), "another source's stage must survive")
    assert(!Files.exists(deadBuild), "a dead pid's build dir must be pruned")
    assert(Files.exists(myBuild), "a live pid's build dir must survive")
    assert(Files.exists(unrelated), "non-stage dirs are never touched")
    // second walk inside the grace window: still alive
    EventStreams.pruneStaleStages(live, "/data/srcA")
    assert(Files.exists(stale), "still within grace — not reaped")
    // age the marker past the grace and walk again: now it reaps
    Files.setLastModifiedTime(stale.resolve("_STALE"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 601000L))
    EventStreams.pruneStaleStages(live, "/data/srcA")
    assert(!Files.exists(stale), "marker older than grace — reaped")
    assert(Files.exists(foreign) && Files.exists(live))
  }

  test("bridge scratch dirs of dead JVMs are pruned, live pids' dirs survive") {
    import java.nio.file.Files
    val tmp = java.nio.file.Path.of(tmpDir("workdir_prune"))
    def mk(name: String) = {
      val d = Files.createDirectories(tmp.resolve(name).resolve("ckpt"))
      Files.writeString(d.resolve("0"), "x")
      d.getParent
    }
    val key = "graft_attr_stream_0123456789abcdef_"
    val dead = mk(key + "999999999")
    val live = mk(key + ProcessHandle.current().pid())
    val otherDigest = mk("graft_attr_stream_fedcba9876543210_999999999")
    val longerPrefix = mk("graft_attr_stream_outer_0123456789abcdef_999999999")
    val notAPid = mk(key + "999999999.old")
    graft.queries.ExtQueries.pruneDeadWorkDirs(tmp, key)
    assert(!Files.exists(dead), "a dead pid's dir must be pruned")
    assert(Files.exists(live.resolve("ckpt/0")), "a live pid's dir must survive")
    assert(Seq(otherDigest, longerPrefix, notAPid).forall(Files.exists(_)),
      "dirs of another digest or bridge are never touched")
  }

  test("stream-static join enriches each micro-batch from the broadcast lookup") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(batch1: _*)
    input.addData(Event(ts(3, 0), 9, "unknown_type", 1.0)) // lookup miss → null
    EventStreams.runToMemory(
      EventStreams.enriched(input.toDF()), "enriched_events", OutputMode.Append())
    val out = spark.table("enriched_events")
    assert(out.count() == batch1.length + 1)
    assert(out.filter(col("event_type") === "click" && col("event_desc") =!= "Click").count() == 0)
    assert(out.filter(col("event_type") === "unknown_type" && col("event_desc").isNotNull).count() == 0)
  }

  test("stream-stream join runs on the RocksDB state store (two-store path)") {
    // The join buffers BOTH sides in state (one store per side per
    // partition, a different state format than aggregation's) — the
    // piece of the RocksDB story the aggregation test can't cover.
    // At 100 TB/day the join buffer (events within the interval +
    // delay) is exactly the state that outgrows executor heap first.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val clicks = MemoryStream[Event]
      val purchases = MemoryStream[Event]
      clicks.addData(
        Event(ts(0, 30), 1, "click", 1.0),
        Event(ts(2, 30), 1, "click", 2.0),
        Event(ts(0, 50), 2, "click", 3.0))
      purchases.addData(
        Event(ts(1, 0), 1, "purchase", 100.0),
        Event(ts(3, 0), 2, "purchase", 200.0))
      val q = EventStreams.runToMemoryQuery(
        EventStreams.clickPurchaseAttribution(clicks.toDF(), purchases.toDF()),
        "attribution_rocks", OutputMode.Append())
      try {
        q.processAllAvailable()
        val progress = q.lastProgress
        assert(progress.stateOperators.exists(
          _.customMetrics.keySet.toArray.exists(_.toString.contains("rocksdb"))),
          s"no rocksdb metrics in progress: ${progress.json}")
      } finally q.stop()
      val got = spark.table("attribution_rocks")
        .select("user_id", "click_value", "purchase_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(got.toSeq == Seq((1L, 1.0, 100.0)))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join: purchases attribute to in-window clicks only") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(ts(0, 30), 1, "click", 1.0), // in window of u1's 01:00 purchase
      Event(ts(2, 30), 1, "click", 2.0), // AFTER the purchase → no match
      Event(ts(0, 50), 2, "click", 3.0), // >1h before u2's 03:00 purchase
    )
    purchases.addData(
      Event(ts(1, 0), 1, "purchase", 100.0),
      Event(ts(3, 0), 2, "purchase", 200.0),
    )
    EventStreams.runToMemory(
      EventStreams.clickPurchaseAttribution(clicks.toDF(), purchases.toDF()),
      "attribution", OutputMode.Append())
    val got = spark.table("attribution")
      .select("user_id", "click_value", "purchase_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 1.0, 100.0)))
  }

  test("left-outer interval join: unconverted clicks emit nulls once the watermark passes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.runToMemoryQuery(
      EventStreams.clickPurchaseAttributionOuter(clicks.toDF(), purchases.toDF()),
      "attribution_outer", OutputMode.Append())
    try {
      clicks.addData(
        Event(ts(0, 30), 1, "click", 1.0), // converts (u1 purchase 01:00)
        Event(ts(0, 40), 2, "click", 3.0)) // never converts
      purchases.addData(Event(ts(1, 0), 1, "purchase", 100.0))
      q.processAllAvailable()
      val matched = spark.table("attribution_outer")
        .select("user_id", "click_value", "purchase_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.get(2)))
      assert(matched.toSeq == Seq((1L, 1.0, 100.0)))
      // u2's null row is watermark-gated: nothing yet at event time 01:00
      // advance BOTH inputs to 04:00 → watermark 03:00 > click+interval
      clicks.addData(Event(ts(4, 0), 9, "click", 0.0))
      purchases.addData(Event(ts(4, 0), 9, "purchase", 0.0))
      q.processAllAvailable()
      // one more trigger so the new watermark evicts and emits nulls
      clicks.addData(Event(ts(4, 1), 9, "click", 0.0))
      q.processAllAvailable()
      val all = spark.table("attribution_outer")
        .filter(col("user_id") === 2L)
        .select("user_id", "click_value", "purchase_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.get(2))))
      assert(all.toSeq == Seq((2L, 3.0, None)),
        s"expected u2's unconverted click with null purchase, got ${all.toSeq}")
    } finally q.stop()
  }

  test("foreachBatch sink writes batchId-keyed partitions (idempotent shape)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val outDir = tmpDir("fb_out")
    val input = MemoryStream[Event]
    val q = EventStreams.toForeachBatchSink(input.toDF(), tmpDir("fb_ckpt")) {
      (batch, batchId) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }.start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val written = spark.read.parquet(s"$outDir/batch_id=*")
    assert(written.count() == (batch1 ++ batch2).length)
  }

  test("checkpointed file sink: restart resumes without duplicating output") {
    import spark.implicits._
    val inDir = tmpDir("ckpt_in")
    val outDir = tmpDir("ckpt_out")
    val ckpt = tmpDir("ckpt_meta")
    def startQuery() = EventStreams.toParquetSink(
      EventStreams.readEventStream(spark, inDir), outDir, ckpt).start()

    batch1.toDF().write.mode("append").parquet(inDir)
    val q1 = startQuery()
    try q1.processAllAvailable()
    finally q1.stop()

    batch2.toDF().write.mode("append").parquet(inDir)
    val q2 = startQuery() // fresh query object, same checkpoint
    try q2.processAllAvailable()
    finally q2.stop()

    // exactly-once across the restart: every input row once, none twice
    val out = spark.read.parquet(outDir)
      .select("ts", "user_id", "event_type", "value")
    assert(out.count() == (batch1 ++ batch2).length.toLong)
    assert(out.distinct().count() == out.count())
  }

  test("file-source streaming over events parquet produces rows") {
    import graft.sources.Tables
    // stage a static batch as the stream's input directory
    val dir = tmpDir("stream_in")
    Tables.events(spark, Sf0001)
      .select("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    EventStreams.runToMemory(
      EventStreams.hourlyCounts(EventStreams.readEventStream(spark, dir)),
      "hourly_file", OutputMode.Complete())
    assert(spark.table("hourly_file").count() > 0)
  }

  test("streaming sessionization bridge reproduces batch sessions exactly") {
    import spark.implicits._
    // 3 users / 5 sessions. User 1: {0,1} and {9,10} (8 h gap). User 2:
    // {2, 5.5, 7} — a session whose events SPAN the 6 h slice boundary,
    // so the stream must merge state across micro-batches — plus {20}.
    // User 3: {23.5, 24} near the global max (the sentinel flush must
    // emit it).
    val t0 = Timestamp.valueOf("2024-03-01 00:00:00")
    def ts(h: Double) = new Timestamp(t0.getTime + (h * 3600 * 1000).toLong)
    val events = Seq(
      (ts(0.0), 1L, "a", 1.5), (ts(1.0), 1L, "a", 2.5), (ts(9.0), 1L, "a", 4.0),
      (ts(10.0), 1L, "b", 0.25), (ts(2.0), 2L, "a", 1.0), (ts(5.5), 2L, "a", 2.0),
      (ts(7.0), 2L, "a", 0.5), (ts(23.5), 3L, "c", 7.0),
      (ts(20.0), 2L, "b", 3.0), (ts(24.0), 3L, "c", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
    val src = tmpDir("sessions_stream_src")
    events.write.mode("overwrite").parquet(s"$src/events.parquet")
    val out = graft.streaming.EventStreams.sessionizeEventsDirToParquet(
      spark, src, tmpDir("sessions_stream_work"))
    val streamed = spark.read.parquet(out).filter(col("user_id") >= 0)
      .select("session_start", "session_end", "user_id",
        "n_events", "sum_value") // shed the batch_id provenance column
    val batch = graft.sources.Tables.events(spark, src)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.Det.dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
    assert(streamed.count() == 5, "3 users' sessions: 2 + 2 + 1")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming result diverged from the batch session_window aggregate")
  }

  test("replay harness fails loudly on negative user_id (in-band sentinel guard)") {
    import spark.implicits._
    val src = tmpDir("r11_neg")
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), -7L, "view", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 3L, "click", 2.0))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$src/events.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EventStreams.replayEventsDirToParquet(
        spark, src, s"$src/work", _.groupBy("user_id").count())
    }
    assert(e.getMessage.contains("negative user_id"))
  }

  test("stream-stream interval-join bridge equals the batch join at sf0.001") {
    // the third batch↔stream bridge end-to-end on the real fixture: a
    // watermarked click→purchase self-join over the replayed file
    // stream must emit EXACTLY the batch interval join's pair set —
    // inner joins emit once per match, so no flush subtleties hide here
    val work = tmpDir("attr_bridge")
    val out = graft.streaming.EventStreams
      .attributionJoinEventsDirToParquet(spark, Sf0001, work)
    val streamed = spark.read.parquet(out)
      // each sentinel row enters BOTH sides and matches itself
      // (click_ts == purchase_ts) — dropped like the gate does
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "click_ts", "purchase_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getDouble(3), r.getDouble(4)))
    val ev = graft.sources.Tables.events(spark, Sf0001)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    val batch = c.join(p,
      col("user_id") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("click_value"), col("purchase_value"))
      .orderBy("user_id", "click_ts", "purchase_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getDouble(3), r.getDouble(4)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("outer stream-stream bridge equals the batch LEFT join at sf0.001") {
    // the watermark-gated null side: every never-converted click must
    // emit exactly one null-purchase row once the sentinels advance the
    // watermark past its 2 h window — equality with the batch LEFT
    // join checks both the match set AND the eviction-time emission
    val work = tmpDir("attr_outer_bridge")
    val out = graft.streaming.EventStreams
      .attributionOuterEventsDirToParquet(spark, Sf0001, work)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)),
        r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double]))
    val streamed = spark.read.parquet(out)
      .filter(col("user_id") >= 0) // the sentinel clicks' own null rows
      .select("user_id", "click_ts", "purchase_ts",
        "click_value", "purchase_value")
      .collect().map(key).sortBy(t => (t._1, t._2.getTime,
        t._3.map(_.getTime).getOrElse(Long.MinValue)))
    val ev = graft.sources.Tables.events(spark, Sf0001)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    val batch = c.join(p,
      col("user_id") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 2 HOURS"),
      "left_outer")
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("click_value"), col("purchase_value"))
      .collect().map(key).sortBy(t => (t._1, t._2.getTime,
        t._3.map(_.getTime).getOrElse(Long.MinValue)))
    assert(streamed.exists(_._3.isEmpty),
      "expected at least one watermark-evicted unmatched click")
    assert(streamed.exists(_._3.nonEmpty), "expected matched pairs too")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("bridge restart is exactly-once: kill mid-stream, resume, identical result") {
    // the production failure drill: stop() after 2 of the 6 replay
    // batches (failure injection), restart from the same checkpoint,
    // and require the final output to equal an uninterrupted run's —
    // committed batches skip, the in-flight batch replays into its own
    // OVERWRITTEN batch_id partition (the idempotent-sink contract)
    def sessionQuery(stream: org.apache.spark.sql.DataFrame) =
      stream
        .select(col("ts"), col("user_id"), col("value"))
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          Det.dsum(col("value")).as("sum_value"))
        .select(col("session_window.start").as("session_start"),
          col("user_id"), col("n_events"), col("sum_value"))
    def run(work: String, resume: Boolean, interrupt: Option[Int]) =
      graft.streaming.EventStreams.replayEventsDirToParquet(
        spark, Sf0001, work, sessionQuery,
        resume = resume, interruptAfterBatches = interrupt)
    def readBack(out: String) = spark.read.parquet(out)
      .filter(col("user_id") >= 0)
      .select("session_start", "user_id", "n_events", "sum_value")
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val workA = tmpDir("restart_a")
    val outInterrupted = run(workA, resume = false, interrupt = Some(2))
    val partial = readBack(outInterrupted)
    val outResumed = run(workA, resume = true, interrupt = None)
    val resumed = readBack(outResumed)
    val workB = tmpDir("restart_b")
    val clean = readBack(run(workB, resume = false, interrupt = None))
    assert(partial.length < clean.length,
      "the interrupt must actually cut the run short")
    assert(resumed.nonEmpty && resumed.toSeq == clean.toSeq,
      "resumed run diverged from the uninterrupted run")
  }

  test("fmgs sessionize bridge equals the session_window bridge at sf0.001") {
    // two mechanisms, one relation: the flatMapGroupsWithState
    // sessionizer (event-time timers, emit-on-close) must produce the
    // SAME session rows as the declarative session_window aggregate on
    // this fixture (whose micro-precision timestamps carry no
    // exact-gap pairs — at that measure-zero boundary the two
    // mechanisms deliberately differ: the sessionizer follows the
    // islands oracle, session_window coalesces; EventStreamsSpec r13
    // pins both), end = last + gap, and
    // per-session count/sum all agree
    val workF = tmpDir("fmgs_bridge")
    val outF = graft.streaming.EventStreams
      .sessionizeFmgsEventsDirToParquet(spark, Sf0001, workF)
    val fmgs = spark.read.parquet(outF)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), graft.queries.Det.r6(col("sum_value")).as("sv"))
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4)))
    val batch = graft.sources.Tables.events(spark, Sf0001)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.Det.dsum(col("value")).as("sv"))
      .select(col("user_id"), col("session_window.start"),
        col("session_window.end"), col("n_events"), col("sv"))
      .orderBy("user_id", "start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4)))
    assert(fmgs.nonEmpty && fmgs.toSeq == batch.toSeq)
  }

  test("fmgs session bounds keep microsecond precision (no ms truncation)") {
    // the fixture's timestamps carry sub-millisecond digits; state that
    // rode Timestamp.getTime (millis) zeroed them — a session_start is
    // an event time verbatim, so at least one must keep micros % 1000
    val work = tmpDir("fmgs_micros")
    val out = graft.streaming.EventStreams
      .sessionizeFmgsEventsDirToParquet(spark, Sf0001, work)
    val subMs = spark.read.parquet(out)
      .filter(col("user_id") >= 0)
      .filter(unix_micros(col("session_start")) % 1000 =!= 0)
      .count()
    assert(subMs > 0, "all session_start micros were multiples of 1 ms — " +
      "state truncated event times to millis again")
  }

  test("watermarked dedup bridge equals the batch distinct at sf0.001") {
    val work = tmpDir("dedup_wm_bridge")
    val out = graft.streaming.EventStreams
      .dedupStreamEventsDirToParquet(spark, Sf0001, work)
    val streamed = spark.read.parquet(out)
      .filter(col("user_id") >= 0)
      .select("user_id", "event_type", "day")
      .orderBy("user_id", "event_type", "day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2)))
    val batch = graft.sources.Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .distinct()
      .orderBy("user_id", "event_type", "day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    // and it actually deduplicated: the raw stream is strictly larger
    val raw = graft.sources.Tables.events(spark, Sf0001).count()
    assert(raw > streamed.length)
  }
}
