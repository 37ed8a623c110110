package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class BehaviorSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(rows: Seq[(Long, Long, String, Long, Double)]) =
    rows.toDF("event_id", "user_id", "event_type", "sec", "value")
      .withColumn("ts", col("sec").cast("timestamp")).drop("sec")

  test("retention: daily cohorts, offsets, and ratio against cohort size") {
    val day = 86400L
    val events = ev(Seq(
      (1L, 1L, "view", 0 * day + 10, 1.0),   // u1 cohort day0
      (2L, 1L, "view", 2 * day + 10, 1.0),   // u1 back on day2
      (3L, 2L, "view", 0 * day + 20, 1.0),   // u2 cohort day0, never back
      (4L, 3L, "view", 1 * day + 10, 1.0),   // u3 cohort day1
    ))
    val got = Behavior.retention(events, "user_id", "ts", "day", 1)
      .orderBy("cohort", "periods_since")
      .select(col("cohort").cast("long"), col("periods_since"),
        col("n_users"), col("retention"))
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 0, 2L, 1.0),         // day0 cohort: u1+u2
      (0L, 2, 1L, 0.5),         // day2: only u1 back
      (day, 0, 1L, 1.0),        // day1 cohort: u3
    ))
  }

  test("funnel: strict ordering, window cap, per-step survivors") {
    val events = ev(Seq(
      // u1 completes in order
      (1L, 1L, "view", 10, 1.0), (2L, 1L, "click", 20, 1.0), (3L, 1L, "purchase", 30, 1.0),
      // u2 clicked BEFORE the first view — not a conversion
      (4L, 2L, "click", 5, 1.0), (5L, 2L, "view", 10, 1.0),
      // u3 click at the same instant as view — strictness excludes it
      (6L, 3L, "view", 40, 1.0), (7L, 3L, "click", 40, 1.0),
      // u4 clicks outside the window
      (8L, 4L, "view", 0, 1.0), (9L, 4L, "click", 200, 1.0),
    ))
    val got = Behavior
      .funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSec = 100)
      .orderBy("step_idx")
      .select("step", "n_users", "conversion")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("view", 4L, 1.0), ("click", 1L, 0.25), ("purchase", 1L, 0.25)))
  }

  test("islands: split at the gap threshold, inclusive boundary stays joined") {
    val events = ev(Seq(
      (1L, 1L, "view", 0, 1.5),
      (2L, 1L, "view", 100, 2.5),   // gap exactly 100 — NOT > gapSec, same island
      (3L, 1L, "view", 301, 4.0),   // gap 201 > 100 — new island
      (4L, 2L, "view", 50, 8.0),
    ))
    val got = Behavior
      .activityIslands(events, "user_id", "ts", "event_id", "value", gapSec = 100)
      .orderBy("user_id", "island_start")
      .select(col("user_id"), col("island_id"), col("n_events"), col("sum_value"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 2L, 4.0), (1L, 2L, 1L, 4.0), (2L, 1L, 1L, 8.0)))
  }

  // ---- Behavior.attribution -----------------------------------------------

  test("attribution: first/last/linear credit a converted journey") {
    // user 1: view → click → buy (converted journey with 2 touches);
    // user 2: click only (never converts → no credit at all)
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "buy"),
      (2L, 4L, "click"),
    ).map { case (u, i, t) =>
      (u, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:0$i"), i, t)
    }.toDF("u", "ts", "id", "t")
    val got = graft.ops.Behavior.attribution(ev, "u", "ts", "id", "t", "buy")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got("view") == ((1L, 1L, 0L, 0.5)))   // first touch
    assert(got("click") == ((1L, 0L, 1L, 0.5)))  // last touch
    assert(!got.contains("buy"))
  }

  test("attribution: a second conversion starts a fresh journey") {
    // view → buy → click → buy: journey 0 credits view fully,
    // journey 1 credits click fully
    val ev = Seq((1L, 1L, "view"), (1L, 2L, "buy"),
        (1L, 3L, "click"), (1L, 4L, "buy"))
      .map { case (u, i, t) =>
        (u, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:0$i"), i, t)
      }.toDF("u", "ts", "id", "t")
    val got = graft.ops.Behavior.attribution(ev, "u", "ts", "id", "t", "buy")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got("view") == ((1L, 1L, 1.0)))
    assert(got("click") == ((1L, 1L, 1.0)))
  }

  test("attribution property: every credit flavor conserves the journey count") {
    val draws = lcg(99L)
    // 40 users × 12 events with random types; buys cut journeys
    val types = Seq("view", "click", "signup", "buy")
    val ev = (for (u <- 1L to 40L; i <- 1L to 12L) yield {
      val t = types(math.floorMod(draws.next(), 4L).toInt)
      (u, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), u * 100 + i, t)
    }).toDF("u", "ts", "id", "t")
    val got = graft.ops.Behavior.attribution(ev, "u", "ts", "id", "t", "buy")
      .collect()
    val first = got.map(_.getLong(2)).sum
    val last = got.map(_.getLong(3)).sum
    val linear = got.map(_.getDouble(4)).sum
    // first/last each assign exactly one credit per journey-with-touches;
    // linear splits exactly one credit per journey (r6 rounding slack)
    assert(first == last)
    assert(math.abs(linear - first) < 0.01)
  }
}
