package graft.ops

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SignalSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // ---- TimeSeries.ewmaLast ----------------------------------------------

  test("ewmaLast: integer-weight mean halves per step, newest first") {
    // key A, values oldest→newest 1, 2, 4 with m=3: weights 1,2,4 →
    // (1·1 + 2·2 + 4·4)/(1+2+4) = 21/7 = 3
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 1.0),
      (1L, ts("2024-01-02 00:00:00"), 2L, 2.0),
      (1L, ts("2024-01-03 00:00:00"), 3L, 4.0)
    ).toDF("k", "ts", "id", "v")
    val r = TimeSeries.ewmaLast(ev, "k", "ts", "id", "v", m = 3).collect()
    assert(r.length == 1 && r(0).getLong(1) == 3L)
    assert(r(0).getDouble(2) == 3.0)
  }

  test("ewmaLast: window caps at m and short keys renormalize") {
    // values 2,4,8,16,32 oldest→newest; m=2 → only the newest two
    // count, weights 2^(m−k): newest 32 gets 2, next 16 gets 1 →
    // (32·2 + 16·1)/3 = 80/3
    val ev = (1 to 5).map(i =>
      (1L, ts(f"2024-01-0$i 00:00:00"), i.toLong, math.pow(2, i)))
      .toDF("k", "ts", "id", "v")
    val r = TimeSeries.ewmaLast(ev, "k", "ts", "id", "v", m = 2).collect()
    assert(r(0).getLong(1) == 2L)
    assert(math.abs(r(0).getDouble(2) - 80.0 / 3) < 1e-6)
    // a second key with ONE event reports that value exactly
    val ev2 = ev.unionAll(Seq((2L, ts("2024-01-01 00:00:00"), 9L, 7.5))
      .toDF("k", "ts", "id", "v"))
    val r2 = TimeSeries.ewmaLast(ev2, "k", "ts", "id", "v", m = 2)
      .filter(col("k") === 2L).collect()
    assert(r2(0).getLong(1) == 1L && r2(0).getDouble(2) == 7.5)
  }

  // ---- TimeSeries.linearTrendForecast ------------------------------------

  test("linearTrendForecast: a perfectly linear daily series fits exactly") {
    // key A: day x has x+2 events for x = 0..4 → slope 1, intercept 2,
    // forecast at x = 4+7 = 11 → 13
    val rows = for (x <- 0 to 4; i <- 0 until (x + 2)) yield
      (("A", ts(f"2024-03-0${x + 1} 0$i:00:00")))
    val ev = rows.toDF("k", "ts")
    val r = TimeSeries.linearTrendForecast(ev, "k", "ts", horizonDays = 7)
      .collect()(0)
    assert(r.getLong(1) == 5L)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 2.0)
    assert(r.getDouble(4) == 13.0)
  }

  test("linearTrendForecast: single-day keys report NULL, not an error") {
    val ev = Seq(("B", ts("2024-03-01 00:00:00")),
      ("B", ts("2024-03-01 01:00:00"))).toDF("k", "ts")
    val r = TimeSeries.linearTrendForecast(ev, "k", "ts").collect()(0)
    assert(r.getLong(1) == 1L)
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("linearTrendForecast: gap days are absent from the fit, not zeros") {
    // days 0 and 10 with equal counts → slope 0, not negative
    val ev = Seq(("C", ts("2024-03-01 00:00:00")),
      ("C", ts("2024-03-11 00:00:00"))).toDF("k", "ts")
    val r = TimeSeries.linearTrendForecast(ev, "k", "ts").collect()(0)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 1.0)
  }

  // ---- TimeSeries.kaplanMeier --------------------------------------------

  test("kaplanMeier: textbook small cohort with censoring") {
    // horizon = day 30. entities (first, last):
    //   a: 0→2  (death, t=2)   b: 0→2 (death, t=2)
    //   c: 0→5  (death, t=5)   d: 0→28 (censored, t=28)
    // N=4. t=2: n=4, d=2 → S = 1/2. t=5: n=2, d=1 → S = 1/4.
    // t=28 censored-only → no row.
    def d(day: Int) = ts(f"2024-01-${day + 1}%02d 00:00:00")
    val ev = Seq(
      ("a", d(0)), ("a", d(2)), ("b", d(0)), ("b", d(2)),
      ("c", d(0)), ("c", d(5)), ("d", d(0)), ("d", d(28)),
      ("hz", d(30))).toDF("e", "ts")
    val r = TimeSeries.kaplanMeier(ev, "e", "ts", censorDays = 7)
      .collect()
    // hz itself: t=0, last seen day 30 = horizon → censored at 0.
    val byT = r.map(x => x.getLong(0) ->
      (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(5))).toMap
    assert(byT.keySet == Set(2L, 5L))
    assert(byT(2L)._1 == 4L && byT(2L)._2 == 2L)
    assert(math.abs(byT(2L)._4 - 0.5) < 1e-6)
    assert(byT(5L)._1 == 2L && byT(5L)._2 == 1L)
    assert(math.abs(byT(5L)._4 - 0.25) < 1e-6)
  }

  test("kaplanMeier: a censored exit shrinks at-risk without a step") {
    // hz is censored at t=0, so the t=3 deaths face n=3 at risk, not 4:
    // S = 1/3 — ignoring the censored exit would claim (4−2)/4 = 1/2.
    // a (censored at t=25, AFTER the deaths) still counts at risk at 3.
    def d(day: Int) = ts(f"2024-01-${day + 1}%02d 00:00:00")
    val ev = Seq(
      ("a", d(0)), ("a", d(25)),
      ("b", d(0)), ("b", d(3)),
      ("c", d(0)), ("c", d(3)),
      ("hz", d(26))).toDF("e", "ts")
    // horizon day 26; censorDays 7 → a (last 25) and hz (last 26) censored
    val r = TimeSeries.kaplanMeier(ev, "e", "ts", censorDays = 7).collect()
    assert(r.length == 1 && r(0).getLong(0) == 3L)
    assert(r(0).getLong(1) == 3L)
    assert(math.abs(r(0).getDouble(5) - 1.0 / 3) < 1e-4)
  }

  // ---- Graphs.closenessCentrality ----------------------------------------

  test("closenessCentrality: path graph distances by hand") {
    // path 1-2-3-4: from 1, dists 0+1+2+3=6, n=4 → closeness 3/6 = 0.5
    // from 2: 1+0+1+2=4 → 3/4 = 0.75
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val r = Graphs.closenessCentrality(edges, Seq(1L, 2L)).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getDouble(3))).toMap
    assert(r(1L) == ((4L, 6L, 0.5)))
    assert(r(2L) == ((4L, 4L, 0.75)))
  }

  test("closenessCentrality: a seed only reaches its own component") {
    val edges = Seq((1L, 2L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val r = Graphs.closenessCentrality(edges, Seq(1L)).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 2L && r(0).getLong(2) == 1L)
  }

  test("closenessCentrality: a 30-vertex path leaves at most 2 persisted RDDs behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val path = (0L until 29L).map(i => (i, i + 1)).toDF("u", "v")
    val r = Graphs.closenessCentrality(path, Seq(0L)).collect()
    // from one end: n = 30, Σ dist = 0 + 1 + … + 29 = 435
    assert(r.length == 1 && r(0).getLong(1) == 30L && r(0).getLong(2) == 435L)
    val residue = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(residue.size <= 2, s"${residue.size} persisted RDDs left behind")
  }

  // ---- Quantiles.rangePartitionPlan --------------------------------------

  test("rangePartitionPlan: uniform values split evenly, boundary ties go low") {
    // 0..99 into 4 partitions → boundaries at the exact quartile values;
    // every partition gets 25 rows, load_ratio 1.0
    val df = (0 until 100).map(i => Tuple1(i.toDouble)).toDF("v")
    val r = Quantiles.rangePartitionPlan(df, "v", 4).collect()
    assert(r.length == 4)
    assert(r.forall(_.getLong(1) == 25L))
    assert(r.forall(x => math.abs(x.getDouble(4) - 1.0) < 1e-9))
    // contiguous, non-overlapping coverage
    val his = r.map(_.getDouble(3))
    val los = r.map(_.getDouble(2))
    assert(los.head == 0.0 && his.last == 99.0)
    assert(los.zip(his).forall { case (lo, hi) => lo <= hi })
  }

  test("rangePartitionPlan: skewed data reports the imbalance") {
    // 90 copies of 5.0 + values 0..9: a heavy tie mass cannot split, so
    // one partition's load_ratio must exceed 1
    val df = (Seq.fill(90)(5.0) ++ (0 until 10).map(_.toDouble))
      .map(Tuple1(_)).toDF("v")
    val r = Quantiles.rangePartitionPlan(df, "v", 4).collect()
    assert(r.map(_.getLong(1)).sum == 100L)
    assert(r.exists(_.getDouble(4) > 1.5))
  }
}
