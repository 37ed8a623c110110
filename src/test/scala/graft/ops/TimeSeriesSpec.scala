package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TimeSeriesSpec extends SparkTestBase {
  import spark.implicits._

  test("resampleFill: gap buckets appear with zero events and carried-forward value") {
    val events = Seq(
      (1L, 1L, 0L, 10.0), (2L, 1L, 60L, 5.0),    // hour 0: two events
      (3L, 1L, 2 * 3600L + 5, 7.0),              // hour 2; hour 1 is a gap
      (4L, 2L, 3600L, 1.0),                      // single-bucket user
    ).toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", col("sec").cast("timestamp")).drop("sec")
    val got = TimeSeries.resampleFill(events, "user_id", "ts", "value")
      .orderBy("user_id", "bucket")
      .select(col("user_id"), col("bucket").cast("long"), col("n_events"),
        col("sum_value"), col("filled_value"))
      .as[(Long, Long, Long, Option[Double], Double)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 2L, Some(15.0), 15.0),
      (1L, 3600L, 0L, None, 15.0),      // gap: zero events, value carried
      (1L, 7200L, 1L, Some(7.0), 7.0),
      (2L, 3600L, 1L, Some(1.0), 1.0),
    ))
  }

  test("scd2: consecutive repeats collapse, intervals chain, last row open") {
    val log = Seq(
      (1L, 1L, 10L, "a"), (2L, 1L, 20L, "a"), (3L, 1L, 30L, "b"), (4L, 1L, 40L, "a"),
      (5L, 2L, 10L, "x"),
    ).toDF("event_id", "user_id", "sec", "state")
      .withColumn("ts", col("sec").cast("timestamp")).drop("sec")
    val got = TimeSeries.scd2(log, "user_id", "ts", "event_id", "state")
      .orderBy("user_id", "valid_from")
      .select(col("user_id"), col("state"), col("valid_from").cast("long"),
        col("valid_to").cast("long"), col("is_current"))
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, "a", 10L, Some(30L), false),  // the t=20 repeat collapsed
      (1L, "b", 30L, Some(40L), false),
      (1L, "a", 40L, None, true),
      (2L, "x", 10L, None, true),
    ))
  }

  test("histogram: equal-width bins, max value clamped into the top bin") {
    val df = Seq(0.0, 1.0, 2.0, 3.0, 9.0, 10.0).toDF("v")
    val got = Stats.fixedWidthHistogram(df, "v", nBins = 2)
      .orderBy("bin")
      .select(col("bin"), col("bin_lo"), col("n"), col("avg_value"))
      .as[(Int, Double, Long, Double)].collect().toSeq
    assert(got == Seq((0, 0.0, 4L, 1.5), (1, 5.0, 2L, 9.5)))
  }

  test("anomaly: a key's outlier day flags; uniform keys and singletons don't") {
    val day = 86400L
    val rows =
      // u1: 9 quiet days of 1 event, then a 20-event day
      (0 until 9).map(d => (1L, d * day + 1, 1)) ++ Seq((1L, 9 * day + 1, 20)) ++
        // u2: perfectly uniform — zero variance, never flags
        (0 until 5).map(d => (2L, d * day + 1, 2)) ++
        // u3: single day — skipped (no variance to estimate)
        Seq((3L, 1L, 5))
    val events = rows.zipWithIndex.flatMap { case ((u, sec, n), i) =>
      (0 until n).map(j => (i * 1000L + j, u, sec + j))
    }.toDF("event_id", "user_id", "sec")
      .withColumn("ts", col("sec").cast("timestamp")).drop("sec")
    val got = Stats.dailyCountAnomalies(events, "user_id", "ts", zThreshold = 2.0)
      .select(col("user_id"), col("day").cast("long"), col("cnt"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 9 * day, 20L)))
  }

  test("kmvDistinct: exact below k, banded estimate above k, duplicate-proof") {
    import spark.implicits._
    // group "small": 5 distinct values each duplicated 3× → exact path
    // must report 5, NOT be biased by the duplicates occupying slots;
    // group "big": 5000 distinct values → estimation path at k=64
    val rows = (1 to 5).flatMap(i => Seq.fill(3)(("small", s"v$i"))) ++
      (1 to 5000).map(i => ("big", s"x$i"))
    val out = Stats.kmvDistinct(rows.toDF("g", "v"), "g", "v", k = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out("small") == ((5L, 5.0)), out("small").toString)
    val (kept, est) = out("big")
    assert(kept == 64L)
    // 5σ at k=64: 5/sqrt(62) ≈ 0.635 — a generous but real accuracy gate
    assert(math.abs(est - 5000.0) / 5000.0 < 0.635, est.toString)
    // partitioning-invariant: repartitioned input gives identical bits
    val out2 = Stats.kmvDistinct(
        rows.toDF("g", "v").repartition(13), "g", "v", k = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out2("big") == est && out2("small") == 5.0)
  }

  test("kmvUnionEstimate: merge of sketches == sketch of the union, exactly") {
    import spark.implicits._
    // overlapping value sets: A = x1..x400, B = x200..x600
    val rows = (1 to 400).map(i => ("A", s"x$i")) ++
      (200 to 600).map(i => ("B", s"x$i"))
    val df = rows.toDF("g", "v")
    val merged = Stats.kmvUnionEstimate(df, "g", "v", k = 64).collect()(0)
    assert((merged.getString(0), merged.getString(1)) == (("A", "B")))
    // the defining KMV property: bottom-k(bottom-k(A) ∪ bottom-k(B)) =
    // bottom-k(A ∪ B), so the merged estimate must BIT-EQUAL the
    // estimate of a sketch built over the union directly
    val direct = Stats.kmvDistinct(
        df.withColumn("g", lit("U")), "g", "v", k = 64)
      .collect()(0).getDouble(2)
    assert(merged.getDouble(3) == direct,
      s"merged=${merged.getDouble(3)} direct=$direct")
    // and it lands within the band of the exact union (600 distinct)
    assert(math.abs(merged.getDouble(3) - 600.0) / 600.0 < 0.635)
  }

  // ---- TimeSeries.seasonalDecompose --------------------------------------

  test("seasonalDecompose: a pure weekly signal leaves zero residual") {
    // 21 days, one event per day, value = dow pattern (period sums are
    // constant, so every full 7-day moving average equals the mean)
    val pattern = Seq(10.0, 20.0, 30.0, 40.0, 30.0, 20.0, 10.0)
    val rows = (0 until 21).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${1 + i}%02d 12:00:00"),
        pattern(i % 7))
    }.toDF("ts", "value")
    val got = TimeSeries.seasonalDecompose(rows, "ts", "value")
      .orderBy("d").collect()
    assert(got.length == 21)
    // first/last 3 days: no full window → NULL trend and resid
    assert(got.take(3).forall(_.isNullAt(2)))
    assert(got.takeRight(3).forall(_.isNullAt(2)))
    val mid = got.drop(3).dropRight(3)
    assert(mid.forall(r => math.abs(r.getDouble(2) - 160.0 / 7) < 1e-6))
    assert(mid.forall(r => math.abs(r.getDouble(4)) < 1e-5)) // resid ~ 0
    // seasonal components cancel across one period
    val season = mid.take(7).map(_.getDouble(3)).sum
    assert(math.abs(season) < 1e-4)
  }
}
