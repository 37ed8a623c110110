package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Det._

/** Behavioral / product analytics over event logs: cohort retention,
  * ordered funnels, and gaps-and-islands activity spans. These are the
  * event-warehouse workloads the reference's trip aggregates gesture at
  * (reference `notebooks/analysis.ipynb` groups trips by hour/day); here
  * they are first-class parameterized operators.
  *
  * Scale shape (100 TB event logs): every operator shuffles on the user
  * key exactly once and then reduces — per-user windows and aggregates
  * are the textbook partition-friendly form. Nothing collects to the
  * driver; funnel's per-step joins are equi-joins on the user key over
  * monotonically shrinking frames (step k+1's input is the survivors of
  * step k), so AQE can reuse/co-locate the exchange.
  */
object Behavior {

  /** Cohort retention: users bucketed by their first-activity period
    * (`truncUnit` ∈ day/week/month…, `unitDays` its length in days); for
    * each (cohort, periods_since) the distinct users still active, plus
    * the retention ratio against the cohort's size.
    *
    * Both engines truncate periods identically (ISO Monday weeks,
    * calendar days), so the bucket edges agree; offsets are exact
    * integer day arithmetic. The ratio is int/int double division
    * (bit-identical cross-engine).
    */
  def retention(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      truncUnit: String = "week",
      unitDays: Int = 7): DataFrame = {
    val periods = events
      .select(col(userCol).as("_u"),
        date_trunc(truncUnit, col(tsCol)).as("period"))
      .distinct()
    val cohorts = periods.groupBy("_u").agg(min(col("period")).as("cohort"))
    // same-key join: both sides were just shuffled on _u
    val offsets = periods.join(cohorts, "_u")
      .select(col("_u"), col("cohort"),
        (datediff(col("period").cast("date"), col("cohort").cast("date")) / unitDays)
          .cast("int").as("periods_since"))
    val counts = offsets
      .groupBy("cohort", "periods_since")
      .agg(countDistinct(col("_u")).as("n_users"))
    // offset 0 exists for every cohort by construction (the min period
    // itself), so first over the offset-ordered window is cohort size
    val w = Window.partitionBy("cohort").orderBy("periods_since")
    counts
      .withColumn("retention",
        col("n_users").cast("double") / first(col("n_users")).over(w))
  }

  /** Ordered funnel: how many users complete `steps` in sequence, each
    * later step strictly after the previous one and all within
    * `windowSec` of the first step. Returns one row per step with the
    * users reaching it and the conversion vs step 1.
    *
    * Shape: per-step min-timestamp aggregation joined back to the event
    * stream, k-1 equi-joins on the user key over shrinking survivor
    * frames. No per-user arrays, no window over the full log — the
    * un-aggregated event frame is touched once per step and reduced
    * map-side first.
    */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = events.select(
      col(userCol).as("_u"), col(typeCol).as("_ty"), col(tsCol).as("_ts"))
    val step1 = base.filter(col("_ty") === steps.head)
      .groupBy("_u").agg(min(col("_ts")).as("ts_1"))
    val reached = steps.indices.drop(1).foldLeft(Vector(step1)) { (acc, i) =>
      val prev = acc.last
      val priorTs = (1 to i).map(j => col(s"ts_$j"))
      val next = prev
        .join(base.filter(col("_ty") === steps(i)), Seq("_u"))
        .filter(col("_ts") > col(s"ts_$i") &&
          col("_ts") <= col("ts_1") + expr(s"INTERVAL $windowSec SECONDS"))
        .groupBy((col("_u") +: priorTs): _*)
        .agg(min(col("_ts")).as(s"ts_${i + 1}"))
      acc :+ next
    }
    val counts = reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(steps(i)).as("step"),
          col("n_users"))
    }
    // k rows total — the unpartitioned window is a k-row frame, not a
    // single-partition pass over data
    val all = counts.reduce(_ unionByName _)
    val w = Window.orderBy("step_idx")
    all.withColumn("conversion",
      col("n_users").cast("double") / first(col("n_users")).over(w))
  }

  /** Gaps-and-islands: contiguous per-user activity spans, a new island
    * whenever the silence before an event exceeds `gapSec` (compared at
    * whole-second granularity — both engines floor epoch seconds).
    * Returns one row per island with span, event count, and value sum.
    *
    * The island id is the classic running sum of new-island flags over
    * the per-user time-ordered window; ordering ties break on the event
    * id so the result is deterministic.
    */
  def activityIslands(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      gapSec: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val flagged = events
      .withColumn("_sec", col(tsCol).cast("long"))
      .withColumn("_new",
        when(col("_sec") - lag(col("_sec"), 1).over(w) > gapSec || lag(col("_sec"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("island_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy(col(userCol), col("island_id"))
      .agg(
        min(col(tsCol)).as("island_start"),
        max(col(tsCol)).as("island_end"),
        count(lit(1)).as("n_events"),
        dsum(col(valueCol)).as("sum_value"))
  }

  /** Top event-sequence motifs: the most frequent length-3 runs of
    * consecutive states per entity stream — the behavioral n-gram
    * mining [[transitionMatrix]] generalizes past bigrams. Two lag
    * windows (entity-partitioned), one states³-bounded aggregate, a
    * (count DESC, states) total-order top-N cut.
    */
  def sequenceMotifs(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      stateCol: String,
      topN: Int = 20): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("_s1", lag(col(stateCol), 2).over(w))
      .withColumn("_s2", lag(col(stateCol), 1).over(w))
      .filter(col("_s1").isNotNull && col("_s2").isNotNull)
      .groupBy(col("_s1").as("s1"), col("_s2").as("s2"),
        col(stateCol).as("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(topN)
  }

  /** First-order Markov transition matrix of per-entity event
    * sequences: for each (state_from, state_to) adjacent pair in a
    * user's (ts, tie)-ordered stream, the count and the row-normalized
    * transition probability — the behavioral-model summary behind
    * next-event prediction, anomaly scoring, and bot detection. A
    * user's first event has no predecessor and contributes nothing.
    *
    * Ordering ties break on `tieCol` (unique), so adjacency — and the
    * whole matrix — is deterministic under any partitioning.
    *
    * Scale shape: one lag window PARTITIONED BY the entity (per-user
    * sequences, never a global order), then a states²-bounded hash
    * aggregate and a states-bounded row-total join. The matrix size
    * depends on the state alphabet, not the corpus.
    */
  def transitionMatrix(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .withColumn("_prev", lag(col(stateCol), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev").as("state_from"), col(stateCol).as("state_to"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("state_from").agg(sum(col("n")).as("_tot"))
    pairs.join(broadcast(totals), "state_from")
      .select(col("state_from"), col("state_to"), col("n"),
        r6(col("n").cast("double") / col("_tot")).as("p"))
  }

  /** Multi-touch conversion attribution: each user's event stream is
    * cut into journeys at every `convType` event (journey j = all
    * events after the j-th conversion, up to and including the
    * (j+1)-th); for every journey that CONVERTS, its non-conversion
    * touches split the credit three standard ways at once —
    * first-touch (all to the earliest touch), last-touch (all to the
    * latest touch before the conversion), and linear (1/n each). The
    * per-touch-type credit table is the channel-value readout growth
    * analytics reports.
    *
    * Scale shape: one user-keyed shuffle; all windows partition by
    * (user) or (user, journey); credits are key-local aggregates over
    * the touch frame. Determinism: journeys and first/last ranks order
    * by (ts, id) — a total order; linear shares are r6(1/n) decimal-
    * summed.
    */
  def attribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      typeCol: String,
      convType: String): DataFrame = {
    val byUser = Window.partitionBy(col("_u"))
      .orderBy(col("_ts"), col("_id"))
    // journey id = conversions strictly before this row
    val journeyed = events
      .select(col(userCol).as("_u"), col(tsCol).as("_ts"),
        col(tieCol).as("_id"), col(typeCol).as("_t"))
      .withColumn("_j",
        coalesce(sum((col("_t") === convType).cast("long"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val converted = journeyed
      .filter(col("_t") === convType)
      .select(col("_u"), col("_j")).distinct()
    val touches = journeyed
      .filter(col("_t") =!= convType)
      .join(converted, Seq("_u", "_j"))
    val byJourney = Window.partitionBy(col("_u"), col("_j"))
    val ranked = touches
      .withColumn("_ra", row_number().over(
        byJourney.orderBy(col("_ts"), col("_id"))))
      .withColumn("_rd", row_number().over(
        byJourney.orderBy(col("_ts").desc, col("_id").desc)))
      .withColumn("_n", count(lit(1)).over(byJourney))
    ranked.groupBy(col("_t").as("touch_type"))
      .agg(
        count(lit(1)).as("n_touches"),
        sum((col("_ra") === 1).cast("long")).as("first_credit"),
        sum((col("_rd") === 1).cast("long")).as("last_credit"),
        r6(sum(r6(lit(1.0) / col("_n")).cast("decimal(25,6)"))
          .cast("double")).as("linear_credit"))
      .orderBy("touch_type")
  }

  /** DuckDB spelling of [[attribution]] over a `(u, ts, id, t)`
    * subquery.
    */
  def attributionOracleSql(eventsSql: String, convType: String): String = {
    val r6 = graft.queries.Oracle.r6 _
    s"WITH ev AS ($eventsSql), " +
      "jn AS (SELECT *, coalesce(sum(CASE WHEN t = '" + convType +
      "' THEN 1 ELSE 0 END) OVER (PARTITION BY u ORDER BY ts, id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS j FROM ev), " +
      s"cj AS (SELECT DISTINCT u, j FROM jn WHERE t = '$convType'), " +
      s"tc AS (SELECT jn.* FROM jn JOIN cj USING (u, j) WHERE t <> '$convType'), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY u, j ORDER BY ts, id) AS ra, " +
      "row_number() OVER (PARTITION BY u, j ORDER BY ts DESC, id DESC) AS rd, " +
      "count(*) OVER (PARTITION BY u, j) AS n FROM tc) " +
      "SELECT t AS touch_type, count(*)::BIGINT AS n_touches, " +
      "CAST(sum(CASE WHEN ra = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_credit, " +
      "CAST(sum(CASE WHEN rd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_credit, " +
      r6("CAST(CAST(sum(CAST(" + r6("1.0 / n") +
        " AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)") + " AS linear_credit " +
      "FROM rk GROUP BY 1 ORDER BY touch_type"
  }
}
