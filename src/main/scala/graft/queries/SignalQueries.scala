package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Graphs, Quantiles, TimeSeries}
import graft.sources.Tables

/** Round-8 wave-3 gates: temporal signal extraction (order-based EWMA,
  * per-key linear trend + forecast, Kaplan–Meier survival), landmark
  * closeness centrality, and the range-partition balance plan. Each
  * hash-checks against a DuckDB oracle per SURVEY.md §5.3; the graph
  * gate uses the unrolled-CTE oracle discipline.
  */
object SignalQueries {

  /** Order-based EWMA ([[TimeSeries.ewmaLast]]) of each user's last 16
    * event values — the feature-store recency smoother with exact
    * integer weights (DECISIONS #34).
    */
  def qEwma(s: SparkSession, dir: String): DataFrame =
    TimeSeries.ewmaLast(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value", m = 16)
      .orderBy("user_id")

  /** Per-event-type daily-count linear trend + one-week forecast
    * ([[TimeSeries.linearTrendForecast]]) — exact integer OLS moments,
    * two r6 divisions, no chained rounding.
    */
  def qTrend(s: SparkSession, dir: String): DataFrame =
    TimeSeries.linearTrendForecast(Tables.events(s, dir),
        "event_type", "ts", horizonDays = 7)
      .orderBy("event_type")

  /** Kaplan–Meier survival ([[TimeSeries.kaplanMeier]]) over CUSTOMER
    * lifetimes (first order → last order), 90-day right-censoring
    * window — the order log spans years, so lifetimes genuinely end
    * (the events table's users are all horizon-active, which would
    * make every entity censored and the curve vacuous).
    */
  def qKm(s: SparkSession, dir: String): DataFrame =
    TimeSeries.kaplanMeier(Tables.table(s, dir, "orders"),
      "o_custkey", "o_orderdate", censorDays = 90)

  /** Landmark closeness centrality ([[Graphs.closenessCentrality]])
    * of parts {0..4} over the co-purchase graph — one shared
    * multi-source BFS, exact hop distances.
    */
  def qCloseness(s: SparkSession, dir: String): DataFrame =
    Graphs.closenessCentrality(
      Graphs.coOccurrenceEdges(
        Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
      seeds = Seq(0L, 1L, 2L, 3L, 4L))
      .orderBy("seed")

  /** Additive seasonal decomposition ([[TimeSeries.seasonalDecompose]])
    * of the daily event-value series: centered 7-day moving-average
    * trend, zero-centered day-of-week seasonal, residual — the
    * y = trend + seasonal + resid split behind seasonality-aware
    * monitoring and forecasting.
    */
  def qDecompose(s: SparkSession, dir: String): DataFrame =
    TimeSeries.seasonalDecompose(Tables.events(s, dir), "ts", "value")

  /** Range-partition plan ([[Quantiles.rangePartitionPlan]]) for an
    * 8-way split of `l_extendedprice` — exact-quantile boundaries plus
    * the per-partition load audit.
    */
  def qRangePlan(s: SparkSession, dir: String): DataFrame =
    Quantiles.rangePartitionPlan(
      Tables.table(s, dir, "lineitem"), "l_extendedprice",
      numPartitions = 8)

  val gates: Map[String, Gate] = Gate.registry(
    "q_ewma" -> Gate(qEwma _, TimeSeries.ewmaLastOracleSql(
      "SELECT user_id, ts, event_id AS id, value FROM events",
      "user_id", m = 16) + " ORDER BY user_id"),
    "q_trend" -> Gate(qTrend _, TimeSeries.linearTrendForecastOracleSql(
      "events", "event_type", "ts", horizonDays = 7) +
      " ORDER BY event_type"),
    "q_km" -> Gate(qKm _, TimeSeries.kaplanMeierOracleSql(
      "orders", "o_custkey", "o_orderdate", censorDays = 90)),
    "q_decompose" -> Gate(qDecompose _, TimeSeries.seasonalDecomposeOracleSql(
      "events", "ts", "value")),
    "q_closeness" -> Gate(qCloseness _, Graphs.closenessOracleSql(
      Oracle.coPurchaseEdges, seeds = Seq(0L, 1L, 2L, 3L, 4L), rounds = 8)),
    "q_range_plan" -> Gate(qRangePlan _, Quantiles.rangePartitionPlanOracleSql(
      "lineitem", "l_extendedprice", numPartitions = 8)),
  )
}
