package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Det._

/** Time-series regularization and history tracking over event logs:
  * resampling onto a fixed grid with forward fill, and SCD2 (slowly
  * changing dimension) validity intervals from a change log.
  *
  * Scale shape: both operators shuffle once on the series key; the
  * resample spine is derived from the already-aggregated frame (one row
  * per key-bucket, not per event) and the per-key window passes reuse
  * that partitioning. Nothing is proportional to the raw event count
  * after the first aggregate.
  */
object TimeSeries {

  /** Resample events onto a per-key `unit` grid (every bucket between the
    * key's first and last active bucket), with event counts, per-bucket
    * value sums, and last-observation-carried-forward `filled_value`.
    * The first bucket of every key has data by construction, so the fill
    * never emits a leading null.
    */
  def resampleFill(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      unit: String = "hour"): DataFrame = {
    val bucketed = events
      .groupBy(col(keyCol), date_trunc(unit, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"), dsum(col(valueCol)).as("sum_value"))
    val spine = bucketed
      .groupBy(keyCol)
      .agg(min(col("bucket")).as("_lo"), max(col("bucket")).as("_hi"))
      .select(col(keyCol),
        explode(sequence(col("_lo"), col("_hi"), expr(s"INTERVAL 1 $unit")))
          .as("bucket"))
    val w = Window.partitionBy(keyCol).orderBy("bucket")
    spine
      .join(bucketed, Seq(keyCol, "bucket"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("filled_value",
        last(col("sum_value"), ignoreNulls = true).over(w))
  }

  /** SCD2 history from a change log: collapse consecutive repeats of
    * `attrCol` per key, then derive [valid_from, valid_to) intervals
    * (null valid_to = current row). Two per-key window passes over the
    * same partitioning — Catalyst plans one exchange. Ordering ties
    * break on `idCol` for determinism.
    */
  def scd2(
      log: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      attrCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    val changed = log
      .withColumn("_prev", lag(col(attrCol), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col(attrCol))
    changed
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col(attrCol).as("state"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Exponentially time-decayed per-key value sums — the recency-
    * weighted feature ("a purchase last week counts double one from two
    * weeks ago"): each event contributes `value × 0.5^(age/halfLife)`
    * with age in WHOLE half-life units against the corpus's last day,
    * plus the undecayed sum and the decayed/undecayed ratio as the
    * recency score.
    *
    * Cross-engine exactness WITHOUT the 6-dp rounding discipline:
    * integer ages make every weight 0.5^k — a dyadic rational both
    * engines' `pow` return exactly — so each product is one correctly-
    * rounded double multiply, and the sum rides DECIMAL. One narrow
    * projection + one aggregate; the 1-row max-day frame broadcasts.
    */
  def decayedSum(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      halfLifeDays: Int): DataFrame = {
    val maxDay = events.agg(
      date_trunc("day", max(col(tsCol))).as("_max_day"))
    events
      .crossJoin(broadcast(maxDay))
      .withColumn("_age",
        floor(datediff(col("_max_day"), date_trunc("day", col(tsCol)))
          / halfLifeDays).cast("int"))
      .withColumn("_w", pow(lit(0.5), col("_age")))
      .groupBy(keyCol)
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col(valueCol)).as("sum_value"),
        dsum(col(valueCol) * col("_w")).as("decayed_value"))
      .withColumn("recency",
        graft.queries.Det.r6(col("decayed_value") / col("sum_value")))
  }

  /** Day-of-week seasonality profile: per (key, weekday) event counts,
    * the weekday's share of the key's activity, and its deviation from
    * the uniform 1/7 — the weekly-rhythm audit behind staffing, alert
    * thresholds, and "is this feed batch-dumping on Mondays". Weekday
    * numbering is Spark's `dayofweek` (1 = Sunday); the oracle maps
    * DuckDB's 0-based dow to match. One (key, dow) aggregate plus a
    * key-total join — key×7-sized output.
    */
  def dayOfWeekProfile(
      events: DataFrame,
      keyCol: String,
      tsCol: String): DataFrame = {
    val counts = events
      .groupBy(col(keyCol), dayofweek(col(tsCol)).as("dow"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col(keyCol)).agg(sum(col("n")).as("_tot"))
    counts.join(broadcast(totals), keyCol)
      .select(col(keyCol), col("dow"), col("n"),
        graft.queries.Det.r6(col("n").cast("double") / col("_tot")).as("share"),
        graft.queries.Det.r6(
          col("n").cast("double") / col("_tot") - lit(1.0) / lit(7.0))
          .as("dev"))
  }

  /** Lag-1 autocorrelation of per-key daily counts: Pearson r between
    * each day's count and the NEXT calendar day's (pairs exist only
    * where both days do — the date-arithmetic join, not a lead window,
    * so a gap in the series never pairs non-adjacent days). All moment
    * sums (n, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs; r is one
    * identical double tree, r6'd — the q_anomaly discipline. Keys with
    * zero variance on either side report NULL (both engines would
    * produce NaN from 0/0, but NULL survives the driver hash); keys
    * with NO adjacent-day pair at all (sparse series) are absent.
    *
    * The burstiness/routine signal: r ≈ 1 means busy days follow busy
    * days; r < 0 means activity alternates.
    */
  def dailyAutocorrelation(
      events: DataFrame,
      keyCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    val nxt = daily.select(col(keyCol), col("day").as("_d2"), col("c").as("y"))
    val pairs = daily
      .withColumn("_d2", date_add(col("day"), 1))
      .join(nxt, Seq(keyCol, "_d2"))
      .select(col(keyCol), col("c").as("x"), col("y"))
    val m = pairs.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
      sum(col("x") * col("y")).as("_sxy"),
      sum(col("x") * col("x")).as("_sxx"),
      sum(col("y") * col("y")).as("_syy"))
    val n = col("n_pairs").cast("double")
    val vx = n * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val vy = n * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    val cov = n * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    m.select(col(keyCol), col("n_pairs"),
      when(vx > 0 && vy > 0, graft.queries.Det.r6(cov / sqrt(vx * vy)))
        .as("autocorr"))
  }

  /** Offline CUSUM change-point detection per key: the maximum absolute
    * cumulative deviation of `valCol` from the key's own mean, and the
    * earliest time attaining it — the classic single-change-point test
    * statistic (a level shift makes the partial sums drift to a peak AT
    * the change; a stable series random-walks near zero). Emits per
    * key: n, the normalized statistic max|S_i|/n (r6), and `change_ts`.
    *
    * EXACT-arithmetic trick: instead of deviations from the double
    * mean (whose rounding would contaminate every partial sum), the
    * partial sums are computed n-SCALED — S'_i = n·prefix_i − i·total,
    * all DECIMAL/integer ops — so the running values, the max, and the
    * argmax tie-compare are bit-exact in both engines; the ONLY double
    * op is the final /n² normalization, then r6. (S'_i = n²·(classic
    * CUSUM_i), hence the squared normalizer.)
    *
    * Scale shape: one per-key aggregate for (n, total), a key-keyed
    * join back, one prefix-sum window PARTITIONED BY the key (per-key
    * sequences, never a global order), one final per-key aggregate.
    */
  def cusumChangePoint(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valCol).cast("decimal(25,6)")
    val stats = events.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_n"), sum(v).as("_tot"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seq = events.join(stats, Seq(keyCol))
      .withColumn("_pre", sum(v).over(
        Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_i", count(lit(1)).over(w))
      // explicit DECIMAL(12,0)×DECIMAL(24,6) operand casts: the product
      // stays within precision 38 (exact, no decimal rounding) in BOTH
      // engines — unbounded bigint×decimal(38,6) would overflow
      // DuckDB's width rules
      .withColumn("_s", abs(
        col("_n").cast("decimal(12,0)") * col("_pre").cast("decimal(24,6)") -
          col("_i").cast("decimal(12,0)") * col("_tot").cast("decimal(24,6)")))
    val peak = seq.groupBy(col(keyCol))
      .agg(max(col("_s")).as("_mx"), max(col("_n")).as("n"))
    seq.join(peak, Seq(keyCol))
      .filter(col("_s") === col("_mx"))
      .groupBy(col(keyCol))
      .agg(
        max(col("n")).as("n"),
        // double cast BEFORE the division: decimal÷bigint would round
        // by decimal scale rules, which the two engines spell
        // differently — one IEEE division is bit-portable
        graft.queries.Det.r6(
          max(col("_mx")).cast("double") /
            (max(col("n")) * max(col("n"))).cast("double")).as("cusum"),
        min(col(tsCol)).as("change_ts"))
  }

  /** Order-based exponentially-weighted moving average of each key's
    * last `m` observations — the feature-store recency smoother
    * (α = 1/2 per step), complementing [[decayedSum]]'s WALL-CLOCK
    * half-life decay: here the weight halves per EVENT, so a burst of
    * recent activity dominates regardless of how many hours it spans.
    *
    * EXACT-arithmetic trick: the textbook recursion
    * s = x·α + s·(1−α) is sequential, but for α = 1/2 its fixed-window
    * form is a plain weighted mean with INTEGER weights 2^(m−k)
    * (k = 1 most recent): numerator Σ value·2^(m−k) runs in DECIMAL
    * over 6-dp values × BIGINT weights (exact), denominator Σ 2^(m−k)
    * is a BIGINT sum, and the single final division is the only double
    * op (then r6). No float ever accumulates, so the gate hash-checks.
    *
    * Scale shape: one per-key window (row_number DESC, partitioned —
    * never a global order) bounded to `m` rows per key, then one hash
    * aggregate. Keys with fewer than `m` events use what they have
    * (the weights renormalize by construction).
    */
  def ewmaLast(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      m: Int = 16): DataFrame = {
    require(m >= 1 && m <= 62, "m must fit 2^m in a BIGINT")
    val recency = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).desc, col(idCol).desc)
    events
      .select(col(keyCol), col(tsCol), col(idCol),
        col(valueCol).cast("decimal(25,6)").as("_v"))
      .withColumn("_k", row_number().over(recency))
      .filter(col("_k") <= m)
      // 2^(m−k) is exact in double far past m=62, so the pow-and-cast
      // is an integer in disguise (the Scala shiftleft API takes only
      // a literal shift, not a column)
      .withColumn("_w", pow(lit(2.0), (lit(m) - col("_k")).cast("double"))
        .cast("long"))
      .groupBy(keyCol)
      .agg(
        count(lit(1)).as("n_used"),
        graft.queries.Det.r6(
          sum(col("_v") * col("_w")).cast("double") /
            sum(col("_w")).cast("double")).as("ewma"))
  }

  /** DuckDB spelling of [[ewmaLast]] over a `(key, ts, id, value)`
    * source SELECT — the identical window + integer-weight mean.
    */
  def ewmaLastOracleSql(
      srcSql: String,
      keyCol: String,
      m: Int): String =
    s"WITH src AS ($srcSql), " +
      "w AS (SELECT *, row_number() OVER " +
      s"(PARTITION BY $keyCol ORDER BY ts DESC, id DESC) AS _k FROM src) " +
      s"SELECT $keyCol, count(*)::BIGINT AS n_used, " +
      graft.queries.Oracle.r6(
        s"CAST(CAST(sum(CAST(value AS DECIMAL(25,6)) * ((1::BIGINT << ($m - _k)))) AS VARCHAR) AS DOUBLE) " +
          s"/ CAST(sum(1::BIGINT << ($m - _k)) AS DOUBLE)") +
      s" AS ewma FROM w WHERE _k <= $m GROUP BY $keyCol"

  /** Per-key linear trend of the DAILY activity series plus a one-week
    * forecast — the capacity-planning / anomaly-baseline primitive. The
    * regression runs over each key's OBSERVED days (x = days since the
    * key's first day, y = that day's event count): gap days are absent
    * from the fit rather than imputed zero, which is the right default
    * for feeds that legitimately pause (documented contract).
    *
    * Determinism: x and y are integers, so every OLS moment (n, Σx,
    * Σy, Σxy, Σx²) is an exact integer sum; slope and intercept are
    * each ONE double division of exact DECIMAL(38,0) products
    * (slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept = (Σy·D − N·Σx)/(nD)
    * with N/D the slope's numerator/denominator — no chained rounding),
    * and the forecast re-runs the same two divisions inside one IEEE
    * tree. Single-day keys report NULL slope/forecast, not a division
    * error.
    *
    * Scale shape: one (key, day) aggregate, one per-key moment
    * aggregate — both partial-aggregable, no windows, no joins.
    */
  def linearTrendForecast(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      horizonDays: Int = 7): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as("_y"))
    val keyed = daily
      .withColumn("_x0", min(col("_day"))
        .over(Window.partitionBy(keyCol)))
      .select(col(keyCol),
        datediff(col("_day"), col("_x0")).cast("long").as("_x"),
        col("_y"))
    // width-sized operand casts (the q_cusum discipline): every product
    // stays inside DECIMAL(38) in BOTH engines' width rules, so the
    // arithmetic is exact — n ≤ 10^8, Σx ≤ 10^10, Σy ≤ 10^12,
    // Σxy/Σx² ≤ 10^16 hold far past sf10 for daily-granularity series
    def dc(c: org.apache.spark.sql.Column, p: Int) = c.cast(s"decimal($p,0)")
    keyed.groupBy(keyCol)
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        max(col("_x")).as("_xm"))
      .select(col(keyCol), col("n_days"),
        dc(dc(col("n_days"), 8) * dc(col("_sxy"), 16) -
          dc(col("_sx"), 10) * dc(col("_sy"), 12), 24).as("_num"),
        dc(dc(col("n_days"), 8) * dc(col("_sxx"), 16) -
          dc(col("_sx"), 10) * dc(col("_sx"), 10), 24).as("_den"),
        col("_sx"), col("_sy"), col("n_days").as("_n"), col("_xm"))
      .select(col(keyCol), col("n_days"),
        when(col("_den") =!= 0, graft.queries.Det.r6(
          col("_num").cast("double") / col("_den").cast("double")))
          .as("slope"),
        when(col("_den") =!= 0, graft.queries.Det.r6(
          (dc(col("_sy"), 12) * col("_den") - col("_num") * dc(col("_sx"), 10))
            .cast("double") /
            (dc(col("_n"), 8) * col("_den")).cast("double")))
          .as("intercept"),
        when(col("_den") =!= 0, graft.queries.Det.r6(
          (dc(col("_sy"), 12) * col("_den") - col("_num") * dc(col("_sx"), 10))
            .cast("double") /
            (dc(col("_n"), 8) * col("_den")).cast("double") +
            col("_num").cast("double") / col("_den").cast("double") *
              (col("_xm") + horizonDays).cast("double")))
          .as("forecast"))
  }

  /** DuckDB spelling of [[linearTrendForecast]] over an `events`-shaped
    * source (`key`/`ts` spelled by the caller).
    */
  def linearTrendForecastOracleSql(
      tableExpr: String,
      keyCol: String,
      tsCol: String,
      horizonDays: Int): String = {
    val r6 = graft.queries.Oracle.r6 _
    def dc(x: String, p: Int) = s"CAST($x AS DECIMAL($p,0))"
    s"WITH daily AS (SELECT $keyCol AS k, CAST($tsCol AS DATE) AS _day, " +
      s"count(*)::BIGINT AS _y FROM $tableExpr GROUP BY 1, 2), " +
      "keyed AS (SELECT k, CAST(date_diff('day', " +
      "min(_day) OVER (PARTITION BY k), _day) AS BIGINT) AS _x, _y " +
      "FROM daily), " +
      "mom AS (SELECT k, count(*)::BIGINT AS n_days, " +
      "sum(_x)::BIGINT AS _sx, sum(_y)::BIGINT AS _sy, " +
      "sum(_x * _y)::BIGINT AS _sxy, sum(_x * _x)::BIGINT AS _sxx, " +
      "max(_x)::BIGINT AS _xm FROM keyed GROUP BY k), " +
      "nd AS (SELECT k, n_days, _sx, _sy, _xm, " +
      dc(s"${dc("n_days", 8)} * ${dc("_sxy", 16)} - " +
        s"${dc("_sx", 10)} * ${dc("_sy", 12)}", 24) + " AS _num, " +
      dc(s"${dc("n_days", 8)} * ${dc("_sxx", 16)} - " +
        s"${dc("_sx", 10)} * ${dc("_sx", 10)}", 24) + " AS _den " +
      "FROM mom) " +
      s"SELECT k AS $keyCol, n_days, " +
      "CASE WHEN _den <> 0 THEN " +
      r6("CAST(_num AS DOUBLE) / CAST(_den AS DOUBLE)") +
      " END AS slope, " +
      "CASE WHEN _den <> 0 THEN " +
      r6(s"CAST(${dc("_sy", 12)} * _den - _num * ${dc("_sx", 10)} AS DOUBLE)" +
        s" / CAST(${dc("n_days", 8)} * _den AS DOUBLE)") +
      " END AS intercept, " +
      "CASE WHEN _den <> 0 THEN " +
      r6(s"CAST(${dc("_sy", 12)} * _den - _num * ${dc("_sx", 10)} AS DOUBLE)" +
        s" / CAST(${dc("n_days", 8)} * _den AS DOUBLE) + " +
        "CAST(_num AS DOUBLE) / CAST(_den AS DOUBLE) * " +
        s"CAST(_xm + $horizonDays AS DOUBLE)") +
      " END AS forecast FROM nd"
  }

  /** Kaplan–Meier survival over entity lifetimes derived from an event
    * log — the churn/retention curve with CORRECT censoring, which the
    * naive "average lifetime of departed users" systematically biases
    * short. An entity's lifetime is last-event day − first-event day;
    * entities last seen within `censorDays` of the corpus's final day
    * are right-CENSORED (still alive as far as the log knows), not
    * deaths.
    *
    * Estimator: at each duration t with d(t) deaths,
    * S(t) = Π_{t'≤ t} (1 − d/n) over the at-risk counts
    * n(t) = N − Σ_{t'<t}(d + c). All counts are exact integers; the
    * product runs as a DECIMAL prefix sum of r6-rounded ln factors (the
    * q_zipf log discipline) with the final exp r6'd — and the exact
    * integer triple (n_at_risk, d, c) is emitted alongside, so the
    * curve's inputs hash-check even if a libm ulp ever wiggled the
    * exponential (it has not, across either engine, on any tested SF).
    *
    * Scale shape: one per-entity aggregate, one per-duration aggregate,
    * then windows over the DURATION-indexed frame — bounded by the
    * calendar span, not the entity count (the bounded-frame window
    * discipline of [[graft.ops.Quantiles]]).
    */
  def kaplanMeier(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      censorDays: Int = 7): DataFrame = {
    val lives = events.groupBy(col(entityCol))
      .agg(to_date(min(col(tsCol))).as("_first"),
        to_date(max(col(tsCol))).as("_last"))
    val horizon = events.agg(to_date(max(col(tsCol))).as("_hmax"))
    val spans = lives.crossJoin(broadcast(horizon))
      .select(
        datediff(col("_last"), col("_first")).cast("long").as("t"),
        (datediff(col("_hmax"), col("_last")) >= censorDays)
          .cast("long").as("_death"))
    val byT = spans.groupBy("t")
      .agg(sum(col("_death")).as("d"),
        (count(lit(1)) - sum(col("_death"))).as("c"))
    val total = Window.orderBy("t")
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val prior = Window.orderBy("t").rowsBetween(Long.MinValue, -1)
    val atRisk = byT
      .withColumn("n_at_risk",
        sum(col("d") + col("c")).over(total) -
          coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      .withColumn("_lnf",
        when(col("d") > 0, graft.queries.Det.r6(
          log((col("n_at_risk") - col("d")).cast("double") /
            col("n_at_risk").cast("double"))))
          .otherwise(lit(0.0)))
    atRisk
      .withColumn("km_log",
        sum(col("_lnf").cast("decimal(25,6)")).over(
          Window.orderBy("t").rowsBetween(Long.MinValue, 0)))
      .filter(col("d") > 0)
      .select(col("t"), col("n_at_risk"), col("d").as("n_deaths"),
        col("c").as("n_censored"), col("km_log").cast("double").as("km_log"),
        graft.queries.Det.r6(exp(col("km_log").cast("double")))
          .as("survival"))
      .orderBy("t")
  }

  /** DuckDB spelling of [[kaplanMeier]] over an `events`-shaped source.
    */
  def kaplanMeierOracleSql(
      tableExpr: String,
      entityCol: String,
      tsCol: String,
      censorDays: Int): String = {
    val r6 = graft.queries.Oracle.r6 _
    s"WITH lives AS (SELECT $entityCol AS ent, " +
      s"CAST(min($tsCol) AS DATE) AS _first, " +
      s"CAST(max($tsCol) AS DATE) AS _last FROM $tableExpr GROUP BY 1), " +
      s"h AS (SELECT CAST(max($tsCol) AS DATE) AS _hmax FROM $tableExpr), " +
      "spans AS (SELECT CAST(date_diff('day', _first, _last) AS BIGINT) " +
      "AS t, CASE WHEN date_diff('day', _last, h._hmax) >= " +
      s"$censorDays THEN 1 ELSE 0 END AS _death " +
      "FROM lives CROSS JOIN h), " +
      "byt AS (SELECT t, sum(_death)::BIGINT AS d, " +
      "(count(*) - sum(_death))::BIGINT AS c FROM spans GROUP BY t), " +
      "ar AS (SELECT *, sum(d + c) OVER () - " +
      "coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND 1 PRECEDING), 0) AS n_at_risk FROM byt), " +
      "lf AS (SELECT *, CASE WHEN d > 0 THEN " +
      r6("ln(CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))") +
      " ELSE 0.0 END AS _lnf FROM ar), " +
      "km AS (SELECT *, sum(CAST(_lnf AS DECIMAL(25,6))) OVER " +
      "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS km_log FROM lf) " +
      "SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_deaths, " +
      "c AS n_censored, CAST(km_log AS DOUBLE) AS km_log, " +
      r6("exp(CAST(km_log AS DOUBLE))") + " AS survival " +
      "FROM km WHERE d > 0 ORDER BY t"
  }

  /** Classical additive seasonal decomposition of the daily value
    * series: `y = trend + seasonal + resid`. Trend is the centered
    * `period`-day moving average (full windows only — NULL on the
    * series' first/last `period/2` days, the textbook contract);
    * seasonal is the day-of-period mean of the detrended series,
    * re-centered to sum to zero across the period; resid is the rest.
    *
    * Scale shape: the input aggregate (one row per day) is tiny no
    * matter how large the event table is — the only data-sized work is
    * the initial groupBy(date), a partial-aggregable shuffle; the
    * unpartitioned windows run over the day-count frame (10³ rows for
    * years of data), which is the right single-partition size.
    *
    * Determinism: the daily sums route through DECIMAL ([[dsum]]);
    * the moving average is a decimal window sum over already-r6'd
    * doubles with one division; day-of-week means are [[davg]]-style;
    * each output is rounded once.
    */
  def seasonalDecompose(
      events: DataFrame,
      tsCol: String,
      valCol: String): DataFrame = {
    val period = 7
    val half = period / 2
    val daily = events
      .groupBy(to_date(col(tsCol)).as("d"))
      .agg(dsum(col(valCol)).as("y"))
    val mw = Window.orderBy("d").rowsBetween(-half, half)
    val trended = daily
      .withColumn("_n", count(lit(1)).over(mw))
      .withColumn("_s", sum(col("y").cast("decimal(25,6)")).over(mw))
      .withColumn("trend",
        when(col("_n") === period,
          r6(col("_s").cast("double") / lit(period.toDouble))))
      .withColumn("dow", dayofweek(col("d")))
    val detr = trended.withColumn("_detr", col("y") - col("trend"))
    val sRaw = detr.filter(col("trend").isNotNull)
      .groupBy("dow")
      .agg(davg(col("_detr")).as("_sraw"))
    val sMean = sRaw.agg(davg(col("_sraw")).as("_smean"))
    val seasonal = sRaw.crossJoin(broadcast(sMean))
      .select(col("dow"), r6(col("_sraw") - col("_smean")).as("seasonal"))
    detr.join(seasonal, Seq("dow"), "left")
      .select(
        col("d"), col("y"), col("trend"), col("seasonal"),
        when(col("trend").isNotNull,
          r6(col("y") - col("trend") - col("seasonal"))).as("resid"))
      .orderBy("d")
  }

  /** DuckDB spelling of [[seasonalDecompose]] (period 7, daily). */
  def seasonalDecomposeOracleSql(
      table: String,
      tsCol: String,
      valCol: String): String = {
    val r6 = graft.queries.Oracle.r6 _
    val dsum = graft.queries.Oracle.dsum _
    "WITH daily AS (SELECT CAST(" + tsCol + " AS DATE) AS d, " +
      dsum(valCol) + s" AS y FROM $table GROUP BY 1), " +
      "tr AS (SELECT d, y, (dayofweek(d) + 1)::INT AS dow, " +
      "count(*) OVER w AS n, " +
      "CAST(CAST(sum(CAST(y AS DECIMAL(25,6))) OVER w AS VARCHAR) AS DOUBLE) AS s " +
      "FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING " +
      "AND 3 FOLLOWING)), " +
      "tt AS (SELECT d, y, dow, CASE WHEN n = 7 THEN " +
      r6("s / 7.0") + " END AS trend FROM tr), " +
      "sr AS (SELECT dow, " +
      r6("CAST(CAST(sum(CAST(y - trend AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / count(*)") +
      " AS sraw FROM tt WHERE trend IS NOT NULL GROUP BY 1), " +
      "sm AS (SELECT " +
      r6("CAST(CAST(sum(CAST(sraw AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / count(*)") +
      " AS smean FROM sr), " +
      "se AS (SELECT dow, " + r6("sraw - smean") +
      " AS seasonal FROM sr CROSS JOIN sm) " +
      "SELECT d, y, trend, seasonal, CASE WHEN trend IS NOT NULL THEN " +
      r6("y - trend - seasonal") + " END AS resid " +
      "FROM tt LEFT JOIN se USING (dow) ORDER BY d"
  }
}
