package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling — the first job anyone runs against an unfamiliar
  * 100 TB table: per-column cardinality, range, and exact quartiles in
  * ONE scan. Statistics here are the exact forms (count distinct,
  * percentile_disc); at full corpus scale the drop-ins are the sketch
  * versions (`approx_count_distinct`, `approx_percentile`) — this
  * operator pins the exact semantics those approximations are judged
  * against, the same contract as q_percentile vs q_percentile_approx.
  */
object Profile {

  /** Numeric profile: one output row per column with non-null count,
    * distinct count, min/max, and discrete quartiles (actual data
    * values, so results are engine-exact — interpolated percentiles
    * would not be).
    *
    * Shape: `unpivot` melts the projected columns into (column, v)
    * pairs — a narrow per-row expansion, columns × rows, no join — and
    * ONE hash aggregation groups by column name. The group count equals
    * the (small) profiled-column count, so the reduce side is trivial;
    * the sort inside percentile_disc is per-group. Null cells are
    * excluded by unpivot's melt semantics; `n_nonnull` reports what
    * remained.
    */
  def numeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val doubled = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    doubled
      .unpivot(Array.empty[Column], cols.map(col).toArray, "column", "v")
      .groupBy("column")
      .agg(
        count(col("v")).as("n_nonnull"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).as("mn"),
        max(col("v")).as("mx"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)").as("q1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("median"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)").as("q3"))
  }

  /** Order-independent table content checksum: one row —
    * (n_rows, checksum DECIMAL(38,0)) — equal iff two tables hold the
    * same multiset of rows over `cols`. The cross-environment equality
    * primitive: verify a replicated/migrated/re-partitioned copy
    * without sorting or shipping either table — each side computes its
    * one-row fingerprint locally and only the 16-byte results travel.
    *
    * Per row: md5 over the '|'-joined column strings (an explicit
    * per-column cast contract — callers must pass columns whose string
    * form is engine-stable: integers, strings, decimals; NOT raw
    * doubles, whose formatting differs by engine), take 15 hex chars
    * (60 bits, sign-safe in an int64), SUM as DECIMAL(38,0). Addition
    * is commutative, so any partitioning/order gives the identical
    * checksum; 38 digits absorb ~10^20 rows of 60-bit terms before
    * overflow could wrap.
    *
    * The null-vs-empty ambiguity of concat_ws is removed by coalescing
    * each column through the printable sentinel `<null>` — both engines
    * must spell the identical token (see the q_checksum oracle SQL), and
    * it must stay plain ASCII so the source survives line-oriented
    * tooling.
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    val parts = cols.map(c => coalesce(col(c).cast("string"), lit("<null>")))
    val rowHash = conv(substring(md5(concat_ws("|", parts: _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    df.agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(rowHash), lit(0).cast("decimal(38,0)")).as("checksum"))
  }

  /** Partition-level checksum manifest: [[tableChecksum]] grouped by a
    * partition key — the change-detection primitive of an incremental
    * pipeline. Comparing two runs' manifests names exactly WHICH
    * partitions changed (re-process those, skip the rest), where the
    * whole-table checksum only says that SOMETHING did. Same
    * commutative-decimal-sum row hash, so the manifest is identical
    * under any physical layout; one hash-partitioned aggregate on the
    * (usually date-shaped, uniform) partition key.
    */
  def partitionManifest(
      df: DataFrame, partCol: String, cols: Seq[String]): DataFrame = {
    val parts = cols.map(c => coalesce(col(c).cast("string"), lit("<null>")))
    val rowHash = conv(substring(md5(concat_ws("|", parts: _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    df.groupBy(col(partCol))
      .agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(rowHash), lit(0).cast("decimal(38,0)")).as("checksum"))
  }

  /** Profile DIFF — the data-contract monitor: [[numeric]] computed
    * over two snapshots (yesterday/today, upstream/downstream,
    * reference/current) and joined per column, with a `drifted` verdict
    * when ANY tracked statistic moved (null-safe compare, so a column
    * going all-NULL trips it too). The per-column stats are the exact
    * forms, so the verdict has no tolerance knob to mis-set; a
    * tolerance-based variant belongs downstream of this exact report.
    * Scale: two [[numeric]] scans + a columns-sized join.
    */
  def diff(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, suf: String) =
      numeric(df, cols).select(
        col("column"),
        col("n_nonnull").as(s"n$suf"),
        col("n_distinct").as(s"distinct$suf"),
        col("mn").as(s"mn$suf"),
        col("mx").as(s"mx$suf"),
        col("median").as(s"median$suf"))
    side(a, "_a").join(side(b, "_b"), Seq("column"), "full_outer")
      .withColumn("drifted",
        !(col("n_a") <=> col("n_b")) || !(col("distinct_a") <=> col("distinct_b")) ||
          !(col("mn_a") <=> col("mn_b")) || !(col("mx_a") <=> col("mx_b")) ||
          !(col("median_a") <=> col("median_b")))
  }

  /** Data-skipping audit: per-partition min/max zone statistics for
    * `valCol` plus, for the band predicate `valCol BETWEEN lo AND hi`,
    * whether the partition is provably skippable (its whole range falls
    * outside the band) and the scan-row bound a pruning reader would
    * pay. This is THE 100 TB lever made inspectable: parquet/iceberg
    * readers prune on exactly these stats, and this op quantifies — per
    * partition, before running anything — how much of the table a given
    * predicate actually has to touch. The output is partition-count
    * sized; one hash aggregate over the partition key produces it.
    *
    * Nulls sit outside any band (SQL three-valued BETWEEN), matching
    * what a stats-pruning reader assumes when null_count is tracked
    * separately — `n_rows` counts them, min/max ignore them.
    */
  def pruneAudit(
      df: DataFrame,
      partCol: String,
      valCol: String,
      lo: Double,
      hi: Double): DataFrame = {
    require(lo <= hi, s"empty band: [$lo, $hi]")
    df.groupBy(col(partCol))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(valCol)).as("min_v"),
        max(col(valCol)).as("max_v"))
      .withColumn("skippable",
        coalesce(col("max_v") < lit(lo) || col("min_v") > lit(hi), lit(true)))
      .withColumn("scan_rows",
        when(col("skippable"), lit(0L)).otherwise(col("n_rows")))
  }
}
