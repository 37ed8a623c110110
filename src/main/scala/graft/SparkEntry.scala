package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CorpusQueries, DriftQueries, EvalQueries, ExtQueries, Gate, IterOracle, MiningQueries, PrepQueries, RefQueries, ScaleQueries, SelectionQueries, SignalQueries, SqlSurfaceQueries, StructuralQueries, TpchDeepQueries}
import graft.util.Sessions

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator-inventory entry (SURVEY.md §2) is a [[Gate]]: a
  * DataFrame builder over a testdata dir plus the DuckDB statement it
  * is hash-checked against. Adding a gate means adding one `Gate` entry
  * to the `gates` registry of its `*Queries` object; this object merges
  * the 14 registries and derives [[queries]], [[oracleSql]] and
  * [[iterativeOracles]] from them.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Runs the
    * SURVEY §7.2 vertical slice (CSV scan → clean → join → aggregate).
    */
  def entry(spark: SparkSession): DataFrame = {
    Sessions.tune(spark)
    RefQueries.qE2e(spark, "/root/testdata/sf0.001")
  }

  /** The per-object registries as one map; a name registered by two
    * objects throws instead of one silently shadowing the other. */
  private[graft] def merge(objects: Map[String, Gate]*): Map[String, Gate] =
    Gate.registry(objects.flatMap(_.toSeq): _*)

  private lazy val gates: Map[String, Gate] = merge(
    RefQueries.gates, ExtQueries.gates, SqlSurfaceQueries.gates,
    PrepQueries.gates, CorpusQueries.gates, AnalyticsQueries.gates,
    ScaleQueries.gates, SelectionQueries.gates, TpchDeepQueries.gates,
    DriftQueries.gates, MiningQueries.gates, EvalQueries.gates,
    StructuralQueries.gates, SignalQueries.gates)

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (k, g) =>
      k -> { (s: SparkSession, dir: String) => g.build(Sessions.tune(s), dir) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = gates.map { case (k, g) => k -> g.oracleSql }

  /** Iterative (scripted) oracle spellings for gates whose
    * single-statement oracle cannot run at sweep scale — dumped by
    * Verify as `oracle_iter.json` for tools/check.py; the driver's own
    * compare keeps using [[oracleSql]]. See [[graft.queries.IterOracle]].
    */
  def iterativeOracles: Map[String, IterOracle] =
    gates.collect { case (k, Gate(_, _, Some(it))) => k -> it }

  /** The per-gate cache sweep of [[Verify]] and [[Bench]]: drop every
    * cached plan and every persisted RDD (iterative operators leave
    * result-backing checkpoint blocks, and the ContextCleaner reaps
    * them far slower than 200+ gates make them), except the live
    * shared-stage memo blocks, which are computed once per (session,
    * dir) — the production contract ([[ExtQueries.sharedStageIds]]).
    * The memo's localCheckpoint storage is not CacheManager-tracked,
    * so `clearCache()` cannot orphan it. */
  def clearGateCaches(spark: SparkSession): Unit = {
    val spare = ExtQueries.sharedStageIds
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!spare(id)) rdd.unpersist(blocking = false)
    }
  }
}
