package graft.util

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the reference's session builder
  * (`/root/reference/src/utils/spark_builder.py:4-18`: appName + master +
  * WARN log level) and adds the scale defaults the reference leaves
  * implicit: UTC session timezone (SURVEY.md §5.3 oracle parity), AQE on,
  * shuffle parallelism sized to the machine instead of Spark's 200
  * default, and nanosecond-parquet compatibility (the driver's `events`
  * table is TIMESTAMP(NANOS), which Spark 4 otherwise refuses to read).
  */
object Sessions {

  /** SQL confs that are runtime-settable; applied both at build time and
    * defensively onto externally built sessions (Verify/Bench/driver).
    */
  val sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone"             -> "UTC",
    "spark.sql.adaptive.enabled"             -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled"    -> "true",
    // runtime bloom-filter join pruning: build a bloom sketch on the
    // selective side, pre-filter the big side BEFORE its shuffle — the
    // 100 TB semi-join-reduction technique, stated explicitly rather
    // than relied on as a default (PlanSpec proves it injects)
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // events.parquet stores TIMESTAMP(NANOS); read as long nanos and
    // convert explicitly (see sources.Tables.events).
    "spark.sql.legacy.parquet.nanosAsLong"   -> "true",
    // filterless MIN/MAX/COUNT queries answer from parquet footer
    // statistics instead of scanning row groups — metadata-latency for
    // the "how big is this table" class of query at any table size.
    // Takes effect on the DataSource V2 scan path only (parquet defaults
    // to V1 here; PlanSpec proves PushedAggregation reaches the scan
    // when V2 is selected)
    "spark.sql.parquet.aggregatePushdown"    -> "true",
    // collect_list/collect_set aggregates run on ObjectHashAggregate,
    // which abandons hashing for a sort-based pass after only 128
    // distinct groups per partition (the conservative default) — for
    // the grouped-adjacency operators (adamicAdar r11) that turns a
    // hash aggregate over millions of small bounded lists into a full
    // sort of the stream. Entries here are degree-capped arrays (≤ a
    // few KB), so memory per group is bounded by construction; let the
    // hash path run.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
    // AQE coalesces post-shuffle partitions down to its 1 MB floor; it
    // costs that decision on SHUFFLE bytes and cannot see downstream
    // row amplification, so a compact grouped-adjacency stage (16 MB)
    // gets squeezed to 16 partitions and the 30x posexplode after it
    // then runs at half the machine's width (q_adamic r11: the wedge
    // stage lost 2x parallelism). parallelismFirst already targets
    // defaultParallelism; lowering the floor lets it actually get
    // there for compact-but-amplifying stages, and is a no-op for
    // genuinely large stages (bytes/parallelism dominates the max).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // recursive CTEs (q_recursive): the 1M-row default runaway guard
    // trips on legitimate data growth (hit at the sf1 scale point);
    // keep a guard, but sized for the engine's target scale
    "spark.sql.cteRecursionRowLimit"         -> "1000000000",
  )

  /** Entries in Spark's generated-class cache (the static
    * `spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU keyed by (context classloader, source), and in local mode the
    * compile check at planning time and the executor task's compile run
    * under different classloaders, so each source takes two entries. The
    * engine replays the same plans inside one JVM (fixpoint rounds,
    * micro-batches, repeated passes over a gate list), and a replayed
    * cycle larger than the cache never hits it: each class is evicted
    * before its next use. One q_kcore + q_sessions_stream pass loads
    * 115 entries, so at 100 the next q_kcore pass compiled 38-47 of its
    * 57 classes again (DECISIONS #44); 1,000 holds that cycle with room
    * to spare.
    */
  private[graft] val CodegenCacheEntries = 1000

  def get(
      appName: String,
      master: String = "local[*]",
      shufflePartitions: Int = 32,
  ): SparkSession = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // static: read once, when Spark's code generator is first used;
      // `tune` cannot set it on a running session
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      // custom-operator machinery (graft.plans): planner strategy for the
      // native as-of join. No-op if the JVM session already exists —
      // tune() below re-registers through the public experimental hook.
      .withExtensions(_.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy))
    sqlConfs.foreach { case (k, v) => b.config(k, v) }
    LocalFs.hadoopConfs.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** Apply graft's runtime-settable confs to an existing session, and
    * select the fork-free local filesystem ([[LocalFs]]) on its Hadoop
    * configuration. `FileContext` filesystems are built per use, so
    * streaming checkpoints started after this call get it; Hadoop's
    * `FileSystem` cache keeps any `file:` instance created before it.
    */
  def tune(spark: SparkSession): SparkSession = {
    sqlConfs.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    LocalFs.hadoopConfs.foreach { case (k, v) =>
      if (hadoopConf.get(k) != v) hadoopConf.set(k, v)
    }
    graft.plans.AsOfJoinPlan.register(spark)
    graft.functions.SqlFunctions.register(spark)
    spark
  }
}
