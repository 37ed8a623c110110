package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.etl.EventsPipeline
import graft.sources.Tables
import graft.util.Sessions

/** Benchmark main: the BASELINE.md staged ETL slice (read / clean /
  * write, mirroring the reference's stage report at
  * `/root/reference/src/pipeline/main_etl.py:93-99`) over a CSV export
  * of the `events` table, plus per-query wall-clock for every declared
  * query (q_e2e excluded — it IS the staged slice). Prints ONE JSON line.
  *
  * The staged slice runs at MATCHED scale: the events table is
  * replicated (unique ids, untimed prep) up to the baseline's 12,380,927
  * cleaned-row count, so the per-row stage ratios are comparable to
  * BASELINE.md's numbers instead of being fixed-cost dominated. The
  * replication factor reports as `slice_rows`; override the target with
  * SPARK_GRAFT_SLICE_ROWS (0 disables replication).
  *
  * Stage attribution follows the reference convention: "read" includes
  * the eager two-pass schema inference, "clean" is lazy plan build, all
  * execution cost lands in "write" (count + curated + agg writes against
  * a cached input).
  *
  * Measurement hygiene (round 3): the untimed staging write leaves ~1.5
  * GB of dirty pages, and the first read afterwards pays the OS
  * writeback instead of the engine's parse cost (observed 11–72 s for a
  * 2 s steady-state read — pure container-I/O noise). Staging therefore
  * ends with a `sync` plus one untimed byte-level pass over the CSV, so
  * the timed "read" measures the inference read path at steady state —
  * what the 1000-executor number would actually scale from. Per-query
  * timings are steady-state too (run twice, second run reported):
  * single-JVM first-run numbers are dominated by one-time whole-stage
  * codegen + JIT of each operator family (observed 18.7 s vs 3.0 s warm
  * for the first dedup-family query), which a long-running cluster pays
  * once per executor lifetime, not per query.
  *
  * Noise robustness (round 12): this host's hypervisor steals CPU in
  * bursts (SCALE.md §10m/§10p — adjacent same-jar runs differed 10–25%
  * with different queries spiking each time), so queries whose first
  * timed run exceeds SPARK_GRAFT_BENCH_REPEAT_SEC (default 2 s) are
  * re-run twice and their OFFICIAL number (the `queries` map and
  * `total`) is the min of the three — round-over-round comparisons
  * cite t_min. `query_stats` carries per-repeated-query
  * t_min/t_med/spread/steal_pct and the top level carries the
  * whole-run `steal_pct`, so a contended host is machine-visible in
  * the artifact itself. NOTE: totals from rounds ≤11 summed single
  * runs — compare those to r12+ per-query t_min, not to `value`.
  *
  * A failing stage or query records its wall-clock AND an entry in the
  * JSON's `errors` map — a regression can't hide inside a plausible
  * timing. `train_gbt` times the reference-config fare-model fit at the
  * reference's training scale (300k rows, BASELINE.md row 8) on the
  * deterministic [[graft.ml.SyntheticTaxi]] frame (coalesced to 8
  * partitions — 60 boosting iterations × depth-5 level jobs over 32
  * tiny partitions is pure scheduler overhead, 122 s vs 43 s); its
  * RMSE/MAE report as `gbt_rmse`/`gbt_mae` for cross-round trend
  * tracking. It runs AFTER the query loop so its GC debris can't
  * pollute query timings.
  */
object Bench {

  /** JVM-state probes (r14, VERDICT r13 task 1): the q_gram
    * investigation needed to distinguish "the host stole CPU" from
    * "this JVM converged into a slow state" (GC pressure, JIT/code-
    * cache exhaustion, interpreter fallback). These three counters —
    * cumulative GC pause ms, cumulative JIT compilation ms, code-cache
    * occupancy — are the cheap machine-readable split: a slow state
    * with flat GC and flat JIT on a quiet host is a compiled-code
    * quality problem (deopt/megamorphic/interpreted), not an
    * environment problem. Deltas ride in `query_stats` next to
    * steal_pct for every repeated query. Same JVM as the executors
    * (local mode), so these see the whole engine.
    */
  private def gcMs(): Long = {
    val it = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    var s = 0L
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
    s
  }

  private def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(-1L)

  /** Spark's generated-code compiles so far in this JVM, and their
    * Janino ms: a gate's delta of zero means every plan it replayed hit
    * the codegen cache ([[graft.util.Sessions.CodegenCacheEntries]]).
    */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def codegenMs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L

  /** Used bytes across the CodeHeap/CodeCache pools, in MB. JIT output
    * lives here; at the default 240 MB reserve a full cache disables
    * compilation for the rest of the run — exactly the kind of
    * converged-slow state the dump exists to name.
    */
  private def codeCacheMb(): Double = {
    val it = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.iterator()
    var s = 0L
    while (it.hasNext) {
      val p = it.next()
      if (p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
        s += p.getUsage.getUsed
    }
    s / 1e6
  }

  /** One /proc/stat cpu-line snapshot: (steal jiffies, total jiffies).
    * Steal is the hypervisor-contention counter — jiffies this guest's
    * runnable vCPUs spent waiting for physical CPU. None off-Linux.
    */
  private def cpuStat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((if (f.length > 7) f(7) else 0L, f.sum))
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Steal percentage between two snapshots (None when unmeasurable). */
  private def stealPct(
      a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0)
      yield 100.0 * (s1 - s0) / (t1 - t0)

  /** Per-gate floor table (r14, VERDICT r13 task 7): BENCH_floors.json
    * holds the min-across-runs per-gate wall-clock — the number every
    * round-over-round comparison actually cited once the r12 noise
    * protocol landed ("take the min across the round's runs"). Bench
    * MERGES its own t_min into the table after each full run (floor =
    * min(old, new)) and appends one provenance line per run to
    * BENCH_floors_runs.jsonl, so next round's deltas start from floors
    * instead of re-adjudicating host state. The builder resets a
    * gate's floor when its plan changes (a floor from retired code is
    * not a target). Parsing is a flat {"gate":sec,...} regex — the
    * file is written by this object, not foreign input.
    */
  private val floorRe = """"([^"]+)":([-0-9.eE+]+)""".r

  private[graft] def readFloors(path: String): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      floorRe.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private[graft] def writeFloors(path: String, floors: Map[String, Double]): Unit = {
    val line = floors.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        s""""$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}"""
      }
      .mkString("{", ",", "}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // default shuffle width = core count (the driver-contract behavior);
    // the env override exists for bisection experiments only
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toInt
    val spark = Sessions.get("graft-bench", s"local[$cpus]", shufflePartitions)
    val times = mutable.LinkedHashMap[String, Double]()
    val errors = mutable.LinkedHashMap[String, String]()
    val benchStat0 = cpuStat()
    def timed[A](name: String)(f: => A): Option[A] = {
      val t0 = System.nanoTime()
      val res =
        try Some(f)
        catch {
          case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(200)
            None
        }
      times(name) = (System.nanoTime() - t0) / 1e9
      res
    }

    // Per-query cache hygiene (round-9, VERDICT r8 item 2): iterative
    // operators leave result-backing checkpoint blocks behind, and the
    // ContextCleaner's periodic GC (30 min) never fires inside a bench
    // run — by round 8 the block manager carried EVERY prior graph
    // query's generations into later queries (q_containment 2.9 s
    // isolated → 63.7 s in-context). Clearing runs OUTSIDE the timers:
    // each timed number is the query against a clean block manager,
    // which is what its isolated/SCALE.md number measures.
    //
    // The sweep SPARES live shared-stage blocks (r11, VERDICT r10 item
    // 2): the memoized cluster chain is computed once per (session,
    // dir) — the production contract — so its consumers time only their
    // own survivor stage; the chain's full cost is still represented in
    // the bench by the un-memoized q_dedup_clusters gate. Both are
    // `SparkEntry.clearGateCaches`, which Verify runs per gate too.

    // SPARK_GRAFT_BENCH_QUERIES: comma-separated query names — skip the
    // staged ETL slice + GBT and time just those queries (steady-state,
    // same warm-up discipline). Local profiling aid; unset ⇒ full bench,
    // which is what the driver runs.
    val onlyQueries = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    if (onlyQueries.isDefined) {
      val soloStats = mutable.LinkedHashMap[String, String]()
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(e => onlyQueries.exists(_.contains(e._1)))
        .foreach { case (name, fn) =>
          try fn(spark, sfDir).count()
          catch { case scala.util.control.NonFatal(_) => () }
          SparkEntry.clearGateCaches(spark)
          val (gc0, jit0) = (gcMs(), jitMs())
          val (cg0, cgMs0) = (codegenCompiles(), codegenMs())
          timed(name)(fn(spark, sfDir).count())
          SparkEntry.clearGateCaches(spark)
          soloStats(name) = s"""{"gc_ms":${gcMs() - gc0},""" +
            s""""jit_ms":${jitMs() - jit0},""" +
            s""""codegen_compiles":${codegenCompiles() - cg0},""" +
            s""""codegen_ms":${codegenMs() - cgMs0},""" +
            s""""code_cache_mb":${codeCacheMb().round}}"""
        }
      // "train_gbt" is a stage, not a registry query; accept it here so
      // the fit's run-to-run variance can be measured in isolation.
      // rmse/mae ride in the solo stats so an A/B of training internals
      // can prove result-identity from the same artifact it times.
      if (onlyQueries.exists(_.contains("train_gbt")))
        timed("train_gbt") {
          val taxi = graft.ml.SyntheticTaxi.frame(spark, 300000).coalesce(8)
          graft.ml.Trainer.trainFareModel(taxi, "",
            graft.ml.Trainer.TrainConfig(sampleFraction = 1.0, maxRows = 0))
        }.foreach { case (_, m) =>
          soloStats("train_gbt") =
            s"""{"rmse":${graft.serve.Json.format(m.rmse)},""" +
              s""""mae":${graft.serve.Json.format(m.mae)}}"""
        }
      // same errors discipline as the full path: a throwing query keeps
      // its `errors` entry but is dropped from the timings — a fail-fast
      // wall-clock would otherwise read as a phantom speedup
      val ok0 = times.filterNot { case (k, _) => errors.contains(k) }
      val qs0 = ok0.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val errs0 = errors.map { case (k, v) =>
        s"${graft.serve.Json.quote(k)}:${graft.serve.Json.quote(v)}"
      }.mkString("{", ",", "}")
      val stats0 = soloStats
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"""{"metric":"total","value":${ok0.values.sum},"unit":"sec","queries":$qs0,"query_stats":$stats0,"errors":$errs0,"sf":"$sfDir"}""")
      spark.stop()
      return
    }

    // prep (untimed): materialize the raw CSV layer at the baseline's
    // row count, as it exists on object storage in the reference
    // environment. crossJoin(range(factor)) replicates without skew;
    // event ids are re-keyed unique so downstream semantics hold.
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench").toString
    val sliceTarget = sys.env.getOrElse("SPARK_GRAFT_SLICE_ROWS", "12380927").toLong
    val events = Tables.events(spark, sfDir)
    val baseRows = events.count()
    val factor = math.max(1L, (sliceTarget + baseRows - 1) / baseRows)
    val staged =
      if (factor == 1L) events
      else events
        .crossJoin(spark.range(factor).select(col("id").as("_repl")))
        .withColumn("event_id", col("event_id") * factor + col("_repl"))
        .drop("_repl")
    val sliceRows = baseRows * factor
    // 32 files, not events' (often 1) input partitioning: a single-file
    // 800 MB CSV caps the read stage at sizeBytes/maxPartitionBytes ≈ 7
    // concurrent splits; a multi-file layout (what any real lake has)
    // lets all 32 cores carry both the write and the inference pass.
    Tables.exportCsv(staged.repartition(32), s"$tmp/events_csv")
    // quiesce the staging write (still untimed): flush dirty pages, then
    // one byte-level pass so the timed read measures parsing+inference,
    // not the container's writeback of the line above
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    spark.read.text(s"$tmp/events_csv").count()

    // read stage: MEDIAN-OF-3 (round-6 verdict item 1a). Even after the
    // sync + byte-pass quiesce, single-shot read spanned 3.1–49.8 s for
    // identical code across rounds — container I/O noise, not engine
    // cost. Three back-to-back inference reads, median reported as
    // "read"; all three land in the full artifact (`read_runs`) so the
    // spread the median adjudicated away stays visible.
    val readRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
    val raw = timed("read") {
      var df: org.apache.spark.sql.DataFrame = null
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        df = Tables.csvInfer(spark, s"$tmp/events_csv") // eager infer pass
        df.head(5) // the reference's show(5) without stdout noise
        readRuns += (System.nanoTime() - t0) / 1e9
      }
      df
    }
    if (readRuns.size == 3) times("read") = readRuns.sorted.apply(1)
    raw.foreach { r =>
      timed("read_typed") {
        // production read path: explicit schema, one pass — same actions as
        // "read" (head 5), so the delta IS the schema-inference tax
        val df = Tables.csvTyped(spark, s"$tmp/events_csv", r.schema)
        df.head(5)
        df
      }
    }
    val clean = raw.flatMap(r => timed("clean")(EventsPipeline.clean(r))) // lazy: plan only
    clean.foreach { c =>
      timed("write") {
        c.cache()
        c.count()
        EventsPipeline.writeCurated(c, s"$tmp/curated")
        EventsPipeline.writeAggregates(c, s"$tmp/agg", 0.05)
      }
      c.unpersist()
    }

    // quiesce the curated/agg writes before the query loop: the early
    // (alphabetically-first) queries otherwise time the container's
    // writeback of the write stage on top of their own work (observed
    // q_agg 0.39 s clean vs 4.1 s when timed against dirty pages)
    new ProcessBuilder("sync").inheritIO().start().waitFor()

    // Noise-robust per-query protocol (r12, VERDICT r11 task 1): this
    // host shows hypervisor CPU-steal bursts — adjacent same-jar runs
    // differed 10–25% total with DIFFERENT queries spiking each run
    // (SCALE.md §10m/§10p), which made every round-over-round perf
    // comparison a prose adjudication. Queries whose first timed run
    // exceeds the repeat threshold (default 2 s — below it, spread is
    // JVM jitter, not worth 2× wall-clock) run twice more; the OFFICIAL
    // number (`queries` map, `total`) is t_min — the run least polluted
    // by external contention, the one SCALE.md comparisons cite — and
    // t_med / spread (t_max − t_min) / the steal% measured across the
    // repeats land in `query_stats`, so a future noise episode is
    // machine-visible (high spread + high steal on unchanged code)
    // instead of a judgment call.
    val repeatThreshold =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT_SEC", "2.0").toDouble
    val queryStats = mutable.LinkedHashMap[String, String]()
    def fmtS(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // Slow-state dump (r14, VERDICT r13 task 1): when a repeated gate's
    // t_min exceeds SPARK_GRAFT_BENCH_SLOW_FACTOR (default 2×) times
    // its committed floor, dump what's needed to NAME the state —
    // executed plan, per-subtree codegen bytecode stats, the gate's
    // GC/JIT/code-cache deltas, the BLAS backend — to
    // BENCH_slowdump_<gate>.txt. Exists because r13's driver bench held
    // q_gram at 8.96 s with 0.002% steal while same-jar floors read
    // 2.48 s: two converged states and no artifact to tell GC pressure
    // from deopt from interpreter fallback.
    // floors are per-core-count (r15, VERDICT r14 task 3): the r14
    // driver's 8-core pass merged into the shared table and left
    // 32-core runs slow-dumping against floors unreachable at 32
    // threads (q_modularity 5.663 from c8). The historical file name
    // stays bound to the official 32-core convention; any other core
    // count reads/writes its own table.
    val floorsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOORS",
      if (cpus == "32") "BENCH_floors.json" else s"BENCH_floors_c$cpus.json")
    val floors = readFloors(floorsPath)
    val slowFactor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_FACTOR", "2.0").toDouble
    def slowDump(
        name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        header: String): Unit = try {
      // stage-level attribution (r15, VERDICT r14 task 2): for iterative
      // operators the final executedPlan is a bare Scan ExistingRDD of
      // the loop's last localCheckpoint — it names nothing (the r14
      // q_modularity dump). A listener records every stage of the
      // re-run, so the dump ranks the hot stages INSIDE the loop by
      // executor task time whatever the final plan shape is.
      val stageRows =
        new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String, String)]()
      val stageListener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct
          stageRows.add((si.stageId, si.taskMetrics.executorRunTime,
            si.numTasks, si.name, scopes.mkString(",")))
        }
      }
      spark.sparkContext.addSparkListener(stageListener)
      val df =
        try {
          val d = fn(spark, sfDir)
          d.count() // finalize the AQE plan so executedPlan is the real one
          // drain the async listener bus: poll until the observed stage
          // count is stable rather than a fixed sleep — on a loaded
          // driver (the very state slow dumps diagnose) a fixed 300 ms
          // could cut off the hottest stage's completion event. Bounded
          // at 3 s.
          var seen = -1; var stable = 0; var waitedMs = 0
          while (stable < 2 && waitedMs < 3000) {
            Thread.sleep(100); waitedMs += 100
            val n = stageRows.size()
            if (n == seen) stable += 1 else { stable = 0; seen = n }
          }
          d
        } finally spark.sparkContext.removeSparkListener(stageListener)
      val sb = new StringBuilder(header)
      val hot = {
        import scala.jdk.CollectionConverters._
        stageRows.asScala.toSeq.sortBy(-_._2).take(20)
      }
      sb ++= s"== hottest stages of the re-run (${stageRows.size()} total, by executor run time) ==\n"
      hot.foreach { case (id, ms, nTasks, nm, scopes) =>
        sb ++= s"stage $id runMs=$ms tasks=$nTasks $nm ops=[$scopes]\n"
      }
      sb ++= (try s"blas=${dev.ludovic.netlib.blas.BLAS.getInstance.getClass.getName}\n"
      catch { case scala.util.control.NonFatal(e) => s"blas=unavailable(${e.getMessage})\n" })
      sb ++= s"== executed plan ==\n${df.queryExecution.executedPlan}\n"
      val subs = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan)
      sb ++= s"== whole-stage codegen: ${subs.size} subtrees ==\n"
      subs.zipWithIndex.foreach { case ((subtree, code, st), i) =>
        sb ++= s"-- subtree $i bytecode=$st codeChars=${code.length}\n$subtree\n"
      }
      // generated source of the largest subtree — where an over-limit
      // method (JIT refuses >8000 bytecode bytes) would live
      subs.sortBy(-_._2.length).headOption.foreach { case (_, code, _) =>
        sb ++= s"== largest subtree source (first 60k chars) ==\n${code.take(60000)}\n"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_slowdump_$name.txt"), sb.toString)
      System.err.println(s"[bench] slow-state dump written: BENCH_slowdump_$name.txt")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] slow dump for $name failed: $e")
    }

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (name != "q_e2e") {
        try fn(spark, sfDir).count() // untimed codegen/JIT warm-up pass
        // NonFatal only: the timed run records query errors, but an OOM
        // or interrupt here must not be masked into a garbage timing
        catch { case scala.util.control.NonFatal(_) => () }
        // the timed run starts from a clean block manager (the warm-up
        // is for JIT/codegen state, not cache warmth — op-internal
        // caches rebuilt by the timed run are part of its honest cost)
        SparkEntry.clearGateCaches(spark)
        val st0 = cpuStat()
        val (gc0, jit0) = (gcMs(), jitMs())
        val (cg0, cgMs0) = (codegenCompiles(), codegenMs())
        timed(name)(fn(spark, sfDir).count())
        SparkEntry.clearGateCaches(spark)
        if (!errors.contains(name) && times(name) > repeatThreshold) {
          val runs = mutable.ArrayBuffer(times(name))
          for (_ <- 1 to 2) {
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).count()
              runs += (System.nanoTime() - t0) / 1e9
            } catch { case scala.util.control.NonFatal(_) => () }
            SparkEntry.clearGateCaches(spark)
          }
          val steal = stealPct(st0, cpuStat())
          val (gcD, jitD) = (gcMs() - gc0, jitMs() - jit0)
          val (cgD, cgMsD) = (codegenCompiles() - cg0, codegenMs() - cgMs0)
          val sorted = runs.sorted
          times(name) = sorted.head
          queryStats(name) =
            s"""{"t_min":${fmtS(sorted.head)},""" +
              s""""t_med":${fmtS(sorted(sorted.size / 2))},""" +
              s""""spread":${fmtS(sorted.last - sorted.head)}""" +
              steal.map(s => s""","steal_pct":${fmtS(s)}""").getOrElse("") +
              s""","gc_ms":$gcD,"jit_ms":$jitD""" +
              s""","codegen_compiles":$cgD,"codegen_ms":$cgMsD""" +
              s""","code_cache_mb":${fmtS(codeCacheMb())}}"""
          floors.get(name).filter(f => sorted.head > slowFactor * f)
            .foreach { f =>
              slowDump(name, fn,
                s"slow-state dump: $name t_min=${fmtS(sorted.head)} " +
                  s"floor=${fmtS(f)} (factor ${fmtS(sorted.head / f)})\n" +
                  s"runs=${runs.map(fmtS).mkString(",")} " +
                  s"steal_pct=${steal.map(fmtS).getOrElse("n/a")} " +
                  s"gc_ms=$gcD jit_ms=$jitD codegen_compiles=$cgD " +
                  s"code_cache_mb=${fmtS(codeCacheMb())}\n")
            }
        }
      }
    }

    val gbtStages = mutable.LinkedHashMap[String, Double]()
    val gbtBoth = timed("train_gbt") {
      val taxi = graft.ml.SyntheticTaxi.frame(spark, 300000).coalesce(8)
      graft.ml.Trainer.trainFareModel(taxi, "",
        graft.ml.Trainer.TrainConfig(sampleFraction = 1.0, maxRows = 0),
        (k, v) => gbtStages(s"gbt_$k") = v)
    }
    val gbt = gbtBoth.map(_._2)

    // Serving latency (r11, VERDICT r10 task 6): the reference's stated
    // purpose is near-real-time scoring, yet neither it nor this bench
    // recorded a latency number. Time warm single-row Scoring.predict
    // round trips — 1-row local relation → pipeline transform → head,
    // i.e. the WHOLE in-process serving path including per-request plan
    // analysis (each request is a fresh 1-row plan; nothing is
    // amortized but JIT/codegen, which the warm-up pays). Requests vary
    // across the input domain so no single plan/value is special-cased.
    // Reported in ms as p50/p99/max, kept OUT of `times` — latency is
    // not throughput. BASELINE.md: the reference published no
    // comparable figure.
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // MIN-OF-3 (r12, VERDICT r11 task 7): three independent 200-request
    // sweeps; the official p50/p99/max are the per-statistic minima
    // across sweeps (the convention BASELINE.md names — latency floors,
    // the least contention-polluted view of the serving path), with
    // every sweep's p50 kept in `p50_runs` so the spread stays visible.
    val serveJson = gbtBoth.map { case (model, _) =>
      import graft.serve.Scoring
      def req(i: Int) = Scoring.ScoringRequest(
        0.5 + (i % 40) * 0.25, 5.0 + (i % 30), 1 + i % 4, i % 24, 1 + i % 2)
      (0 until 20).foreach(i => Scoring.predict(spark, model, req(i)))
      val n = 200
      val sweeps = (0 until 3).map { _ =>
        val lat = Array.ofDim[Double](n)
        var i = 0
        while (i < n) {
          val t0 = System.nanoTime()
          Scoring.predict(spark, model, req(i))
          lat(i) = (System.nanoTime() - t0) / 1e6
          i += 1
        }
        java.util.Arrays.sort(lat)
        def pct(p: Double) = lat(math.min(n - 1, math.ceil(p * n).toInt - 1))
        (pct(0.50), pct(0.99), lat(n - 1))
      }
      // fast path (r13, VERDICT r12 task 3): same request mix through
      // Scoring.FastScorer — driver-side featurize + GBT tree walk, no
      // per-request Catalyst analysis. Same min-of-3 convention.
      val scorer = Scoring.fastScorer(model)
      (0 until 20).foreach(i => scorer.predict(req(i)))
      val fastSweeps = (0 until 3).map { _ =>
        val lat = Array.ofDim[Double](n)
        var i = 0
        while (i < n) {
          val t0 = System.nanoTime()
          scorer.predict(req(i))
          lat(i) = (System.nanoTime() - t0) / 1e6
          i += 1
        }
        java.util.Arrays.sort(lat)
        def pct(p: Double) = lat(math.min(n - 1, math.ceil(p * n).toInt - 1))
        (pct(0.50), pct(0.99), lat(n - 1))
      }
      s""""serve_ms":{"n":$n,"sweeps":3,""" +
        s""""p50":${fmt3(sweeps.map(_._1).min)},""" +
        s""""p99":${fmt3(sweeps.map(_._2).min)},""" +
        s""""max":${fmt3(sweeps.map(_._3).min)},""" +
        s""""fast_p50":${fmt3(fastSweeps.map(_._1).min)},""" +
        s""""fast_p99":${fmt3(fastSweeps.map(_._2).min)},""" +
        s""""fast_max":${fmt3(fastSweeps.map(_._3).min)},""" +
        sweeps.map(s => fmt3(s._1)).mkString(""""p50_runs":[""", ",", "]},")
    }.getOrElse("")

    // full escaping via Json.quote: a bare replace would pass raw
    // control chars (ANSI escapes in exception messages) into the one
    // JSON line the driver parses
    def jmap(m: collection.Map[String, String]): String =
      m.map { case (k, v) =>
        s"${graft.serve.Json.quote(k)}:${graft.serve.Json.quote(v)}"
      }.mkString("{", ",", "}")
    // a failed stage/query keeps its entry in `errors` but is DROPPED
    // from the timings map — a fail-fast 0.05s "timing" next to real
    // measurements reads as a phantom 40× speedup in round-over-round
    // comparisons (round-4 advice)
    val ok = times.filterNot { case (k, _) => errors.contains(k) }
    val qs = ok.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val total = times.values.sum
    val gbtStats = gbt // Json.format: NaN/Inf → null, keeps the line valid JSON
      .map(m => s""""gbt_rmse":${graft.serve.Json.format(m.rmse)},""" +
        s""""gbt_mae":${graft.serve.Json.format(m.mae)},""")
      .getOrElse("")
    val readRunsJson =
      if (readRuns.isEmpty) ""
      else readRuns.mkString(""""read_runs":[""", ",", "],")
    // whole-run hypervisor-steal figure: the single number that says
    // whether THIS run's host was quiet (≈0%) or contended — read next
    // to per-query spread before calling any delta a regression
    val runStealJson = stealPct(benchStat0, cpuStat())
      .map(s => s""""steal_pct":${fmt3(s)},""").getOrElse("")
    val queryStatsJson =
      if (queryStats.isEmpty) ""
      else queryStats
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(""""query_stats":{""", ",", "},")
    // fit/evaluate breakdown of train_gbt (round-6 verdict item 8) —
    // kept OUT of `times` so `total` doesn't double-count the stage
    val gbtStagesJson =
      if (gbtStages.isEmpty) ""
      else gbtStages
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(""""gbt_stages":{""", ",", "},")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""errors":${jmap(errors)},"slice_rows":$sliceRows,$runStealJson$queryStatsJson$readRunsJson$gbtStagesJson$serveJson$gbtStats"sf":"$sfDir"}"""
    // Floors merge (r14, VERDICT r13 task 7): fold this run's per-gate
    // numbers (t_min for repeated gates) into BENCH_floors.json as
    // floor = min(old, new), and append one provenance line per run to
    // BENCH_floors_runs.jsonl. Only full runs at the official bench
    // scale (sf0.1 — what BASELINE.md's convention defines floors at)
    // contribute; a builder resets a gate's floor when its plan changes
    // (a floor from retired code is not a target). Disable with
    // SPARK_GRAFT_BENCH_FLOORS_MERGE=0.
    if (sfDir.endsWith("sf0.1") &&
      // bisection runs with a non-contract shuffle width must not set
      // floors the contract config can never reach (the same pollution
      // the per-core tables fixed for cpus)
      !sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS") &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOORS_MERGE", "1") != "0") {
      try {
        val merged = (floors.keySet ++ ok.keySet).map { k =>
          k -> math.min(
            floors.getOrElse(k, Double.MaxValue),
            ok.getOrElse(k, Double.MaxValue))
        }.toMap
        writeFloors(floorsPath, merged)
        val prov =
          s"""{"ts":"${java.time.Instant.now()}","cpus":$cpus,""" +
            s""""sf":"$sfDir",$runStealJson"gates":$qs}""" + "\n"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(floorsPath.stripSuffix(".json") + "_runs.jsonl"),
          prov,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] floors merge failed: $e")
      }
    }

    // every stage/query at full precision → BENCH_full.json (the
    // cross-round comparison artifact; SPARK_GRAFT_BENCH_OUT overrides;
    // empty disables)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    if (out.nonEmpty)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
      }
    // stdout gets a COMPACT line: the driver's BENCH_r{N}.json keeps only
    // a 2000-char stdout tail, and the full ~170-query line (4.6 KB in
    // round 5) overflows it — the tail then holds a truncated fragment
    // and the round artifact carries parsed=null (round-5 verdict item
    // 4). Budgeted to ≤1900 chars: stage metrics + errors always, then
    // queries slowest-first (the ones worth auditing) until the budget
    // is spent; the full map lives in BENCH_full.json.
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val stageKeys = Seq("read", "read_typed", "clean", "write", "train_gbt")
    val stageEntries =
      stageKeys.flatMap(k => ok.get(k).map(v => s""""$k":${d3(v)}"""))
    val restEntries = ok.toSeq.filterNot(e => stageKeys.contains(e._1))
      .sortBy(-_._2).map { case (k, v) => s""""$k":${d3(v)}""" }
    val prefix = s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":"""
    // the compact line carries min/med/spread/steal for the SLOWEST
    // repeated queries (capped — the full map is in BENCH_full.json):
    // those are exactly the entries a round-over-round comparison
    // audits, so the driver's BENCH_r{N}.json stdout tail is enough to
    // distinguish host noise from a plan regression
    val compactStats = {
      val entries = queryStats.toSeq
        .sortBy { case (k, _) => -ok.getOrElse(k, 0.0) }
        .map { case (k, v) => s""""$k":$v""" }
      val cap = 700
      val picked = mutable.ArrayBuffer.empty[String]
      var used = 0
      entries.foreach { e =>
        if (used + e.length + 1 <= cap) { picked += e; used += e.length + 1 }
      }
      if (picked.isEmpty) ""
      else picked.mkString(""""query_stats":{""", ",", "},")
    }
    def suffixStr(omitted: Int) =
      s""","errors":${jmap(errors)},"slice_rows":$sliceRows,$runStealJson$compactStats$serveJson$gbtStats""" +
        s""""queries_omitted":$omitted,"full":"BENCH_full.json","sf":"$sfDir"}"""
    val budget = 1900 - prefix.length - suffixStr(9999).length - 2 // {}
    val picked = scala.collection.mutable.ArrayBuffer(stageEntries: _*)
    var used = stageEntries.map(_.length + 1).sum
    var omitted = 0
    restEntries.foreach { e =>
      if (used + e.length + 1 <= budget) { picked += e; used += e.length + 1 }
      else omitted += 1
    }
    println(prefix + picked.mkString("{", ",", "}") + suffixStr(omitted))
    spark.stop()
    // the staged CSV + write sinks are ~1.6 GB per run; don't leak them
    // across rounds
    graft.streaming.EventStreams.wipeTree(tmp)
  }
}
