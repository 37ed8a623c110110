package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.util.Sessions

/** The benchmark's JVM side. `run.py` generates the inputs, launches this
  * once per run, and checks and reports what it writes:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --gates G1,G2,... --data DIR --work DIR
  *
  * `--data` holds the generated inputs, `--work` receives `result.json`,
  * `spans.jsonl` (traced runs) and every file the engine writes.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val gates = opt.getOrElse("gates", "").split(",").toSeq.filter(_.nonEmpty)

    val cpus = Runtime.getRuntime.availableProcessors
    // built the way graft.Bench builds its session: local[nproc] with a
    // shuffle width of nproc
    val spark = Sessions.get("perfbench", s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val res = mutable.LinkedHashMap[String, Any]("workload" -> workload, "nproc" -> cpus)
    Tracer.enabled = trace
    if (trace) new SparkTrace(spark).start()

    val timed = new Timed(res)
    workload match {
      case "taxi_pipeline" => Taxi.run(spark, seed, seconds, data, work, res, timed)
      case _ => Gates.run(spark, gates, seconds, data, work, res, timed)
    }

    res("jvm") = Map(
      "code_cache_mb" -> Probe.codeCacheMb(),
      "heap_peak_mb" -> Probe.heapPeakMb())
    // stopping the context drains Spark's listener bus, so every traced
    // job, plan and trigger is recorded before the spans are written
    spark.stop()
    res("peak_rss_mb") = Probe.peakRssMb()
    if (trace) {
      val spans = Tracer.all.map { s =>
        Js(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs.toMap))
      }
      Files.write(Paths.get(work, "spans.jsonl"), (spans.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    Files.write(Paths.get(work, "result.json"), Js(res).getBytes("UTF-8"))
  }
}

/** Brackets the timed phase: records when it starts (which ends set-up)
  * and the JVM and host counters across it.
  */
final class Timed(res: mutable.Map[String, Any]) {
  private var gc0, jit0 = 0L
  private var stat0 = (0L, 0L)
  private var t0 = 0.0

  def begin(): Unit = {
    t0 = Tracer.nowMs()
    res("first_timed_ms") = t0
    gc0 = Probe.gcMs(); jit0 = Probe.jitMs(); stat0 = Probe.cpuStat()
  }

  def end(): Unit = {
    res("timed_ms") = Seq(t0, Tracer.nowMs())
    res("gc_ms") = Probe.gcMs() - gc0
    res("jit_ms") = Probe.jitMs() - jit0
    res("steal_pct") = Probe.stealPct(stat0, Probe.cpuStat())
  }
}

/** A failed operation: what ran and why it failed. */
object Ops {
  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .replaceAll("\\s+", " ").take(300)

  def clearCaches(spark: SparkSession): Unit = {
    // the same hygiene graft.Bench applies between gates: drop cached
    // plans and checkpoint generations, sparing the shared cluster-stage
    // memo that the registry computes once per session and directory
    val spare = graft.queries.ExtQueries.sharedStageIds
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!spare(id)) rdd.unpersist(blocking = false)
    }
  }
}
