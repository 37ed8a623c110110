package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Cross-JVM streaming-restart drill (r12, ADVICE r11 item 1).
  *
  * EventStreamsSpec proves kill-and-resume exactly-once WITHIN one JVM;
  * the r11 advisor showed the guarantee previously broke ACROSS JVMs: the
  * staged-slice path was an in-memory memo of a fresh temp dir, so a
  * resumed checkpoint in a new process saw a brand-new staging dir,
  * treated every slice as unseen, and silently re-ingested the whole
  * stream as duplicate batches. The r12 fix keys the stage dir by a
  * content fingerprint of the source and publishes it atomically with
  * a `_STAGED` marker, so a fresh JVM resumes against the exact files
  * the checkpoint's file-source log committed.
  *
  * This main is the receipt: run it TWICE as separate spark-submit
  * processes over the same work dir —
  *
  *   runMain graft.StreamRestartDrill interrupt <sfDir> <workDir>
  *   runMain graft.StreamRestartDrill resume    <sfDir> <workDir>
  *
  * Phase `interrupt` starts the session_window bridge and kills the
  * query after 2 committed micro-batches (the staged replay has 6, so
  * results are provably incomplete at exit — the phase prints the
  * partial session count). Phase `resume`, in a NEW JVM with an empty
  * staging memo, resumes from the checkpoint and prints a one-line
  * JSON verdict comparing the streamed result to the in-JVM batch
  * session_window aggregate: `"exactly_once":true` means no row was
  * lost or duplicated across the process boundary.
  */
object StreamRestartDrill {
  def main(args: Array[String]): Unit = {
    val Array(phase, sfDir, workDir) = args
    val spark = graft.util.Sessions.get("graft-restart-drill", "local[8]", 8)
    phase match {
      case "interrupt" =>
        val out = EventStreams.replayEventsDirToParquet(
          spark, sfDir, workDir, EventStreams.sessionWindowQuery,
          interruptAfterBatches = Some(2))
        val partial = spark.read.parquet(out)
          .filter(col("user_id") >= 0).count()
        println(s"""{"phase":"interrupt","partial_sessions":$partial}""")
      case "resume" =>
        val out = EventStreams.replayEventsDirToParquet(
          spark, sfDir, workDir, EventStreams.sessionWindowQuery, resume = true)
        import graft.queries.Det
        val streamed = spark.read.parquet(out)
          .filter(col("user_id") >= 0)
          .select("session_start", "session_end", "user_id",
            "n_events", "sum_value")
        val batch = graft.sources.Tables.events(spark, sfDir)
          .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            Det.dsum(col("value")).as("sum_value"))
          .select(
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("user_id"), col("n_events"), col("sum_value"))
        val missing = batch.exceptAll(streamed).count()
        val extra = streamed.exceptAll(batch).count()
        val n = streamed.count()
        println(s"""{"phase":"resume","sessions":$n,""" +
          s""""missing":$missing,"duplicated_or_extra":$extra,""" +
          s""""exactly_once":${missing == 0 && extra == 0}}""")
      case other => sys.error(s"unknown drill phase: $other")
    }
    spark.stop()
  }
}
