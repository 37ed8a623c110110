package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Sessions.get(
      "graft-verify", s"local[$cpus]", shufflePartitions = cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY: comma-separated query names — dump (and emit
    // oracle SQL for) just those, for fast local iteration on one query.
    // Unset ⇒ the full gate, which is what the driver runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // A builder that throws must NOT silently vanish from the driver's
    // correctness report (round-4 lesson: 7 gates disappeared). On failure
    // we still write a parquet — a one-row error marker whose schema can
    // never match an oracle — so the gate shows up as a loud FAIL, and we
    // collect the messages into verify_errors.json for diagnosis.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_VERIFY_NOCOALESCE (r14, VERDICT r13 task 4): gate
    // names (or "*") whose dump keeps the plan's natural partitioning.
    // coalesce(1) does NOT shuffle — it collapses the ENTIRE upstream
    // plan into one task, which is what OOM'd the q_dbscan dump at sf10
    // while the bench-path count of the same plan succeeded: the
    // instrument, not the operator, was the scale wall. The driver's
    // sf0.01 gate keeps the single-file layout (unset env); local scale
    // sweeps set this for the big gates. Order stays compare-faithful:
    // every gate ends in orderBy, a sorted write lands range-partitioned
    // files in partition-index order, and check.py concatenates
    // sorted(part files) — i.e. index order — so the global sort
    // survives the multi-file layout.
    val noCoalesce = sys.env.get("SPARK_GRAFT_VERIFY_NOCOALESCE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try {
        val res = fn(spark, sfDir)
        val shaped =
          if (noCoalesce(name) || noCoalesce("*")) res else res.coalesce(1)
        shaped.write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        import spark.implicits._
        Seq(msg.take(500)).toDF("_builder_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      SparkEntry.clearGateCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.serve.Json.quote(s)
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // scripted oracle spellings (loops the single-statement form can't
    // express without unrolling) — consumed by tools/check.py only
    def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")
    val iterJson = SparkEntry.iterativeOracles.filter(e => selected(e._1))
      .map { case (k, o) =>
        s"${q(k)}: {${q("setup")}: ${arr(o.setup)}, ${q("loop")}: ${arr(o.loop)}, " +
          s"${q("fixpoint")}: ${q(o.fixpoint)}, ${q("max_rounds")}: ${o.maxRounds}, " +
          s"${q("final")}: ${q(o.finalSql)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_iter.json"), iterJson)
    spark.stop()
  }
}
