package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query: `build` runs the operator over a testdata
  * dir, `oracleSql` is the single DuckDB statement its result is
  * hash-checked against, and `iterative` is the scripted spelling of
  * that oracle for gates whose single statement cannot run at sweep
  * scale (see [[IterOracle]]).
  */
final case class Gate(
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    iterative: Option[IterOracle] = None,
)

object Gate {

  /** The entries as a map keyed by gate name. A name given twice throws
    * instead of silently keeping the last copy, as a `Map` literal or
    * `++` would.
    */
  def registry(entries: (String, Gate)*): Map[String, Gate] = {
    val repeated = entries.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }
    require(repeated.isEmpty,
      s"gate registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }
}
