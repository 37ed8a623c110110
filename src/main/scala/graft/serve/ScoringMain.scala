package graft.serve

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession

import graft.util.Sessions

/** CLI serving entry point — the engine-level replacement for the
  * reference's Flask front-ends (`/root/reference/src/api/app.py`,
  * `src/webapp/webapp.py`): load the pipeline model once per process,
  * then score records line by line.
  *
  * Input protocol (stdin, one record per line): either 5 CSV fields
  * `trip_distance,trip_duration_min,passenger_count,pickup_hour,
  * payment_type`, or 4 fields omitting the duration — then the webapp's
  * `distance / 12 mph` heuristic fills it (`webapp.py:46-53`). Output:
  * one `prediction` per line, 2-dp HALF_EVEN like the reference's
  * Python `round`. Parse errors report `ERROR: <reason>` on the line —
  * the analog of the Flask 400 path.
  */
object ScoringMain {

  /** Parse one input line into a request (the `app.py:25-31` type
    * validation/coercion step): fields go through Python's `float()`
    * and `int()` grammars, shared with [[HttpScoring]], so `3.2f` and
    * `0x1p3` are errors and `1_000` is a number, as in the reference.
    */
  def parseLine(line: String): Either[String, Scoring.ScoringRequest] = {
    import HttpScoring.{pyFloat, pyInt}
    val parts = line.trim.split(",").map(_.trim)
    try {
      parts.length match {
        case 5 =>
          Right(Scoring.ScoringRequest(
            pyFloat(parts(0)), pyFloat(parts(1)),
            pyInt(parts(2)), pyInt(parts(3)), pyInt(parts(4))))
        case 4 =>
          val dist = pyFloat(parts(0))
          Right(Scoring.ScoringRequest(
            dist, Scoring.estimateDurationMin(dist),
            pyInt(parts(1)), pyInt(parts(2)), pyInt(parts(3))))
        case n => Left(s"expected 4 or 5 fields, got $n")
      }
    } catch {
      case e: NumberFormatException => Left(s"bad number: ${e.getMessage}")
    }
  }

  /** Score an iterator of input lines → one output line each. */
  def scoreLines(
      spark: SparkSession,
      model: PipelineModel,
      lines: Iterator[String]): Iterator[String] =
    lines.filter(_.trim.nonEmpty).map { line =>
      parseLine(line) match {
        case Right(req) => Scoring.predict(spark, model, req).toString
        case Left(err) => s"ERROR: $err"
      }
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1,
      "usage: ScoringMain <modelPath> [--http <port>]")
    // local mode forced, as the reference's model_loader does
    // (`model_loader.py:26-33`): serving must not depend on a cluster
    val spark = Sessions.get("graft-scoring", "local[*]")
    val model = Scoring.load(spark, args(0))
    if (args.length >= 3 && args(1) == "--http") {
      // Flask-parity HTTP mode: POST /predict, GET / (HttpScoring)
      val server = HttpScoring.start(spark, model, args(2).toInt)
      println(s"serving on port ${server.getAddress.getPort}")
      Thread.currentThread().join() // serve until killed
    } else {
      scoreLines(spark, model, scala.io.Source.stdin.getLines())
        .foreach(println)
      spark.stop()
    }
  }
}
