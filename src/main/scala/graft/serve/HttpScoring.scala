package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession

/** HTTP serving endpoint, request/response-compatible with the
  * reference's Flask API (`/root/reference/src/api/app.py:20-51`):
  *
  *  - `POST /predict` — JSON body with the five [[Scoring.ScoringRequest]]
  *    fields; responds `{"prediction_total_amount": <2dp>}`. Missing
  *    field → 400 `{"error": "Missing field: X"}`; un-coercible value →
  *    400 `{"error": "Invalid type for field: X"}`; anything else → 500
  *    `{"error": ...}` — the same paths and messages as the reference.
  *  - `GET /` — health probe, `{"status": "NYC Taxi API Model Loaded OK"}`.
  *
  * Field coercion mirrors Python's `float()`/`int()` constructors
  * (`app.py:10-16,27-31`): numbers, numeric strings, and booleans
  * coerce; `int` truncates JSON doubles (Python `int(3.9) == 3`) but
  * REJECTS fractional strings (`int("3.2")` raises).
  *
  * Built on the JDK's `com.sun.net.httpserver` — zero dependencies, one
  * in-process Spark session shared across requests, exactly like the
  * reference's single Flask worker. Scoring itself is [[Scoring.predict]]
  * (1-row relation → pipeline transform → HALF_EVEN 2-dp).
  */
object HttpScoring {

  /** (field, coercer) in the reference's declaration order — validation
    * reports the FIRST missing/invalid field, like the Python dict scan.
    */
  private val RequiredFields: Seq[(String, Json.Value => AnyVal)] = Seq(
    "trip_distance" -> toFloat _,
    "trip_duration_min" -> toFloat _,
    "passenger_count" -> toInt _,
    "pickup_hour" -> toInt _,
    "payment_type" -> toInt _,
  )

  // Python float()/int() string grammars (sign, digits with optional
  // underscore separators, decimal/exponent; inf/nan for float). Java's
  // parsers are LOOSER — they accept "3.2f", "1.5d", and hex floats,
  // which Python rejects with ValueError → must be a 400 here too.
  // Shared with [[WebScoring]], whose form fields arrive as strings and
  // go through the same constructors in the reference (`webapp.py:40-43`).
  private[serve] val PyFloat = ("^[+-]?((\\d(_?\\d)*(\\.(\\d(_?\\d)*)?)?" +
    "|\\.\\d(_?\\d)*)([eE][+-]?\\d(_?\\d)*)?|(?i:inf(inity)?|nan))$").r
  private[serve] val PyInt = "^[+-]?\\d(_?\\d)*$".r

  /** Python `float(str)`: accepts the Python grammar only. Java reads
    * the IEEE specials only as `Infinity` and `NaN`, so Python's `inf`,
    * `infinity` and `nan` (any case, signed) are respelled first.
    */
  private[serve] def pyFloat(s: String): Double = {
    val t = s.trim
    if (PyFloat.findFirstIn(t).isEmpty)
      throw new NumberFormatException(
        s"could not convert string to float: '$s'")
    t.replace("_", "")
      .replaceFirst("(?i)inf(inity)?$", "Infinity")
      .replaceFirst("(?i)nan$", "NaN")
      .toDouble
  }

  /** Python `int(str)`: digits only — `int("3.2")` raises. */
  private[serve] def pyInt(s: String): Int = {
    val t = s.trim
    if (PyInt.findFirstIn(t).isEmpty)
      throw new NumberFormatException(
        s"invalid literal for int() with base 10: '$s'")
    t.replace("_", "").toInt
  }

  private def toFloat(v: Json.Value): Double = v match {
    case Json.JNum(d) => d
    case Json.JStr(s) => pyFloat(s) // float("3.2") accepts; float("3.2f") raises
    case Json.JBool(b) => if (b) 1.0 else 0.0 // float(True) == 1.0
    case _ => throw new NumberFormatException("not a float")
  }

  private def toInt(v: Json.Value): Int = v match {
    case Json.JNum(d) => d.toInt // int(3.9) == 3: truncation
    case Json.JStr(s) => pyInt(s) // int("3.2") raises in Python too
    case Json.JBool(b) => if (b) 1 else 0
    case _ => throw new NumberFormatException("not an int")
  }

  /** Parse + validate a /predict body into a scoring request, or a
    * reference-format error message.
    */
  private[serve] def parseRequest(body: String): Either[String, Scoring.ScoringRequest] =
    Json.parse(body) match {
      case Json.JObj(fields) =>
        // fold in declaration order, stopping at the FIRST missing or
        // un-coercible field — the Python dict scan's behavior
        val coerced = RequiredFields.foldLeft[Either[String, Map[String, AnyVal]]](
          Right(Map.empty)) {
          case (left @ Left(_), _) => left
          case (Right(acc), (name, coerce)) =>
            fields.get(name) match {
              case None => Left(s"Missing field: $name")
              case Some(v) =>
                try Right(acc + (name -> coerce(v)))
                catch {
                  case scala.util.control.NonFatal(_) =>
                    Left(s"Invalid type for field: $name")
                }
            }
        }
        coerced.map(vals => Scoring.ScoringRequest(
          trip_distance = vals("trip_distance").asInstanceOf[Double],
          trip_duration_min = vals("trip_duration_min").asInstanceOf[Double],
          passenger_count = vals("passenger_count").asInstanceOf[Int],
          pickup_hour = vals("pickup_hour").asInstanceOf[Int],
          payment_type = vals("payment_type").asInstanceOf[Int]))
      case _ => Left("Invalid JSON: object expected")
    }

  /** Start the server on `port` (0 → ephemeral, read back via
    * `getAddress.getPort`). Caller owns the lifecycle: `stop(0)` when
    * done.
    */
  def start(spark: SparkSession, model: PipelineModel, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // -Dgraft.serve.fast=true flips /predict onto the driver-side
    // featurize-and-score path (Scoring.FastScorer, ~µs of tree walks);
    // default stays the reference-parity 1-row transform. Predictions
    // are bit-for-bit identical (TrainerSpec pins it).
    val fast: Option[Scoring.FastScorer] =
      if (sys.props.get("graft.serve.fast").contains("true"))
        Some(Scoring.fastScorer(model))
      else None

    def respond(ex: HttpExchange, code: Int, json: String): Unit = {
      val bytes = json.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      try ex.getResponseBody.write(bytes)
      finally ex.close()
    }

    server.createContext("/predict", (ex: HttpExchange) =>
      try {
        if (ex.getRequestMethod != "POST")
          respond(ex, 405, Json.obj("error" -> "method not allowed"))
        else {
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          parseRequest(body) match {
            case Left(err) => respond(ex, 400, Json.obj("error" -> err))
            case Right(req) =>
              val pred = fast.fold(Scoring.predict(spark, model, req))(_.predict(req))
              respond(ex, 200, Json.obj("prediction_total_amount" -> pred))
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          respond(ex, e match {
            case _: Json.ParseError => 400
            case _ => 500
          }, Json.obj("error" -> Option(e.getMessage).getOrElse(e.toString)))
      })

    server.createContext("/", (ex: HttpExchange) =>
      try respond(ex, 200, Json.obj("status" -> "NYC Taxi API Model Loaded OK"))
      catch { case scala.util.control.NonFatal(_) => ex.close() })

    server.start()
    server
  }
}
