package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkTestBase
import graft.etl.Transformations
import graft.ml.Trainer
import graft.sources.Tables

/** Real HTTP round-trips against the serving endpoint — request/response
  * parity with the reference Flask API (`src/api/app.py:20-51`),
  * exercised with the README's example payload (`README.md:302-310`).
  */
class HttpScoringSpec extends SparkTestBase {

  private lazy val model = {
    val clean = Transformations.cleanAndTransform(Tables.csvInfer(spark, FixtureCsv))
    Trainer.trainFareModel(clean, "",
      Trainer.TrainConfig(sampleFraction = 1.0, maxRows = 0, maxIter = 3))._1
  }

  private def withServer[A](f: (HttpClient, Int) => A): A = {
    val server = HttpScoring.start(spark, model, 0) // ephemeral port
    try f(HttpClient.newHttpClient(), server.getAddress.getPort)
    finally server.stop(0)
  }

  private def post(c: HttpClient, port: Int, body: String): HttpResponse[String] =
    c.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/predict"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  // README.md:302-310 example request
  private val examplePayload =
    """{
      |  "trip_distance": 3.2,
      |  "trip_duration_min": 14.5,
      |  "passenger_count": 1,
      |  "pickup_hour": 18,
      |  "payment_type": 1
      |}""".stripMargin

  test("POST /predict: example payload returns a 2-dp prediction") {
    withServer { (c, port) =>
      val resp = post(c, port, examplePayload)
      assert(resp.statusCode() == 200)
      val Json.JObj(f) = Json.parse(resp.body()): @unchecked
      val Json.JNum(pred) = f("prediction_total_amount"): @unchecked
      assert(pred.isFinite)
      assert(pred == Scoring.round2(pred), "response must be 2-dp rounded")
      // the HTTP answer equals the engine-level scoring path
      val direct = Scoring.predict(spark, model,
        Scoring.ScoringRequest(3.2, 14.5, 1, 18, 1))
      assert(pred == direct)
    }
  }

  test("POST /predict with -Dgraft.serve.fast=true answers identically (r13)") {
    // the fast path (driver-side featurize + GBT predict) is wired at
    // server start; same payload must produce the same 2-dp answer as
    // the parity transform path
    val slow = withServer { (c, port) =>
      val Json.JObj(f) = Json.parse(post(c, port, examplePayload).body()): @unchecked
      val Json.JNum(p) = f("prediction_total_amount"): @unchecked
      p
    }
    System.setProperty("graft.serve.fast", "true")
    try {
      val fast = withServer { (c, port) =>
        val resp = post(c, port, examplePayload)
        assert(resp.statusCode() == 200)
        val Json.JObj(f) = Json.parse(resp.body()): @unchecked
        val Json.JNum(p) = f("prediction_total_amount"): @unchecked
        p
      }
      assert(fast == slow, s"fast $fast vs transform $slow")
    } finally System.clearProperty("graft.serve.fast")
  }

  test("POST /predict: missing field → 400 with the reference's message") {
    withServer { (c, port) =>
      val resp = post(c, port,
        """{"trip_distance": 3.2, "trip_duration_min": 14.5,
          |"passenger_count": 1, "pickup_hour": 18}""".stripMargin)
      assert(resp.statusCode() == 400)
      assert(resp.body().contains("Missing field: payment_type"))
    }
  }

  test("POST /predict: python-style coercion accepts strings, rejects junk") {
    withServer { (c, port) =>
      // float("3.2") and int("1") succeed in the reference's coercion
      val ok = post(c, port,
        """{"trip_distance": "3.2", "trip_duration_min": 14.5,
          |"passenger_count": "1", "pickup_hour": 18, "payment_type": 1}""".stripMargin)
      assert(ok.statusCode() == 200)
      // int("1.5") raises ValueError → 400 Invalid type
      val bad = post(c, port,
        """{"trip_distance": 3.2, "trip_duration_min": 14.5,
          |"passenger_count": "1.5", "pickup_hour": 18, "payment_type": 1}""".stripMargin)
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("Invalid type for field: passenger_count"))
      // int truncates JSON doubles like Python int(3.9) == 3
      val trunc = post(c, port,
        """{"trip_distance": 3.2, "trip_duration_min": 14.5,
          |"passenger_count": 1.9, "pickup_hour": 18, "payment_type": 1}""".stripMargin)
      assert(trunc.statusCode() == 200)
    }
  }

  test("POST /predict: java-only numeric spellings rejected like Python") {
    withServer { (c, port) =>
      // Python float("3.2f") raises ValueError; Java parses it — must 400
      val javaFloat = post(c, port,
        """{"trip_distance": "3.2f", "trip_duration_min": 14.5,
          |"passenger_count": 1, "pickup_hour": 18, "payment_type": 1}""".stripMargin)
      assert(javaFloat.statusCode() == 400)
      assert(javaFloat.body().contains("Invalid type for field: trip_distance"))
      // hex floats are Java-only too
      val hexFloat = post(c, port,
        """{"trip_distance": "0x1.8p1", "trip_duration_min": 14.5,
          |"passenger_count": 1, "pickup_hour": 18, "payment_type": 1}""".stripMargin)
      assert(hexFloat.statusCode() == 400)
      // Python accepts underscore separators: float("1_000.5") == 1000.5
      val underscore = post(c, port,
        """{"trip_distance": "1_000.5", "trip_duration_min": 14.5,
          |"passenger_count": 1, "pickup_hour": 18, "payment_type": 1}""".stripMargin)
      assert(underscore.statusCode() == 200)
    }
  }

  test("Python's inf/infinity/nan spellings parse, signed and in any case") {
    def dist(d: String) = HttpScoring.parseRequest(
      s"""{"trip_distance": "$d", "trip_duration_min": 14.5,
        |"passenger_count": 1, "pickup_hour": 18, "payment_type": 1}""".stripMargin)
      .map(_.trip_distance)
    assert(dist("inf") == Right(Double.PositiveInfinity))
    assert(dist("-Infinity") == Right(Double.NegativeInfinity))
    assert(dist("+iNf") == Right(Double.PositiveInfinity))
    assert(dist("NaN").exists(_.isNaN) && dist("nan").exists(_.isNaN))
    for (bad <- Seq("infinit", "nanx"))
      assert(dist(bad) == Left("Invalid type for field: trip_distance"), bad)
    // the scoring CLI coerces through the same function
    def cli(d: String) = ScoringMain.parseLine(s"$d,10,1,8,1").map(_.trip_distance)
    assert(cli("inf") == Right(Double.PositiveInfinity))
    assert(cli("-Infinity") == Right(Double.NegativeInfinity))
    assert(cli("NaN").exists(_.isNaN) && cli("nan").exists(_.isNaN))
    for (bad <- Seq("infinit", "nanx"))
      assert(cli(bad).left.exists(_.startsWith("bad number")), bad)
  }

  test("fast flag + non-conforming model fails AT SERVER START with a clear message (r14)") {
    // the flag is read once at process/server start; a pipeline the
    // FastScorer can't replicate must refuse to serve, not throw on
    // the first request. Three non-conformances, each with its own
    // message: missing model stage, wrong handleInvalid, and a
    // reordered assembler layout (mutated + restored on the shared
    // fitted pipeline — Params on fitted stages are mutable).
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{StringIndexerModel, VectorAssembler}
    import spark.implicits._
    // 1) no StringIndexerModel stage at all
    val bare = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("a")).setOutputCol("v")))
      .fit(Seq((1.0, 2.0)).toDF("a", "b"))
    val e1 = intercept[RuntimeException](Scoring.fastScorer(bare))
    assert(e1.getMessage.contains("no StringIndexerModel stage"), e1.getMessage)
    val indexer = model.stages.collectFirst { case m: StringIndexerModel => m }.get
    val asm = model.stages.collectFirst { case m: VectorAssembler => m }.get
    // 2) handleInvalid != keep — and the HTTP server with the flag ON
    // must die at start(), before any request exists
    indexer.setHandleInvalid("skip")
    try {
      val e2 = intercept[IllegalArgumentException](Scoring.fastScorer(model))
      assert(e2.getMessage.contains("handleInvalid=keep"), e2.getMessage)
      System.setProperty("graft.serve.fast", "true")
      try {
        val e3 = intercept[IllegalArgumentException](HttpScoring.start(spark, model, 0))
        assert(e3.getMessage.contains("handleInvalid=keep"), e3.getMessage)
      } finally System.clearProperty("graft.serve.fast")
    } finally indexer.setHandleInvalid("keep")
    // 3) assembler layout the hardcoded featurizer doesn't match
    val saved = asm.getInputCols
    asm.setInputCols(Array("trip_distance"))
    try {
      val e4 = intercept[IllegalArgumentException](Scoring.fastScorer(model))
      assert(e4.getMessage.contains("unexpected assembler layout"), e4.getMessage)
    } finally asm.setInputCols(saved)
    // restored pipeline conforms again
    Scoring.fastScorer(model)
  }

  test("POST /predict: malformed unicode escape → 400, not 500") {
    withServer { (c, port) =>
      // built by concatenation: scalac pre-processes \uXXXX even in
      // triple-quoted literals, so the bad escape can't be written inline
      val resp = post(c, port, "{\"trip_distance\": \"\\" + "uZZZZ\"}")
      assert(resp.statusCode() == 400, s"got ${resp.statusCode()}: ${resp.body()}")
    }
  }

  test("POST /predict: malformed JSON → 400, not a hang or a 200") {
    withServer { (c, port) =>
      val resp = post(c, port, "{not json!")
      assert(resp.statusCode() == 400)
      assert(resp.body().contains("error"))
    }
  }

  test("GET /: health probe answers with the reference's status JSON") {
    withServer { (c, port) =>
      val resp = c.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("NYC Taxi API Model Loaded OK"))
    }
  }
}
