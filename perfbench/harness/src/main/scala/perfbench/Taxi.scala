package perfbench

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession

import graft.etl.{EnginePaths, MainEtl}
import graft.ml.Trainer
import graft.serve.{HttpScoring, Scoring}

/** The reference's whole flow: `MainEtl.run` over a raw taxi CSV, the GBT
  * fare model trained on the curated layer it wrote, then an open-loop
  * `/predict` load against a parity server and a fast-path server.
  */
object Taxi {

  /** Parity-path request rate. HttpScoring serves from one dispatch
    * thread and a parity predict plans a one-row query: 50-70 ms on a
    * quiet four-core host, up to 140 ms on a busy one. At this rate a
    * request is served before the next is due even then, so latency
    * measures service, not a queue.
    */
  val ParityRate = 4.0
  /** Fast-path request rate; that path scores in microseconds. */
  val FastRate = 100.0
  /** The reference's training settings but 20 trees instead of 60. A tree
    * is a run of one-task jobs; 60 of them took 24-37 s per fit on four
    * cores, more than one run of this benchmark can spend.
    */
  val Train = Trainer.TrainConfig(maxIter = 20)
  /** Distinct request bodies; each is checked against in-process scoring. */
  val Payloads = 16

  def run(
      spark: SparkSession,
      seed: Long,
      seconds: Double,
      dataDir: String,
      work: String,
      res: mutable.Map[String, Any],
      timed: Timed): Unit = {
    val sc = spark.sparkContext
    val reqs = payloads(seed)

    // The batch job is timed from a fresh JVM, as the reference runs it
    // (one spark-submit per ETL or training job), so nothing warms it.
    timed.begin()
    val paths = EnginePaths.under(s"$work/timed").copy(raw = s"$dataDir/raw.csv")
    val model = batch(spark, paths, res)

    // A scoring server is long-lived: each path is warmed with closed-loop
    // requests before its open-loop window.
    val serve = mutable.LinkedHashMap[String, Any]()
    for ((label, fast, rate, share) <- Seq(("parity", false, ParityRate, 1.5),
        ("fast", true, FastRate, 0.5))) {
      val server = start(spark, model, fast)
      try {
        val port = server.getAddress.getPort
        for (i <- 0 until (if (fast) 200 else 40)) post(port, reqs(i % reqs.size)._2)
        serve(label) = openLoop(port, reqs.map(_._2), seed, rate, seconds * share)
      } finally server.stop(0)
    }
    timed.end()

    // in-process scoring of every distinct body: the expected answers for
    // the HTTP responses, and the serve layer's own latency
    val scorer = Scoring.fastScorer(model)
    serve("expected") = reqs.map { case (r, _) =>
      val t0 = System.nanoTime()
      val p = Tracer.span("serve.predict", sc, root = true)(Scoring.predict(spark, model, r))
      val t1 = System.nanoTime()
      val f = scorer.predict(r)
      val t2 = System.nanoTime()
      Map("predict" -> p, "fast" -> f, "predict_ms" -> (t1 - t0) / 1e6,
        "fast_us" -> (t2 - t1) / 1e3)
    }
    res("serve") = serve
  }

  /** ETL then training: the batch job whose wall time is `batch_s`. */
  private def batch(spark: SparkSession, paths: EnginePaths, res: mutable.Map[String, Any])
      : PipelineModel = {
    val sc = spark.sparkContext
    val rawBytes = dirBytes(new java.io.File(paths.raw))
    val e0 = System.nanoTime()
    val etlStart = Tracer.nowMs()
    val report = Tracer.span("etl.run", sc, root = true) {
      val r = MainEtl.run(spark, paths, show = false)
      // MainEtl reports stage durations, and runs its stages in this
      // order; the spans are laid out from the call's start and end
      val end = Tracer.nowMs()
      var t = etlStart
      for ((name, s) <- Seq("sources.csv_read" -> r.readSec, "etl.clean_plan" -> r.cleanSec,
          "etl.write" -> r.writeSec)) {
        Tracer.child(name, t, t + s * 1000)
        t += s * 1000
      }
      Tracer.child("etl.verify", end - r.verifySec * 1000, end)
      r
    }
    val etlWall = (System.nanoTime() - e0) / 1e9
    val readBack = spark.read.parquet(paths.curated).count()
    val outBytes = dirBytes(new java.io.File(paths.curated)) +
      dirBytes(new java.io.File(paths.aggTripsByHour))

    val stages = mutable.LinkedHashMap[String, Double]()
    val t0 = System.nanoTime()
    val (model, m) = Tracer.span("ml.train", sc, root = true) {
      Trainer.trainFareModel(spark.read.parquet(paths.curated), "", Train,
        onStage = (name, s) => {
          stages(name) = s
          val now = Tracer.nowMs()
          Tracer.child(s"ml.$name", now - s * 1000, now)
        })
    }
    res("etl") = Map("wall_s" -> etlWall, "rows" -> report.rows, "read_back_rows" -> readBack,
      "read_s" -> report.readSec, "clean_s" -> report.cleanSec, "write_s" -> report.writeSec,
      "verify_s" -> report.verifySec, "raw_bytes" -> rawBytes, "out_bytes" -> outBytes)
    res("train") = Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
      "fit_s" -> stages.getOrElse("fit", 0.0), "evaluate_s" -> stages.getOrElse("evaluate", 0.0),
      "rmse" -> m.rmse, "mae" -> m.mae)
    model
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  private def start(spark: SparkSession, model: PipelineModel, fast: Boolean) = {
    // HttpScoring reads the property once, in start
    if (fast) System.setProperty("graft.serve.fast", "true")
    try HttpScoring.start(spark, model, 0)
    finally System.clearProperty("graft.serve.fast")
  }

  /** Seeded distinct request bodies, with the request each encodes. */
  private def payloads(seed: Long): IndexedSeq[(Scoring.ScoringRequest, String)] = {
    val rnd = new java.util.SplittableRandom(seed)
    (0 until Payloads).map { _ =>
      val dist = (rnd.nextInt(30, 2000)) / 100.0
      val r = Scoring.ScoringRequest(dist, Scoring.estimateDurationMin(dist),
        rnd.nextInt(1, 7), rnd.nextInt(0, 24), rnd.nextInt(1, 5))
      (r, s"""{"trip_distance": ${r.trip_distance}, "trip_duration_min": """ +
        s"""${r.trip_duration_min}, "passenger_count": ${r.passenger_count}, """ +
        s""""pickup_hour": ${r.pickup_hour}, "payment_type": ${r.payment_type}}""")
    }
  }

  /** One POST /predict over a fresh connection, written in one piece
    * with TCP_NODELAY so the client adds no Nagle or delayed-ACK wait of
    * its own: (status, body).
    */
  private def post(port: Int, body: String): (Int, String) = {
    val socket = new Socket("127.0.0.1", port)
    try {
      socket.setTcpNoDelay(true)
      val bytes = body.getBytes(UTF_8)
      val head = s"POST /predict HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${bytes.length}\r\n" +
        "Connection: close\r\n\r\n"
      socket.getOutputStream.write(head.getBytes(UTF_8) ++ bytes)
      val resp = new String(socket.getInputStream.readAllBytes(), UTF_8)
      (resp.split(" ", 3)(1).toInt, resp.substring(resp.indexOf("\r\n\r\n") + 4))
    } finally socket.close()
  }

  private val PredRe = """"prediction_total_amount"\s*:\s*([-0-9.eE+]+)""".r

  /** Open loop: request i is due at start + i / rate whatever the server
    * is doing, and its latency runs from that due time, so a stall also
    * delays the requests queued behind it.
    */
  private def openLoop(port: Int, bodies: IndexedSeq[String], seed: Long, rate: Double,
      seconds: Double): Map[String, Any] = {
    val pool = Executors.newFixedThreadPool(8)
    val n = math.max(1, (rate * seconds).round.toInt)
    val periodNs = 1e9 / rate
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val which = Array.fill(n)(rnd.nextInt(bodies.size))
    val latMs = new Array[Double](n)
    val status = new Array[Int](n)
    val pred = new Array[Double](n)
    val lateMs = new Array[Double](n)
    val inflight = new AtomicInteger(0)
    var backlogMax = 0
    val futures = new Array[java.util.concurrent.Future[_]](n)
    val t0 = System.nanoTime() + 20000000L
    for (i <- 0 until n) {
      val due = t0 + (i * periodNs).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      lateMs(i) = (now - due) / 1e6
      backlogMax = math.max(backlogMax, inflight.incrementAndGet())
      val dueMs = Tracer.nowMs() - (now - due) / 1e6
      futures(i) = pool.submit(new Runnable {
        def run(): Unit = {
          try {
            val (code, body) = post(port, bodies(which(i)))
            status(i) = code
            pred(i) = PredRe.findFirstMatchIn(body).map(_.group(1).toDouble).getOrElse(Double.NaN)
          } catch { case scala.util.control.NonFatal(_) => status(i) = -1 }
          latMs(i) = (System.nanoTime() - due) / 1e6
          if (Tracer.enabled) {
            val id = Tracer.nextId()
            Tracer.record(Span(id, 0L, id, "serve.request", dueMs, Tracer.nowMs()))
          }
          inflight.decrementAndGet()
        }
      })
    }
    futures.foreach(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    Map("rate" -> rate, "lat_ms" -> latMs, "late_ms" -> lateMs, "status" -> status,
      "pred" -> pred, "which" -> which, "backlog_max" -> backlogMax)
  }
}
