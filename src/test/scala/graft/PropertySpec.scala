package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.Transformations
import graft.ops.{Dedup, Similarity}

/** Property-based tests (SURVEY.md §5.2): the clean-transform invariants
  * against an independent Scala-side oracle on generated rows, the
  * properties of the RNG operators the DuckDB gate can't hash-check
  * (sample / randomSplit, §5.3), and algebraic laws of the similarity
  * primitives.
  */
class PropertySpec extends SparkTestBase {

  import PropertySpec.TaxiRow

  /** Deterministic ScalaCheck sampling: the scalatest/scalacheck bridge
    * artifact is not on the (offline) classpath, so generators are driven
    * directly with fixed seeds — same coverage, reproducible failures.
    */
  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // mix of in-range and out-of-range values so every filter fires both ways
  private val genRow: Gen[TaxiRow] = for {
    t0 <- Gen.choose(1420070400L, 1422748800L) // Jan 2015
    durMin <- Gen.oneOf(Gen.choose(-10.0, 0.9), Gen.choose(1.0, 180.0), Gen.choose(180.5, 300.0))
    dist <- Gen.oneOf(Gen.const(0.0), Gen.choose(0.1, 50.0), Gen.choose(50.0, 500.0))
    fare <- Gen.oneOf(Gen.const(0.0), Gen.choose(0.01, 200.0))
    total <- Gen.oneOf(Gen.const(0.0), Gen.choose(0.01, 250.0))
    pax <- Gen.choose(0, 6)
    plon <- Gen.choose(-76.0, -71.0)
    plat <- Gen.choose(39.0, 43.0)
    dlon <- Gen.choose(-76.0, -71.0)
    dlat <- Gen.choose(39.0, 43.0)
    pay <- Gen.choose(0, 8)
  } yield TaxiRow(
    new Timestamp(t0 * 1000L),
    new Timestamp((t0 + (durMin * 60).toLong) * 1000L),
    dist, fare, total, pax, plon, plat, dlon, dlat, pay)

  /** Scala-side oracle for the clean filters, same double arithmetic. */
  private def survives(r: TaxiRow): Boolean = {
    val dur = (r.tpep_dropoff_datetime.getTime / 1000L -
      r.tpep_pickup_datetime.getTime / 1000L) / 60.0
    val base = r.trip_distance > 0 && r.fare_amount > 0 && r.total_amount > 0 &&
      r.passenger_count > 0 && dur >= 1 && dur <= 180 &&
      r.pickup_longitude > -75 && r.pickup_longitude < -72 &&
      r.dropoff_longitude > -75 && r.dropoff_longitude < -72 &&
      r.pickup_latitude > 40 && r.pickup_latitude < 42 &&
      r.dropoff_latitude > 40 && r.dropoff_latitude < 42
    base && {
      val speed = r.trip_distance / (dur / 60.0)
      speed >= 0 && speed <= 120
    }
  }

  test("cleanAndTransform keeps exactly the rows an independent oracle keeps") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      val rows = sample(Gen.listOfN(300, genRow), seed)
        val cleaned = Transformations.cleanAndTransform(rows.toDF()).cache()
        try {
          assert(cleaned.count() == rows.count(survives))
          // left join: desc non-null iff payment_type has a lookup row
          val missing = cleaned
            .filter(col("payment_type").between(1, 6) && col("payment_desc").isNull)
            .count()
          val spurious = cleaned
            .filter(!col("payment_type").between(1, 6) && col("payment_desc").isNotNull)
            .count()
          assert(missing == 0 && spurious == 0)
          // derived ranges hold on every surviving row
          assert(cleaned.filter(
            !col("trip_duration_min").between(1, 180) ||
              !col("avg_speed_kmh").between(0, 120) ||
              !col("pickup_hour").between(0, 23)).count() == 0)
        } finally cleaned.unpersist()
    }
  }

  test("sample is seed-deterministic with binomially plausible size") {
    import spark.implicits._
    val df = (1L to 5000L).toDF("id").cache()
    for (f <- Seq(0.05, 0.2, 0.5)) {
      val a = df.sample(withReplacement = false, f, seed = 42)
      val b = df.sample(withReplacement = false, f, seed = 42)
      val idsA = a.as[Long].collect().sorted
      assert(idsA.sameElements(b.as[Long].collect().sorted), "same seed, same rows")
      val n = 5000.0
      val sd = math.sqrt(n * f * (1 - f))
      assert(math.abs(idsA.length - n * f) < 6 * sd, s"f=$f n=${idsA.length}")
    }
    df.unpersist()
  }

  test("randomSplit partitions: parts disjoint and union-complete") {
    import spark.implicits._
    val df = (1L to 4000L).toDF("id")
    val Array(a, b) = df.randomSplit(Array(0.8, 0.2), seed = 42)
    val (sa, sb) = (a.as[Long].collect().toSet, b.as[Long].collect().toSet)
    assert((sa & sb).isEmpty)
    assert((sa | sb).size == 4000)
  }

  test("codegen LSH bucket == HOF reference on arbitrary float vectors") {
    import spark.implicits._
    val genVec = Gen.choose(1, 96).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-10.0f, 10.0f, 0.0f)))
    for ((nBits, seed) <- Seq((1, 1L), (3, 2L), (8, 3L))) {
      val vecs = sample(Gen.listOfN(50, genVec), seed)
      val df = vecs.map(v => Tuple1(v.toArray)).toDF("v")
      val bad = df.select(
        Similarity.lshBucket(col("v"), nBits).as("fast"),
        Similarity.lshBucketHof(col("v"), nBits).as("ref"))
        .filter(col("fast") =!= col("ref") || col("fast") < 0 ||
          col("fast") >= (1 << nBits))
        .count()
      assert(bad == 0)
    }
  }

  test("denseRank == global row_number over arbitrary unique ids (r13)") {
    import spark.implicits._
    // ids spanning many bucket widths, negative values, and dense
    // clusters — the bucketed cumulative-offset spelling must equal
    // the single-partition reference exactly for ANY unique id set
    val genIds = Gen.choose(5, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-5_000_000_000L, 5_000_000_000L)))
    for (seed <- 1L to 4L) {
      val ids = sample(genIds, seed).distinct
      val got = Dedup.denseRank(ids.toDF("id"), "id")
        .select("id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val want = ids.sorted.zipWithIndex.map { case (v, i) => (v, (i + 1).toLong) }
      assert(got.toSeq == want, s"seed $seed diverged")
    }
  }

  test("jaccard: symmetric, bounded, identity on non-empty sets") {
    import spark.implicits._
    val genToks = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    for (seed <- 1L to 3L) {
      val ps = sample(Gen.listOfN(40, Gen.zip(genToks, genToks)), seed)
      val df = ps.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
      val bad = df.select(
        Dedup.jaccard(col("a"), col("b")).as("ab"),
        Dedup.jaccard(col("b"), col("a")).as("ba"),
        Dedup.jaccard(col("a"), col("a")).as("aa"))
        .filter(col("ab") =!= col("ba") || !col("ab").between(0, 1) ||
          col("aa") =!= 1.0)
        .count()
      assert(bad == 0)
    }
  }

  test("set-similarity joins match the brute-force all-pairs oracle on random corpora") {
    import spark.implicits._
    import graft.ops.SetSimJoin
    // small vocabulary → heavy element collisions, so the prefix and
    // positional filters both fire with real pruning pressure; doc
    // sizes 1–10 put the ceil(t·|d|) boundary on both sides of every
    // threshold tested.
    val vocab = ('a' to 't').map(_.toString)
    val genDoc = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
    for {
      seed <- 1L to 3L
      t <- Seq(0.5, 0.8)
    } {
      val docs = sample(Gen.listOfN(35, genDoc), seed)
        .zipWithIndex.map { case (d, i) => (i.toLong, d.toArray) }
      // a List, not a Map: a for-comprehension over a Map would yield a
      // Map and silently collapse pairs sharing the same left id.
      val sets = docs.map { case (i, d) => i -> d.distinct.toSet }
        .filter(_._2.nonEmpty)
      val df = docs.toDF("id", "elems")

      val bruteJac = (for {
        (ia, a) <- sets; (ib, b) <- sets if ia < ib
        j = (a & b).size.toDouble / (a | b).size if j >= t
      } yield (ia, ib)).toSet
      val gotJac = SetSimJoin.jaccardSelfJoin(df, "id", col("elems"), t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(gotJac == bruteJac,
        s"jaccard seed=$seed t=$t: missing=${bruteJac -- gotJac} extra=${gotJac -- bruteJac}")

      val bruteCont = (for {
        (ia, a) <- sets; (ib, b) <- sets if ia != ib
        c = (a & b).size.toDouble / a.size if c >= t
      } yield (ia, ib)).toSet
      val gotCont = SetSimJoin.containmentJoin(df, "id", col("elems"), t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(gotCont == bruteCont,
        s"containment seed=$seed t=$t: missing=${bruteCont -- gotCont} extra=${gotCont -- bruteCont}")
    }
  }

  test("SQL function registry: names resolve, values match the Column API, bad args fail analysis") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.util.Sessions.tune(spark)
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "x y z w v u"))
      .toDF("id", "text")
    df.createOrReplaceTempView("sqlfn_probe")
    val viaSql = spark.sql(
      "SELECT id, simhash64(split(text, ' ')) AS h, rolling_minhash(text, 16) AS r " +
        "FROM sqlfn_probe")
    val viaCol = df.select(col("id"),
      graft.functions.SimHash64.simhash64(split(col("text"), " ")).as("h"),
      graft.functions.RollingHash.winnowedMin(col("text"), 16).as("r"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
    // codegen-parameter args must be integer literals — analysis-time error
    val e = intercept[Exception](
      spark.sql("SELECT rolling_minhash(text, id) FROM sqlfn_probe").collect())
    assert(e.getMessage.contains("integer literal"))
    // wrong arity is an analysis-time error too
    val e2 = intercept[Exception](
      spark.sql("SELECT simhash64(split(text, ' '), 2) FROM sqlfn_probe").collect())
    assert(e2.getMessage.contains("expects 1 arguments"))
  }

  test("simhash is token-permutation invariant") {
    import spark.implicits._
    val genToks = Gen.nonEmptyListOf(Gen.identifier.map(_.take(8)))
    for (seed <- 1L to 3L) {
      val docs = sample(Gen.listOfN(30, genToks), seed)
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" "), scala.util.Random.shuffle(t).mkString(" ")) }
        .toDF("doc_id", "text", "shuffled")
      val ha = Dedup.simhashes(df, "doc_id", "text").toDF("doc_id", "h1")
      val hb = Dedup.simhashes(df.select(col("doc_id"), col("shuffled").as("text")),
        "doc_id", "text").toDF("doc_id", "h2")
      assert(ha.join(hb, "doc_id").filter(col("h1") =!= col("h2")).count() == 0)
    }
  }

  test("canonicalUrl: idempotent with clean invariants on generated URLs") {
    import spark.implicits._
    val genLabel = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val genHost = for {
      www <- Gen.oneOf("", "www.")
      labels <- Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, genLabel))
    } yield www + labels.mkString(".")
    val genParam = for {
      tracking <- Gen.oneOf(true, false)
      name <- if (tracking) Gen.oneOf("utm_source", "utm_x", "gclid", "ref")
        else genLabel
      value <- genLabel
    } yield s"$name=$value"
    val genUrl = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "Https")
      host <- genHost
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      segs <- Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, genLabel))
      trailing <- Gen.oneOf("", "/", "//")
      params <- Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genParam))
      frag <- Gen.oneOf("", "#x", "#a/b?c=1")
    } yield {
      val path = if (segs.isEmpty) "" else segs.mkString("/", "/", "")
      val query = if (params.isEmpty) "" else params.mkString("?", "&", "")
      s"$scheme://$host$port$path$trailing$query$frag"
    }
    val urls = (1 to 300).map(i => sample(genUrl, 0xCAFE + i))
    def canonAll(in: Seq[String]): Seq[String] =
      in.toDF("url").select(graft.ops.TextPrep.canonicalUrl(col("url")))
        .as[String].collect().toSeq
    val once = canonAll(urls)
    // idempotence: canonicalizing a canonical URL is the identity
    assert(canonAll(once) == once)
    once.foreach { u =>
      assert(!u.contains("#"), s"fragment survived: $u")
      assert(!u.contains("utm_") && !u.contains("gclid=") && !u.contains("ref="),
        s"tracking param survived: $u")
      assert(!u.contains("://www."), s"www survived: $u")
      // scheme-matched default ports must be gone; a MISmatched default
      // (https on :80) and real ports (:8080) legitimately survive
      if (u.startsWith("http://"))
        assert(!u.contains(":80/"), s"http default port survived: $u")
      if (u.startsWith("https://"))
        assert(!u.contains(":443/"), s"https default port survived: $u")
      assert(u.matches("^(http|https)://.*"), s"scheme not lowercased: $u")
      // query params sorted
      val q = u.split("\\?", 2)
      if (q.length == 2)
        assert(q(1).split("&").toSeq == q(1).split("&").toSeq.sorted,
          s"params unsorted: $u")
    }
  }

  test("approx_percentile tracks the exact discrete median per group") {
    // at accuracy 1000 on these group sizes, the sketch answer must be an
    // actual data value close to the exact quantile_disc median
    val exact = graft.queries.ExtQueries.qPercentile(spark, Sf0001)
      .select("l_returnflag", "median", "median_price")
    val approx = graft.queries.SqlSurfaceQueries.qPercentileApprox(spark, Sf0001)
    val joined = exact.join(approx, "l_returnflag").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (m, ma) = (r.getDouble(1), r.getDouble(3))
      val (p, pa) = (r.getDouble(2), r.getDouble(4))
      assert(math.abs(m - ma) / math.max(m, 1.0) < 0.05,
        s"quantity median approx $ma vs exact $m")
      assert(math.abs(p - pa) / math.max(p, 1.0) < 0.05,
        s"price median approx $pa vs exact $p")
    }
  }

  test("dsum6 equals dsum exactly on 6-dp inputs (the long fast path is a pure speedup)") {
    import spark.implicits._
    import graft.queries.Det
    // adversarial 6-dp values: boundary magnitudes, many groups, values
    // whose double representation sits below/above the true decimal
    val vals = (1 to 5000).map { i =>
      val raw = math.sin(i.toDouble) * 1000.0 + 1.0 / math.log(i + 2.0)
      (i % 37, math.floor(raw * 1e6 + 0.5) / 1e6) // an r6 output by construction
    }
    val df = vals.toDF("g", "x").repartition(16)
    val a = df.groupBy("g").agg(Det.dsum(col("x")).as("s"))
      .orderBy("g").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val b = df.groupBy("g").agg(Det.dsum6(col("x")).as("s"))
      .orderBy("g").collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }
}

object PropertySpec {
  /** Top-level so Spark's product encoder needs no outer instance. */
  final case class TaxiRow(
      tpep_pickup_datetime: Timestamp,
      tpep_dropoff_datetime: Timestamp,
      trip_distance: Double,
      fare_amount: Double,
      total_amount: Double,
      passenger_count: Int,
      pickup_longitude: Double,
      pickup_latitude: Double,
      dropoff_longitude: Double,
      dropoff_latitude: Double,
      payment_type: Int)
}
