package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-6 mining/indexing operator semantics on hand-computable
  * fixtures: grid-join recall vs brute force, CMS guarantees and
  * mergeability, association-rule arithmetic, prune-audit verdicts,
  * syllable counting, and equi-depth bin invariants. The DuckDB gates
  * (q_spatial / q_cms / q_basket / q_prune / q_readability / q_bins)
  * pin the cross-engine numerics; these pin the algorithms.
  */
class MiningSpec extends SparkTestBase {

  // ---- Spatial ----

  test("gridRadiusJoin matches brute-force haversine on a random-ish lattice") {
    import spark.implicits._
    val points = (0 until 400).map { i =>
      (i.toLong, 40.5 + (i % 23) * 0.003, -74.0 + (i % 29) * 0.003)
    }.toDF("pid", "lat", "lon")
    val queries = (0 until 7).map { i =>
      (i.toLong, 40.51 + i * 0.009, -73.99 + i * 0.011)
    }.toDF("qid", "qlat", "qlon")
    val grid = Spatial.gridRadiusJoin(points, queries,
        "pid", "lat", "lon", "qid", "qlat", "qlon",
        radiusM = 400.0, cellDeg = 0.006, maxAbsLatDeg = 41.0)
      .select("qid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = queries.crossJoin(points)
      .filter(Spatial.haversineM(col("qlat"), col("qlon"), col("lat"), col("lon")) <= 400.0)
      .select("qid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture produced no matches — not a real test")
    assert(grid == brute,
      s"grid join diverged: missing=${(brute -- grid).take(5)} extra=${(grid -- brute).take(5)}")
  }

  test("gridRadiusJoin rejects a cell too small for the radius") {
    import spark.implicits._
    val df = Seq((1L, 40.5, -74.0)).toDF("id", "lat", "lon")
    intercept[IllegalArgumentException] {
      // 0.002° lon at 41° ≈ 168 m < 400 m radius → 3×3 would miss
      Spatial.gridRadiusJoin(df, df, "id", "lat", "lon", "id", "lat", "lon",
        radiusM = 400.0, cellDeg = 0.002, maxAbsLatDeg = 41.0)
    }
  }

  test("selfNeighborPairs never pairs an id with itself across cells") {
    import spark.implicits._
    // cellDeg 0.01 ≈ 1.11 km of latitude; radius 500 m is feasible.
    // id 1 appears twice, straddling a cell boundary (lat 0.0099 vs
    // 0.0101 — adjacent cells, ~22 m apart); id 2 sits within radius
    // of both copies in the upper cell.
    val pts = Seq(
      (1L, 0.0099, 0.0),
      (1L, 0.0101, 0.0),
      (2L, 0.0103, 0.0),
    ).toDF("id", "lat", "lon")
    val pairs = Spatial
      .selfNeighborPairs(pts, "id", "lat", "lon",
        radiusM = 500.0, cellDeg = 0.01, maxAbsLatDeg = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == p._2),
      s"same-id pair emitted: ${pairs.mkString(",")}")
    // both copies of id 1 still see id 2 (the rule drops identity
    // pairs, not duplicate ids' genuine neighbors): (1,2) survives
    // twice — once per copy
    assert(pairs.count(p => Set(p._1, p._2) == Set(1L, 2L)) == 2,
      s"expected both (1,2) pairs, got ${pairs.mkString(",")}")
  }

  test("selfNeighborPairs matches the two-sided gridRadiusJoin survivor set on real points") {
    // distinct-id points: the canonical form symmetrized must equal the
    // two-sided self-join with the identity pair dropped (the r14
    // densityCounts shape) on the same grid. Deterministic lattice with
    // irregular strides so cells are unevenly occupied.
    val pts = spark.range(0, 500).select(col("id"),
      (col("id") % 23 * 0.0007).as("lat"),
      (col("id") % 31 * 0.0007).as("lon"))
    val cellDeg = 0.004
    val radiusM = 300.0
    val canon = Spatial
      .selfNeighborPairs(pts, "id", "lat", "lon", radiusM, cellDeg, 1.0)
    val sym = canon.select(col("a"), col("b"))
      .unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val q = pts.select(col("id").as("_qid"),
      col("lat").as("_qlat2"), col("lon").as("_qlon2"))
    val twoSided = Spatial
      .gridRadiusJoin(pts, q, "id", "lat", "lon",
        "_qid", "_qlat2", "_qlon2", radiusM, cellDeg, 1.0)
      .filter(col("_qid") =!= col("id"))
      .select(col("_qid"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(sym.nonEmpty, "degenerate fixture: no surviving pairs")
    assert(sym.toSeq == twoSided.toSeq,
      s"survivor sets differ: canonical ${sym.length} vs two-sided ${twoSided.length}")
  }

  // ---- Count-min sketch ----

  test("CMS never underestimates, and is exact when w clears the vocabulary") {
    import spark.implicits._
    val occ = (Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq.fill(11)("c") ++
      Seq("d")).toDF("it")
    val exact = occ.groupBy("it").agg(count(lit(1)).as("n"))
    // tiny w: collisions certain; estimates must still dominate
    val tight = Stats.cmsEstimate(
        Stats.cmsBuild(occ, "it", d = 3, w = 2), exact.select("it"),
        "it", d = 3, w = 2)
      .join(exact, "it").collect()
    tight.foreach(r => assert(r.getAs[Long]("est") >= r.getAs[Long]("n"), r.toString))
    // wide w: whp each of 4 items gets its own bucket in some row → exact
    val wide = Stats.cmsEstimate(
        Stats.cmsBuild(occ, "it", d = 4, w = 1024), exact.select("it"),
        "it", d = 4, w = 1024)
      .join(exact, "it").collect()
    wide.foreach(r => assert(r.getAs[Long]("est") == r.getAs[Long]("n"), r.toString))
  }

  test("cmsMerge(build(A), build(B)) equals build(A union B) cellwise") {
    import spark.implicits._
    val a = Seq("x", "y", "x", "z").toDF("it")
    val b = Seq("y", "y", "w").toDF("it")
    val merged = Stats.cmsMerge(
        Stats.cmsBuild(a, "it", d = 4, w = 8), Stats.cmsBuild(b, "it", d = 4, w = 8))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Stats.cmsBuild(a.unionAll(b), "it", d = 4, w = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct, s"merged=$merged direct=$direct")
  }

  // ---- Market basket ----

  test("pairAssociations: hand-computed support/confidence/lift; presence not multiplicity") {
    import spark.implicits._
    // baskets: 1{A,B}, 2{A,B}, 3{A,C}, 4{B} — and A duplicated in basket 1
    // must count once
    val df = Seq(
      (1L, "A"), (1L, "A"), (1L, "B"),
      (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"),
      (4L, "B"),
    ).toDF("bk", "it")
    val r = Basket.pairAssociations(df, "bk", "it", minPairCount = 2, topN = 10)
      .collect()
    assert(r.length == 1) // only (A,B) reaches 2 baskets
    val ab = r(0)
    assert(ab.getAs[String]("item_a") == "A" && ab.getAs[String]("item_b") == "B")
    assert(ab.getAs[Long]("n_ab") == 2 && ab.getAs[Long]("n_a") == 3 &&
      ab.getAs[Long]("n_b") == 3)
    assert(ab.getAs[Double]("support") == 0.5)      // 2/4
    assert(math.abs(ab.getAs[Double]("confidence") - 2.0 / 3) < 1e-6)
    assert(math.abs(ab.getAs[Double]("lift") - 8.0 / 9) < 1e-6) // (2·4)/(3·3)
  }

  // ---- Prune audit ----

  test("pruneAudit: skippable verdicts incl. the all-null partition") {
    import spark.implicits._
    val df = Seq(
      ("p1", Some(1.0)), ("p1", Some(5.0)),   // overlaps [4,10] → scan
      ("p2", Some(11.0)), ("p2", Some(20.0)), // min 11 > 10 → skip
      ("p3", Some(1.0)), ("p3", Some(3.0)),   // max 3 < 4 → skip
      ("p4", None), ("p4", None),             // stats-less → skip
    ).toDF("part", "v")
    val out = Profile.pruneAudit(df, "part", "v", lo = 4.0, hi = 10.0)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Boolean]("skippable"), r.getAs[Long]("scan_rows"))).toMap
    assert(out("p1") == (false, 2L), out.toString)
    assert(out("p2") == (true, 0L))
    assert(out("p3") == (true, 0L))
    assert(out("p4") == (true, 0L))
  }

  // ---- Readability ----

  test("readability: vowel-group syllables, sentence floor, known scores") {
    import spark.implicits._
    // "table" → a,e = 2 syllables; "row" → o = 1; "xyz" → floor 1
    val df = Seq((1L, "table row xyz")).toDF("doc_id", "text")
    val r = TextAnalysis.readability(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_words") == 3)
    assert(r.getAs[Long]("n_sentences") == 1) // no terminators → floor
    assert(r.getAs[Long]("n_syllables") == 4)
    val wps = 3.0; val spw = 4.0 / 3
    val expected = math.floor((0.39 * wps + 11.8 * spw - 15.59) * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getAs[Double]("fk_grade") - expected) < 1e-9)
  }

  test("readability: sentence terminators counted as runs") {
    import spark.implicits._
    val df = Seq((1L, "a b. c d! e f?? g")).toDF("doc_id", "text")
    val r = TextAnalysis.readability(df, "doc_id", "text").collect()(0)
    // ".", "!", "??" → 3 terminator runs; tokens "b." "d!" "f??" keep
    // their punctuation (whitespace tokenization), words = 7
    assert(r.getAs[Long]("n_sentences") == 3)
    assert(r.getAs[Long]("n_words") == 7)
  }

  // ---- Jaro–Winkler ----

  test("JaroWinkler: textbook values, edge conventions, codegen path") {
    import spark.implicits._
    import graft.functions.JaroWinkler
    // the canonical examples every implementation is judged on
    assert(math.abs(JaroWinkler.similarity("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(JaroWinkler.similarity("dwayne", "duane") - 0.84) < 1e-12)
    assert(math.abs(JaroWinkler.similarity("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    // DuckDB/rapidfuzz conventions: empty sides (incl. both) score 0;
    // odd transposition count floors
    assert(JaroWinkler.similarity("", "") == 0.0)
    assert(JaroWinkler.similarity("a", "") == 0.0)
    assert(math.abs(JaroWinkler.similarity("abcdef", "bcadef") - 0.9444444444444445) < 1e-12)
    // identical strings boost to exactly 1.0
    assert(JaroWinkler.similarity("same", "same") == 1.0)
    // the q_jaro threshold-boundary pair: both engines compute EXACTLY
    // one ulp above double(0.7) (0x1.6666666666667p-1) because they
    // spell the identical op sequence — pin the bits so a reassociation
    // that silently flips the >= 0.7 filter fails here first
    assert(JaroWinkler.similarity("blue gear", "small gear")
      == java.lang.Double.parseDouble("0x1.6666666666667p-1"))
    // expression path (codegen) equals the static function
    val df = Seq(("martha", "marhta"), ("dwayne", "duane"), ("", ""))
      .toDF("a", "b")
    val rows = df.select(JaroWinkler.jw(col("a"), col("b")).as("jw"))
      .collect().map(_.getDouble(0))
    assert(math.abs(rows(0) - 0.9611111111111111) < 1e-12)
    assert(math.abs(rows(1) - 0.84) < 1e-12)
    assert(rows(2) == 0.0)
    // SQL surface registration
    df.createOrReplaceTempView("jw_pairs")
    val viaSql = spark.sql("SELECT jaro_winkler(a, b) FROM jw_pairs")
      .collect().map(_.getDouble(0))
    assert(viaSql.toSeq == rows.toSeq)
  }

  // ---- Markov transitions ----

  test("transitionMatrix: hand-computed counts and row-normalized probabilities") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: a→b→a→c ; user 2: a→b ; first events contribute no pair
    val df = Seq(
      (1L, t(0), 1L, "a"), (1L, t(1), 2L, "b"), (1L, t(2), 3L, "a"),
      (1L, t(3), 4L, "c"),
      (2L, t(0), 5L, "a"), (2L, t(1), 6L, "b"),
    ).toDF("u", "ts", "eid", "st")
    val out = Behavior.transitionMatrix(df, "u", "ts", "eid", "st")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 3)
    // from a: b twice, c once (3 exits) — r6 of the thirds
    assert(out(("a", "b")) == (2L, 0.666667), out.toString)
    assert(out(("a", "c")) == (1L, 0.333333))
    assert(out(("b", "a")) == (1L, 1.0)) // b exits once, to a
  }

  // ---- Bitmap set algebra ----

  test("Bitmap overlap equals distinct-set intersection/union, incl. word boundaries") {
    import spark.implicits._
    // ids straddle the 63-bit word boundary (62, 63, 64) and repeat
    val df = Seq(
      ("x", 0L), ("x", 62L), ("x", 63L), ("x", 64L), ("x", 64L),
      ("y", 62L), ("y", 64L), ("y", 200L),
      ("z", 300L), // disjoint from x and y
    ).toDF("g", "id")
    val out = Bitmap.overlap(Bitmap.build(df, "g", "id"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(("x", "y")) == (4L, 3L, 2L, 5L)) // common {62,64}, union 5
    assert(out(("x", "z")) == (4L, 1L, 0L, 5L)) // disjoint pair still reported
    assert(out(("y", "z")) == (3L, 1L, 0L, 4L))
  }

  // ---- Day-of-week profile ----

  test("dayOfWeekProfile: shares sum to 1, Sunday is dow 1, crafted skew surfaces") {
    import spark.implicits._
    // 2024-01-07 was a Sunday; put 6 events there and 1 on Monday
    val df = ((1 to 6).map(i =>
      ("a", java.sql.Timestamp.valueOf(f"2024-01-07 0$i:00:00"))) :+
      ("a", java.sql.Timestamp.valueOf("2024-01-08 01:00:00")))
      .toDF("k", "ts")
    val out = TimeSeries.dayOfWeekProfile(df, "k", "ts")
      .collect().map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1, 2)) // Sunday=1, Monday=2
    assert(out(1) == ((6L, math.floor(6.0 / 7 * 1e6 + 0.5) / 1e6)))
    assert(out(2)._1 == 1L)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 2e-6)
  }

  // ---- Profile diff ----

  test("Profile.diff: identical snapshots clean, a shifted column flags drifted") {
    import spark.implicits._
    val a = (1 to 20).map(i => (i.toDouble, (i % 5).toDouble)).toDF("x", "y")
    val same = Profile.diff(a, a, Seq("x", "y")).collect()
    assert(same.length == 2 && same.forall(!_.getAs[Boolean]("drifted")))
    val b = (1 to 20).map(i => (i.toDouble + 100, (i % 5).toDouble)).toDF("x", "y")
    val moved = Profile.diff(a, b, Seq("x", "y"))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("drifted")).toMap
    assert(moved("x") && !moved("y"), moved.toString)
  }

  // ---- Daily autocorrelation ----

  test("dailyAutocorrelation: alternation is negative, constancy is NULL, gaps never pair") {
    import spark.implicits._
    def d(day: Int, n: Int, u: Long) = (0 until n).map(i =>
      (u, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 0$i:00:00")))
    // user 1: perfectly alternating 1,3,1,3,... daily counts → r = −1
    val alt = (1 to 8).flatMap(day => d(day, if (day % 2 == 0) 3 else 1, 1L))
    // user 2: constant 2/day → zero variance → NULL
    val const = (1 to 5).flatMap(day => d(day, 2, 2L))
    // user 3: days 1 and 3 only — the gap must produce ZERO pairs
    val gap = d(1, 2, 3L) ++ d(3, 5, 3L)
    val df = (alt ++ const ++ gap).toDF("u", "ts")
    val out = TimeSeries.dailyAutocorrelation(df, "u", "ts")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getAs[java.lang.Double]("autocorr")))).toMap
    assert(out(1L)._1 == 7 && out(1L)._2.contains(-1.0), out.toString)
    assert(out(2L) == ((4L, None)))
    assert(!out.contains(3L)) // no adjacent-day pair → key absent
  }

  // ---- Sequence motifs ----

  test("sequenceMotifs counts overlapping trigrams per user stream") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: a b a b a → trigrams aba, bab, aba
    val df = Seq("a", "b", "a", "b", "a").zipWithIndex
      .map { case (st, i) => (1L, t(i), i.toLong, st) }
      .toDF("u", "ts", "eid", "st")
    val out = Behavior.sequenceMotifs(df, "u", "ts", "eid", "st", topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(out == Map(("a", "b", "a") -> 2L, ("b", "a", "b") -> 1L))
  }

  // ---- Spatial density ----

  test("densityCounts: coincident points count each other, identity pair drops") {
    import spark.implicits._
    val pts = Seq(
      (1L, 40.7000, -74.0000), (2L, 40.7000, -74.0000), // coincident pair
      (3L, 40.7010, -74.0000),                          // ~111 m north of 1,2
      (4L, 40.9000, -73.8000),                          // far away
    ).toDF("id", "lat", "lon")
    val out = Spatial.densityCounts(pts, "id", "lat", "lon",
        radiusM = 300.0, cellDeg = 0.0065, maxAbsLatDeg = 41.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L && out(2L) == 2L) // each other + point 3
    assert(out(3L) == 2L)
    assert(!out.contains(4L)) // isolated: no neighbor rows
  }

  // ---- MAD outliers ----

  test("madOutliers: robust to the outlier it flags; z-score is not") {
    import spark.implicits._
    // 9 values near 10, one at 1000: median/MAD ignore the whale
    val df = (Seq(9.0, 9.5, 10.0, 10.0, 10.0, 10.5, 10.5, 11.0, 11.0, 1000.0))
      .map(("g", _)).toDF("g", "v")
    val r = Stats.madOutliers(df, "g", "v", k = 3.0).collect()(0)
    assert(r.getAs[Double]("median") == 10.0)
    assert(r.getAs[Double]("mad") == 0.5)
    assert(r.getAs[Long]("n_outliers") == 1L) // only the 1000
  }

  // ---- Benford ----

  test("benford: digits from exact cents, expectation sums to ~1") {
    import spark.implicits._
    val df = Seq(1.23, 12.3, 123.0, 9.99, 0.02, 45.6, 0.0).toDF("v")
    val rows = Stats.benford(df, "v").collect()
    val byDigit = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    // cents: 123, 1230, 12300 → digit 1 ×3; 999 → 9; 2 → 2; 4560 → 4;
    // 0 excluded
    assert(byDigit == Map(1 -> 3L, 9 -> 1L, 2 -> 1L, 4 -> 1L), byDigit.toString)
    val expSum = rows.map(_.getAs[Double]("expected")).sum
    assert(expSum > 0 && expSum < 1.0) // partial digit set present
  }

  // ---- Concentration ----

  test("concentration: uniform mass gives HHI=1/n and Gini=0; a monopoly approaches 1") {
    import spark.implicits._
    val uniform = (1 to 4).map(u => ("g", u.toLong, 5.0)).toDF("g", "u", "v")
    val r1 = Stats.concentration(uniform, "g", "u", "v").collect()(0)
    assert(r1.getAs[Long]("n_units") == 4)
    assert(r1.getAs[Double]("hhi") == 0.25)
    assert(r1.getAs[Double]("gini") == 0.0)
    val monopoly = (Seq(("g", 1L, 0.000001), ("g", 2L, 0.000001),
      ("g", 3L, 1000000.0))).toDF("g", "u", "v")
    val r2 = Stats.concentration(monopoly, "g", "u", "v").collect()(0)
    assert(r2.getAs[Double]("hhi") > 0.99)
    assert(r2.getAs[Double]("gini") > 0.6)
  }

  // ---- CUSUM change point ----

  test("cusumChangePoint peaks at a crafted level shift") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: 10,10,10,10 then 20,20,20,20 — the change is at index 4;
    // max |S'| lands on the LAST pre-shift element (minute 3)
    val df = ((0 until 4).map(i => (1L, t(i), i.toLong, 10.0)) ++
      (4 until 8).map(i => (1L, t(i), i.toLong, 20.0)) ++
      // user 2: constant series — partial sums identically zero
      (0 until 5).map(i => (2L, t(i), (100 + i).toLong, 7.0)))
      .toDF("u", "ts", "eid", "v")
    val out = TimeSeries.cusumChangePoint(df, "u", "ts", "eid", "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getTimestamp(3))).toMap
    val (n1, stat1, at1) = out(1L)
    assert(n1 == 8)
    // S'_4 = n·prefix − i·total = 8·40 − 4·120 = −160; |.|/n² = 2.5
    assert(stat1 == 2.5, stat1.toString)
    assert(at1 == t(3))
    val (_, stat2, at2) = out(2L)
    assert(stat2 == 0.0) // constant series never drifts
    assert(at2 == t(0))  // ties resolve to the earliest instant
  }

  // ---- k-hop propagation ----

  test("khopFeatureMeans: hand-computed 2-hop means on a path graph") {
    import spark.implicits._
    // path 1–2–3 with features 10, 20, 60
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val feats = Seq((1L, 10.0), (2L, 20.0), (3L, 60.0), (4L, 99.0))
      .toDF("id", "f")
    val out = Graphs.khopFeatureMeans(edges, feats, "id", "f")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Long]("n_neighbors")),
          Option(r.getAs[java.lang.Double]("h1")),
          Option(r.getAs[java.lang.Double]("h2")))).toMap
    assert(out(1L) == ((Some(1L), Some(20.0), Some(35.0)))) // h2 = h1(2) = (10+60)/2
    assert(out(2L) == ((Some(2L), Some(35.0), Some(20.0)))) // h2 = (h1(1)+h1(3))/2 = 20
    assert(out(3L) == ((Some(1L), Some(20.0), Some(35.0))))
    assert(out(4L) == ((None, None, None))) // isolated vertex: NULL hops
  }

  // ---- Entity resolution ----

  test("resolveEntities: typos cluster to one entity, transitively; strangers stay apart") {
    import spark.implicits._
    val recs = Seq(
      (1L, "acme corp"),   // base
      (2L, "acme korp"),   // 1 substitution off base
      (3L, "acme korpo"),  // near variant of 2 (chains to 1 transitively)
      (4L, "zenith ltd"),  // unrelated entity, own block
      (5L, "acme corp"),   // exact repeat of 1
    ).toDF("rid", "name")
    val out = Linkage.resolveEntities(recs, "rid", "name",
        threshold = 0.9, blockLen = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // one entity for the acme cluster (whatever representative wins,
    // it must be the SAME for 1, 2, 3, 5)
    assert(Set(out(1L), out(2L), out(3L), out(5L)).size == 1, out.toString)
    assert(out(4L) == "zenith ltd") // singleton represents itself
    assert(out(1L) != out(4L))
  }

  test("resolveEntities: blocking is the contract — cross-block lookalikes do not match") {
    import spark.implicits._
    // same suffix, different 2-char prefix: JW-similar but never
    // candidates under the declared block key
    val recs = Seq((1L, "bolt works"), (2L, "colt works")).toDF("rid", "name")
    val out = Linkage.resolveEntities(recs, "rid", "name",
        threshold = 0.85, blockLen = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "bolt works" && out(2L) == "colt works")
  }

  // ---- Two-stage retrieval ----

  test("twoStageTopK with a corpus-covering pool equals exact cosine top-k") {
    import spark.implicits._
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 7 + d * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // m = |corpus|: stage 1 admits everyone, so stage 2 IS exact top-k
    val two = Quantization.twoStageTopK(corpus, "vec_id", "embedding",
        queries, m = 60, k = 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineTopK(
        queries.select(col("qid"), col("qv").as("qe")),
        corpus.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        k = 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cosineTopK drops self-matches; two-stage keeps them — compare on
    // the non-self survivors per query
    val twoIds = two.filter { case (q, c) => q != c }
    val exactIds = exact
    // two-stage keeps self at rank 1, so its non-self tail is exact's top-4
    assert(twoIds.subsetOf(exactIds),
      s"two-stage diverged from exact: ${twoIds -- exactIds}")
    assert(twoIds.size == 3 * 4)
  }

  // ---- PSI drift ----

  test("psi: identical distributions score zero; a shifted one does not") {
    import spark.implicits._
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val same = Drift.psi(ref, ref, "v", nBins = 5).collect()
    assert(same.length == 5)
    same.foreach { r =>
      assert(r.getAs[Long]("n_ref") == 20L && r.getAs[Long]("n_cur") == 20L)
      assert(r.getAs[Double]("psi_term") == 0.0, r.toString)
    }
    // current shifted up: mass leaves low bins — terms sum positive
    val cur = (51 to 150).map(_.toDouble).toDF("v")
    val drift = Drift.psi(ref, cur, "v", nBins = 5).collect()
    val total = drift.flatMap(r =>
      Option(r.getAs[java.lang.Double]("psi_term")).map(_.toDouble)).sum
    assert(total > 0.1, s"expected clear drift, got $total")
    // bins the current side vacated report NULL terms, not infinities
    assert(drift.count(_.isNullAt(drift.head.fieldIndex("psi_term"))) == 2)
  }

  // ---- Quantile normalization ----

  test("quantileNormalize maps a biased group onto the global scale") {
    import spark.implicits._
    // group a: 1..8 (low-scoring source), group b: 101..108 (high) —
    // after normalization both groups traverse the SAME global values
    val df = ((1 to 8).map(i => ("a", i.toDouble)) ++
      (1 to 8).map(i => ("b", 100.0 + i))).toDF("g", "v")
    val out = Features.quantileNormalize(df, "g", "v", nGrid = 8)
    val byGroup = out.collect()
      .groupBy(_.getAs[String]("g"))
      .map { case (g, rows) => g -> rows.map(_.getAs[Double]("norm_v")).sorted.toSeq }
    // both groups hit all 8 global grid values (2,4,6,8,102,104,106,108
    // = global even ranks over the 16 pooled values)
    assert(byGroup("a") == byGroup("b"), byGroup.toString)
    assert(byGroup("a") == Seq(2.0, 4.0, 6.0, 8.0, 102.0, 104.0, 106.0, 108.0))
  }

  // ---- A/B z-test ----

  test("abTest: hand-computed pooled z on a crafted assignment") {
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, if (i % 4 == 0) 1 else 0))
      .toDF("uid", "conv")
    val r = Stats.abTest(df, "uid", "conv").collect()(0)
    val (na, ca) = (r.getAs[Long]("n_a"), r.getAs[Long]("conv_a"))
    val (nb, cb) = (r.getAs[Long]("n_b"), r.getAs[Long]("conv_b"))
    assert(na + nb == 40 && ca + cb == 10)
    val pa = ca.toDouble / na; val pb = cb.toDouble / nb
    val pool = (ca + cb).toDouble / 40
    val z = (pa - pb) / math.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    assert(math.abs(r.getAs[Double]("z") -
      math.floor(z * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("abTest: degenerate experiments yield NULL z, not a division error") {
    import spark.implicits._
    val allConv = (0 until 10).map(i => (i.toLong, 1)).toDF("uid", "conv")
    val r = Stats.abTest(allConv, "uid", "conv").collect()(0)
    assert(r.isNullAt(r.fieldIndex("z")))
    assert(r.getAs[Double]("lift") == 0.0)
  }

  // ---- Equi-depth bins ----

  test("equiDepthBins: equal counts on a uniform ramp, nulls excluded, edges honest") {
    import spark.implicits._
    val df = ((1 to 80).map(i => Some(i.toDouble)) ++ Seq(None, None))
      .toDF("v")
    val bins = Features.equiDepthBins(df, "v", nBins = 8)
      .orderBy("bin").collect()
    assert(bins.length == 8)
    assert(bins.forall(_.getAs[Long]("n") == 10L),
      bins.map(_.getAs[Long]("n")).mkString(","))
    assert(bins.map(_.getAs[Long]("n")).sum == 80L) // nulls not binned
    // bins partition the range in order without overlap
    val pairs = bins.sliding(2).toSeq
    pairs.foreach { case Array(lo, hi) =>
      assert(lo.getAs[Double]("bin_max") < hi.getAs[Double]("bin_min"))
    }
    // cut_hi of bin k is bin k's max on this tie-free ramp; last is null
    assert(bins.last.isNullAt(bins.last.fieldIndex("cut_hi")))
  }

  test("equiDepthBins: tied values never straddle a bin boundary") {
    import spark.implicits._
    // 30 copies of 1.0, 10 of 2.0: with 4 bins the tie block must land
    // entirely in one bin
    val df = (Seq.fill(30)(1.0) ++ Seq.fill(10)(2.0)).toDF("v")
    val bins = Features.equiDepthBins(df, "v", nBins = 4)
      .orderBy("bin").collect()
    val byBin = bins.map(r => r.getAs[Int]("bin") ->
      (r.getAs[Long]("n"), r.getAs[Double]("bin_min"), r.getAs[Double]("bin_max"))).toMap
    assert(byBin.size == 2, byBin.toString)
    assert(byBin.values.exists { case (n, mn, mx) => n == 30 && mn == 1.0 && mx == 1.0 })
    assert(byBin.values.exists { case (n, mn, mx) => n == 10 && mn == 2.0 && mx == 2.0 })
  }

  // ---- DBSCAN / skyline / random projection (round 7) ----

  test("dbscan: two blobs, a border point, and an outlier get the right roles") {
    import spark.implicits._
    // lat degrees ≈ 111.2 km on the haversine sphere, so 0.0005° ≈ 55 m.
    // Blob A (ids 0-4): 55 m ladder — every pair within 222 m < 300 m.
    // Blob B (ids 10-14): same shape 0.1° (≈11 km) away.
    // Border id 20: 278 m above blob A's top point (ball = {self, p4} —
    // too thin to be core, but p4 is core so it attaches to cluster 0).
    // Noise id 30: half a degree away from everything.
    val pts =
      (0 to 4).map(i => (i.toLong, 40.5 + i * 0.0005, -74.0)) ++
        (10 to 14).map(i => (i.toLong, 40.6 + (i - 10) * 0.0005, -74.1)) ++
        Seq((20L, 40.5 + 4 * 0.0005 + 0.0025, -74.0), (30L, 41.0, -74.5))
    val out = Spatial.dbscan(pts.toDF("id", "lat", "lon"), "id", "lat", "lon",
        radiusM = 300.0, minPts = 4, cellDeg = 0.004, maxAbsLatDeg = 41.1)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap
    (0L to 4L).foreach(i => assert(out(i) == ("core", Some(0L)), s"p$i: ${out(i)}"))
    (10L to 14L).foreach(i => assert(out(i) == ("core", Some(10L)), s"p$i: ${out(i)}"))
    assert(out(20L) == ("border", Some(0L)), s"p20: ${out(20L)}")
    assert(out(30L) == ("noise", None), s"p30: ${out(30L)}")
  }

  /** The dbscan fixture above: two 5-point blobs, a border point
    * attached to blob A, one noise point. */
  private def blobPts = {
    import spark.implicits._
    ((0 to 4).map(i => (i.toLong, 40.5 + i * 0.0005, -74.0)) ++
      (10 to 14).map(i => (i.toLong, 40.6 + (i - 10) * 0.0005, -74.1)) ++
      Seq((20L, 40.5 + 4 * 0.0005 + 0.0025, -74.0), (30L, 41.0, -74.5)))
      .toDF("id", "lat", "lon")
  }

  test("dbscan releases every block it persisted (VERDICT r9 item 1)") {
    // the neighbor-pair cache is the op's largest intermediate; before
    // round 10 it stayed resident for the session after any caller
    // action (the round-8 q_containment contamination pattern). The
    // exit discipline leaves only the RESULT's own checkpoint blocks.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Spatial.dbscan(blobPts, "id", "lat", "lon",
      radiusM = 300.0, minPts = 4, cellDeg = 0.004, maxAbsLatDeg = 41.1)
    assert(out.count() == 12)
    val residue = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(residue.size <= 2,
      s"${residue.size} persisted RDDs left behind (expected ≤2: the " +
        "result generation only — pair cache or CC generation leaked)")
  }

  test("dbscan occupancy shrink rebuilds the grid without changing labels") {
    val pinned = Spatial.dbscan(blobPts, "id", "lat", "lon",
      radiusM = 300.0, minPts = 4, cellDeg = 0.004, maxAbsLatDeg = 41.1,
      maxCellOccupancy = 0) // caller's grid, verbatim
    // bound of 2 forces the rebuild (blob cells hold 5 points); the
    // floor grid still covers the radius, so the exact-distance
    // survivor set — and every role/label — is identical
    val shrunk = Spatial.dbscan(blobPts, "id", "lat", "lon",
      radiusM = 300.0, minPts = 4, cellDeg = 0.004, maxAbsLatDeg = 41.1,
      maxCellOccupancy = 2)
    assert(pinned.exceptAll(shrunk).isEmpty && shrunk.exceptAll(pinned).isEmpty)
    // the derived floor must itself satisfy the coverage requires
    val floor = Spatial.minCellDeg(300.0, 41.1)
    assert(floor * 1.02 < 0.004, "fixture no longer exercises the shrink")
  }

  test("dbscan survives an empty core set with the eager core checkpoint") {
    import spark.implicits._
    // three isolated points, minPts 3 ⇒ no core anywhere: the eager
    // core-set checkpoint (r15 session 2) runs its materialization job
    // on an EMPTY frame, every point must come back noise with a NULL
    // cluster, and the exit sweep must still release all blocks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pts = Seq(
      (1L, 40.0, -74.0), (2L, 40.5, -74.3), (3L, 41.0, -74.6))
      .toDF("id", "lat", "lon")
    val out = Spatial.dbscan(pts, "id", "lat", "lon",
      radiusM = 300.0, minPts = 3, cellDeg = 0.004, maxAbsLatDeg = 41.1)
    val rows = out.collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getString(1) == "noise" && r.isNullAt(2)))
    val residue = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(residue.size <= 2,
      s"${residue.size} persisted RDDs left behind (core checkpoint leaked)")
  }

  test("skyline2D equals brute-force dominance, ties and duplicates included") {
    import spark.implicits._
    val pts = Seq((1.0, 5), (2.0, 3), (3.0, 1), (1.0, 5), (2.0, 5),
      (0.5, 9), (3.0, 2), (0.5, 10), (4.0, 1), (0.5, 9)).toDF("x", "y")
    val sky = Stats.skyline2D(pts, "x", "y")
      .as[(Double, Int)].collect().toSet
    val d = pts.distinct().as[(Double, Int)].collect()
    val brute = d.filter(a => !d.exists(b => b != a &&
      b._1 <= a._1 && b._2 <= a._2 && (b._1 < a._1 || b._2 < a._2))).toSet
    assert(brute.nonEmpty && sky == brute,
      s"sky=$sky brute=$brute")
  }

  test("randomProjection: md5-sign fold matches a scalar reimplementation") {
    import spark.implicits._
    val vec = Array(1.0f, -2.5f, 3.25f, 0.5f)
    val out = Similarity
      .randomProjection(Seq((7L, vec.toSeq)).toDF("id", "v"), "id", "v", k = 3)
      .orderBy("dim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    def sign(j: Int, i: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1.0 else -1.0
    }
    val want = (0 until 3).map { j =>
      val raw = vec.indices.foldLeft(0.0)((acc, i) => acc + sign(j, i) * vec(i).toDouble)
      math.floor(raw / math.sqrt(3.0) * 1e6 + 0.5) / 1e6 // Det.r6's spelling
    }
    assert(out.map(_._2).toSeq == Seq(0, 1, 2))
    out.map(_._3).zip(want).foreach { case (got, w) =>
      assert(math.abs(got - w) < 1e-12, s"got $got want $w")
    }
  }

  test("bootstrapMeanCI enforces the bounded replicate-window contract") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "x")
    // b rows is the ONLY frame the rank window ever sees; beyond the
    // bound the contract says subsample (bag of little bootstraps),
    // not widen the window — enforced, like topEigen's dimension guard
    val e = intercept[IllegalArgumentException] {
      Stats.bootstrapMeanCI(df, "id", "x", b = 4097)
    }
    assert(e.getMessage.contains("4096"))
    assert(Stats.bootstrapMeanCI(df, "id", "x", b = 8).count() == 1)
  }
}
