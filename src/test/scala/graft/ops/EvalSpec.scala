package graft.ops

import org.apache.spark.sql.functions.lit

import graft.SparkTestBase

class EvalSpec extends SparkTestBase {
  import spark.implicits._

  // ---- ModelEval.aucRank -------------------------------------------------

  private def auc(rows: Seq[(Double, Long)]): Option[Double] = {
    val r = ModelEval.aucRank(rows.toDF("s", "y"), "s", "y").collect()(0)
    if (r.isNullAt(3)) None else Some(r.getDouble(3))
  }

  test("aucRank: perfect separation is 1.0, inverted is 0.0, random ties are 0.5") {
    assert(auc(Seq((5.0, 1L), (4.0, 1L), (2.0, 0L), (1.0, 0L))) == Some(1.0))
    assert(auc(Seq((5.0, 0L), (4.0, 0L), (2.0, 1L), (1.0, 1L))) == Some(0.0))
    assert(auc(Seq((3.0, 1L), (3.0, 0L), (3.0, 1L), (3.0, 0L))) == Some(0.5))
  }

  test("aucRank: hand-counted pair identity with a tie") {
    // pos scores {3, 2}, neg scores {1, 2}: wins (3>1),(3>2),(2>1) = 3,
    // one tie (2,2) → (3 + 0.5) / 4 = 0.875
    assert(auc(Seq((3.0, 1L), (2.0, 1L), (1.0, 0L), (2.0, 0L))) == Some(0.875))
  }

  test("aucRank: degenerate single-class input reports NULL, not an error") {
    assert(auc(Seq((1.0, 1L), (2.0, 1L))).isEmpty)
    val r = ModelEval.aucRank(
      Seq((1.0, 1L), (2.0, 1L)).toDF("s", "y"), "s", "y").collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.getLong(2) == 0L)
  }

  test("aucRank: bucket decomposition spans floor boundaries correctly") {
    // scores straddle integer buckets; pairs: pos {0.5, 2.5} beat
    // neg {0.4, 1.5} in 3 of 4 (0.5 < 1.5 loses) → 0.75
    assert(auc(Seq((0.5, 1L), (2.5, 1L), (0.4, 0L), (1.5, 0L))) == Some(0.75))
  }

  // ---- ModelEval.calibration ---------------------------------------------

  test("calibration: bin placement, per-bin means, and the weighted ECE") {
    val df = Seq(
      (0.05, 0L), (0.05, 0L),   // bin 0, pos_rate 0.0, avg_p 0.05 → gap 0.05
      (0.95, 1L), (0.85, 1L),   // bins 9 and 8
      (1.0, 1L),                // p = 1.0 clamps into bin 9
    ).toDF("p", "y")
    val rows = ModelEval.calibration(df, "p", "y", bins = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == Seq(0L, 8L, 9L))
    val byBin = rows.map(r => r._1 -> r).toMap
    assert(byBin(0L)._2 == 2L && byBin(0L)._4 == 0.0 && byBin(0L)._5 == 0.05)
    assert(byBin(9L)._2 == 2L && byBin(9L)._4 == 1.0 && byBin(9L)._5 == 0.025)
    assert(byBin(8L)._5 == 0.15)
    // ece = (2·0.05 + 1·0.15 + 2·0.025) / 5 = 0.06, identical on every row
    assert(rows.map(_._6).distinct.toSeq == Seq(0.06))
  }

  test("calibration: a perfectly calibrated constant bin has zero gap") {
    // p = 0.5 with exactly half positives → gap 0, ece 0
    val df = Seq((0.5, 1L), (0.5, 0L), (0.5, 1L), (0.5, 0L)).toDF("p", "y")
    val r = ModelEval.calibration(df, "p", "y", bins = 10).collect()(0)
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)
  }

  // ---- Ranking.rrfFuse ---------------------------------------------------

  test("rrfFuse: consensus item outranks single-list toppers; absences contribute 0") {
    // list A: d1 > d2 > d3; list B: d2 > d1 > d4
    val a = Seq((1L, 3.0), (2L, 2.0), (3L, 1.0)).toDF("id", "score")
    val b = Seq((2L, 9.0), (1L, 8.0), (4L, 7.0)).toDF("id", "score")
    val got = Ranking.rrfFuse(Seq("a" -> a, "b" -> b), "id", k = 60, topK = 10)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getDouble(3)))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = Map(
      1L -> r6(1.0 / 61 + 1.0 / 62), 2L -> r6(1.0 / 62 + 1.0 / 61),
      3L -> r6(1.0 / 63), 4L -> r6(1.0 / 63))
    assert(got.map(x => x._1 -> x._4).toMap == expect)
    // 1 and 2 tie on fused score → id tiebreak; 3 and 4 likewise
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // per-list ranks audit: d4 absent from A, d3 absent from B
    assert(got.find(_._1 == 4L).get._2 == -1L)
    assert(got.find(_._1 == 3L).get._3 == -1L)
  }

  test("rrfFuse: ties within a list rank deterministically by id") {
    val a = Seq((9L, 1.0), (3L, 1.0), (7L, 1.0)).toDF("id", "score")
    val got = Ranking.rrfFuse(Seq("a" -> a), "id", k = 60, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((3L, 1L), (7L, 2L), (9L, 3L)))
  }

  // ---- Graphs.kCore ------------------------------------------------------

  test("kCore: pendant peels off, triangle survives at k=2") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("u", "v")
    val got = Graphs.kCore(g, k = 2).orderBy("x")
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq((1L, true, 2L), (2L, true, 2L),
      (3L, true, 2L), (4L, false, -1L)))
  }

  test("kCore: a path cascades to empty core but every vertex still reports") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = Graphs.kCore(path, k = 2).orderBy("x")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(got.length == 5 && got.forall(!_._2))
  }

  test("kCore matches the generated unrolled oracle's fixpoint semantics") {
    // two triangles joined by a bridge: at k=2 the bridge endpoints
    // keep degree 3, everything survives; at k=3 all peel (no vertex
    // retains 3 neighbors once any corner goes)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    val k2 = Graphs.kCore(g, k = 2).filter("in_core").count()
    assert(k2 == 6L)
    val k3 = Graphs.kCore(g, k = 3).filter("in_core").count()
    assert(k3 == 0L)
  }

  test("kCore: maxRounds guard throws rather than returning a non-fixpoint") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    intercept[IllegalStateException] {
      Graphs.kCore(path, k = 2, maxRounds = 1).collect()
    }
  }

  // ---- DataQuality.fdAudit -----------------------------------------------

  test("fdAudit: holding key FD, failing FD, and composite lhs") {
    val df = Seq(
      (1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "b", "x"),
    ).toDF("id", "grp", "tag")
    val got = DataQuality.fdAudit(df, Seq(
        Seq("id") -> "grp",          // key → holds
        Seq("grp") -> "tag",         // a → {x,y} violates
        Seq("grp", "tag") -> "id"))  // (b,x) → {3,4} violates
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    val byFd = got.map(x => x._1 -> x).toMap
    assert(byFd("id -> grp") == ("id -> grp", 4L, 0L, 1L, true))
    assert(byFd("grp -> tag") == ("grp -> tag", 2L, 1L, 2L, false))
    assert(byFd("grp,tag -> id") == ("grp,tag -> id", 3L, 1L, 2L, false))
  }

  test("fdAudit: null rhs values are ignored (all-null group trivially holds)") {
    val df = Seq(
      ("a", Some("x")), ("a", None), ("b", None), ("b", None),
    ).toDF("grp", "tag")
    val got = DataQuality.fdAudit(df, Seq(Seq("grp") -> "tag")).collect()(0)
    assert(got.getLong(2) == 0L && got.getBoolean(4))
  }

  // ---- Ranking.rankEval ---------------------------------------------------

  private def evalOne(rows: Seq[(Long, Long, Long)]) =
    Ranking.rankEval(rows.toDF("qid", "rank", "rel"),
        "qid", "rank", "rel", k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5))).toMap

  test("rankEval: a perfectly ordered list scores NDCG 1 and MRR 1") {
    val got = evalOne(Seq((1L, 1L, 3L), (1L, 2L, 2L), (1L, 3L, 1L)))
    val (_, nRel, ndcg, mrr) = got(1L)
    assert(nRel == 3L && ndcg == 1.0 && mrr == 1.0)
  }

  test("rankEval: no relevant candidate gives the 0-not-NULL verdict") {
    val got = evalOne(Seq((1L, 1L, 0L), (1L, 2L, 0L)))
    val (nRanked, nRel, ndcg, mrr) = got(1L)
    assert(nRanked == 2L && nRel == 0L && ndcg == 0.0 && mrr == 0.0)
  }

  test("rankEval: MRR is the reciprocal of the first relevant rank") {
    val got = evalOne(Seq((1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, 2L)))
    assert(got(1L)._4 == 0.333333) // r6(1/3)
    // inverted order scores strictly below 1
    assert(got(1L)._3 > 0.0 && got(1L)._3 < 1.0)
  }

  test("rankEval: candidates beyond k are ignored") {
    val inK = evalOne(Seq((1L, 1L, 1L), (1L, 2L, 0L)))
    val withTail = evalOne(
      Seq((1L, 1L, 1L), (1L, 2L, 0L)) ++ (11L to 20L).map(r => (1L, r, 3L)))
    assert(inK(1L) == withTail(1L))
  }

  // ---- ModelEval.ipsEstimate ----------------------------------------------

  test("ipsEstimate: uniform logs price a constant policy at its mean reward") {
    // two actions, 50/50 logged, rewards 10 (A) and 2 (B); target
    // policy always plays A → w = 2 on matched rows:
    // IPS = (1/4)·Σ_matched 2·10 = 10; SNIPS = 40/4 = 10
    val logs = Seq(("A", 10.0), ("A", 10.0), ("B", 2.0), ("B", 2.0))
      .toDF("action", "reward")
    val r = ModelEval.ipsEstimate(logs, "action", "reward", lit("A"))
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 10.0) // ips
    assert(r.getDouble(3) == 10.0) // snips
    assert(r.getDouble(4) == 4.0)  // matched mass = Σ w = 2·2
  }

  test("ipsEstimate: a policy the logs never matched scores 0 with NULL snips") {
    val logs = Seq(("A", 1.0), ("B", 2.0)).toDF("action", "reward")
    val r = ModelEval.ipsEstimate(logs, "action", "reward", lit("C"))
      .collect().head
    assert(r.getLong(1) == 0L && r.getDouble(2) == 0.0 && r.isNullAt(3))
  }

  // ---- ModelEval.classificationReport / averagePrecision ------------------

  test("classificationReport: hand confusion matrix at a threshold") {
    // scores 1..8 with y=1 on {3,6,7,8}: at t=5 (inclusive ≥), the
    // predicted-positive set is {5,6,7,8} → tp=3 fp=1 fn=1 tn=3
    val rows = Seq(
      (1.0, 0L), (2.0, 0L), (3.0, 1L), (4.0, 0L),
      (5.0, 0L), (6.0, 1L), (7.0, 1L), (8.0, 1L)).toDF("s", "y")
    val r = ModelEval.classificationReport(rows, "s", "y", threshold = 5.0)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 1L, 1L, 3L)))
    assert(r.getDouble(4) == 0.75) // precision 3/4
    assert(r.getDouble(5) == 0.75) // recall 3/4
    assert(r.getDouble(6) == 0.75) // f1 = 6/8
    assert(r.getDouble(7) == 0.75) // accuracy 6/8
  }

  test("classificationReport: all-negative predictions report NULL precision") {
    val rows = Seq((1.0, 1L), (2.0, 0L)).toDF("s", "y")
    val r = ModelEval.classificationReport(rows, "s", "y", threshold = 9.0)
      .collect().head
    assert(r.isNullAt(4) && r.getDouble(5) == 0.0)
  }

  test("averagePrecision: a perfect ranking scores AP = 1") {
    val rows = Seq((5.0, 1L), (4.0, 1L), (3.0, 0L), (2.0, 0L)).toDF("s", "y")
    val r = ModelEval.averagePrecision(rows, "s", "y").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L && r.getDouble(2) == 1.0)
  }

  test("averagePrecision: hand case with an interleaved ranking") {
    // desc: y=1 (tp=1/1), y=0, y=1 (tp=2/3) → AP = (1/2)(1 + 2/3)
    val rows = Seq((3.0, 1L), (2.0, 0L), (1.0, 1L)).toDF("s", "y")
    val r = ModelEval.averagePrecision(rows, "s", "y").collect().head
    assert(math.abs(r.getDouble(2) - (0.5 * (1.0 + 2.0 / 3.0))) < 1e-5)
  }

  test("averagePrecision: ties collapse to one grid point") {
    // both positives share score 2 with one negative above: the grid
    // point at s=2 has pred=3, tp=2 → AP = (2/2)·(2/3)
    val rows = Seq((3.0, 0L), (2.0, 1L), (2.0, 1L)).toDF("s", "y")
    val r = ModelEval.averagePrecision(rows, "s", "y").collect().head
    assert(math.abs(r.getDouble(2) - 2.0 / 3.0) < 1e-5)
  }

  test("rankEval property: NDCG matches a brute-force Scala recompute") {
    val draws = lcg(42L)
    // 20 queries × 8 ranked candidates with random grades 0..3
    val rows = for (q <- 1L to 20L; r <- 1L to 8L)
      yield (q, r, math.floorMod(draws.next(), 4L))
    val got = Ranking.rankEval(rows.toDF("qid", "rank", "rel"),
        "qid", "rank", "rel", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val terms = rs.sortBy(_._2)
        .map { case (_, rank, rel) =>
          r6((math.pow(2.0, rel) - 1) / (math.log(rank + 1.0) / math.log(2.0)))
        }
      val ideal = rs.map(_._3).sortBy(-_).zipWithIndex
        .map { case (rel, i) =>
          r6((math.pow(2.0, rel) - 1) / (math.log(i + 2.0) / math.log(2.0)))
        }
      val (dcg, idcg) = (terms.sum, ideal.sum)
      val want = if (idcg > 0) r6(r6(dcg) / r6(idcg)) else 0.0
      assert(math.abs(got(q) - want) < 1e-9, s"qid $q: ${got(q)} vs $want")
    }
  }
}
