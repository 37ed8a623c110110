package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import graft.SparkTestBase
import graft.util.Lineage

class GraphsSpec extends SparkTestBase {
  import spark.implicits._

  test("coOccurrenceEdges: canonical u<v, loops dropped, multiplicity deduped") {
    val df = Seq(
      ("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 2L), ("g2", 3L), ("g2", 3L), // repeat item → would loop/dup
    ).toDF("grp", "item")
    val got = Graphs.coOccurrenceEdges(df, "grp", "item")
      .orderBy("u", "v").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("triangleCounts: K4 has 4 triangles with every vertex in 3; stars have none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val got = Graphs.triangleCounts(k4)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))

    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("u", "v")
    assert(Graphs.triangleCounts(star).count() == 0)
  }

  test("pageRank: conserves mass, ranks the hub above symmetric leaves") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v") // 1 - 2 - 3
    val r = Graphs.pageRank(path, damping = 0.85, iters = 3)
      .orderBy("x").as[(Long, Double)].collect().toSeq
    val byV = r.toMap
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-12)   // symmetric: no sink mass
    assert(byV(1L) == byV(3L))                        // decimal path: EXACTLY equal
    assert(byV(2L) > byV(1L))
  }

  test("pageRank: 20 iterations rotate generations, conserve mass, free their blocks") {
    // past round 8 the ranks rotate through checkpoints while the
    // lazily cached loop invariants stay cached until exit
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (4L, 5L)).toDF("u", "v")
    val r = Graphs.pageRank(g, iters = 20).as[(Long, Double)].collect()
    assert(r.length == 5)
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-12)
    val residue = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(residue.size <= 2, s"${residue.size} persisted RDDs left behind")
  }

  test("pageRankWeighted with every weight 1 equals pageRank bit for bit") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (4L, 5L), (5L, 6L))
      .toDF("u", "v")
    val plain = Graphs.pageRank(g, iters = 5).as[(Long, Double)].collect().toMap
    val weighted = Graphs.pageRankWeighted(g.withColumn("w", lit(1L)), iters = 5)
      .as[(Long, Double)].collect().toMap
    assert(plain.size == 6)
    assert(weighted == plain)
  }

  test("triangleCounts: one triangle plus a tail counts only the cycle vertices") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = Graphs.triangleCounts(g)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("degreeCapAtQuantile: rank semantics on a star graph") {
    // star: center 0 (deg 9), leaves 1-9 (deg 1); n = 10 vertices
    val star = (1L to 9L).map(l => (0L, l)).toDF("u", "v")
    // ceil(0.9 * 10) = 9 → deg 1 (cum 9) reaches the rank → floored at 2
    assert(Graphs.degreeCapAtQuantile(star, 0.9) == 2L)
    // ceil(1.0 * 10) = 10 → only deg 9's cum reaches it
    assert(Graphs.degreeCapAtQuantile(star, 1.0) == 9L)
    // ceil(0.95 * 10) = 10 → still the hub's degree
    assert(Graphs.degreeCapAtQuantile(star, 0.95) == 9L)
  }

  test("undirected: a plain edge list is stored, a generation is read in place") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val plain = Graphs.undirected(edges, "u", "v")
    assert(plain.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val both = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    assert(plain.as[(Long, Long)].collect().toSet == both)
    plain.unpersist(blocking = true)
    val gen = Lineage.checkpoint(edges)
    val onGen = Graphs.undirected(gen.df, "u", "v")
    assert(onGen.storageLevel == StorageLevel.NONE)
    assert(onGen.as[(Long, Long)].collect().toSet == both)
    Lineage.free(gen)
  }

  test("graph loops read a generation input in place, bit for bit") {
    // an edge frame that is already a generation (qModularity's shared
    // edge list) is not stored a second time: every loop returns the
    // plain input's result and adds only its result's generation
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (5L, 6L), (6L, 7L)).toDF("u", "v")
      .withColumn("w", (col("u") + col("v")) % 3 + 1)
    val loops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "labelPropagation" -> (Graphs.labelPropagation(_, rounds = 3)),
      "pageRank" -> (Graphs.pageRank(_, iters = 3)),
      "pageRankWeighted" -> (Graphs.pageRankWeighted(_, iters = 3)),
      "kCore" -> (Graphs.kCore(_, k = 2)))
    val gen = Lineage.checkpoint(edges)
    loops.foreach { case (name, loop) =>
      val raw = loop(edges).collect().map(_.toString).sorted.toSeq
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val onGen = loop(gen.df)
      val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(added.size == 1, s"$name: ${added.size} RDDs persisted, expected the result only")
      assert(onGen.collect().map(_.toString).sorted.toSeq == raw, name)
    }
    Lineage.free(gen)
  }

  test("pageRank: leaves at most 1 persisted RDD behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L)).toDF("u", "v")
    assert(Graphs.pageRank(g, iters = 3).count() == 4)
    val residue = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(residue.size <= 1, s"${residue.size} persisted RDDs left behind")
  }

  test("kCore: leaves at most 1 persisted RDD behind") {
    // the edge list and every counted frontier are dropped at exit
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    assert(Graphs.kCore(g, k = 2).filter("in_core").count() == 3)
    val residue = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(residue.size <= 1, s"${residue.size} persisted RDDs left behind")
  }

  test("adamicAdarAdaptive == adamicAdar at the derived cap") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (2L, 7L)).toDF("u", "v")
    val cap = Graphs.degreeCapAtQuantile(edges, 0.99)
    val adaptive = Graphs.adamicAdarAdaptive(edges, capQuantile = 0.99, topK = 10)
    val fixed = Graphs.adamicAdar(edges, maxNeighborDeg = cap.toInt, topK = 10)
    assert(adaptive.exceptAll(fixed).isEmpty && fixed.exceptAll(adaptive).isEmpty)
  }

  test("grouped-adjacency adamicAdar equals the self-join spelling (same wedge multiset)") {
    import org.apache.spark.sql.functions.{col, count, log}
    import graft.queries.Det
    // a graph with hubs above and below the cap, multi-edges absent
    // (canonical u < v distinct), triangles and distance-2 pairs
    val edges = (for {
      u <- 0L to 25L; v <- (u + 1) to 25L
      if (u * 31 + v * 17) % 5 == 0 || v == u + 1
    } yield (u, v)).toDF("u", "v")
    val cap = 10
    val viaOp = Graphs.adamicAdar(edges, maxNeighborDeg = cap, topK = 1000)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the r10 reference spelling: center-keyed adjacency self-join
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("w")).agg(count(lit(1)).as("_deg"))
    val adj = sym.select(col("u").as("w"), col("v").as("x"))
      .join(deg, "w")
      .filter(col("_deg") <= cap && col("_deg") >= 2)
      .withColumn("_aw", Det.r6(lit(1.0) / log(col("_deg").cast("double"))))
    val viaJoin = adj.select(col("w"), col("x").as("a"), col("_aw"))
      .join(adj.select(col("w"), col("x").as("b")), "w")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), Det.dsum(col("_aw")).as("aa"))
      .join(edges.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(viaOp.nonEmpty && viaOp.toSeq == viaJoin.toSeq)
  }

  // ---- Graphs.modularity --------------------------------------------------

  /** Two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4. */
  private def twoTriangles =
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("u", "v")

  test("modularity: two bridged triangles under the natural partition") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("x", "community")
    val got = Graphs.modularity(twoTriangles, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // m = 7; each community: 3 internal edges, degree mass 7
    // dq = 3/7 − (7/14)² = 0.17857142… → r6 0.178571
    assert(got(1L) == ((3L, 3L, 7L, 0.178571)))
    assert(got(4L) == ((3L, 3L, 7L, 0.178571)))
  }

  test("modularity: the all-in-one partition scores exactly zero") {
    val labels = (1L to 6L).map(x => (x, 0L)).toDF("x", "community")
    val rows = Graphs.modularity(twoTriangles, labels).collect()
    assert(rows.length == 1)
    // L_c = m and deg_c = 2m → dq = 1 − 1 = 0
    assert(rows.head.getDouble(4) == 0.0)
  }

  test("modularity: singleton partition is never positive") {
    val labels = (1L to 6L).map(x => (x, x)).toDF("x", "community")
    val rows = Graphs.modularity(twoTriangles, labels).collect()
    assert(rows.length == 6)
    assert(rows.forall(r => r.getLong(2) == 0L)) // no internal edges
    assert(rows.map(_.getDouble(4)).sum < 0.0)
  }

  // ---- Graphs.adamicAdar --------------------------------------------------

  test("adamicAdar: scores distance-2 non-edges, skips edges and hubs") {
    // path 1-2-3 plus 3-4: (1,3) and (2,4) are distance-2 non-edges
    // through centers of degree 2; (1,2) is an edge → excluded
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = Graphs.adamicAdar(edges, maxNeighborDeg = 256, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val w = r6(1.0 / math.log(2.0))
    assert(got.keySet == Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L)) == ((1L, r6(w))))
    // a cap below 2 is a contract error (deg-1 centers form no wedges)
    intercept[IllegalArgumentException] {
      Graphs.adamicAdar(edges, maxNeighborDeg = 1, topK = 10)
    }
  }

  test("adamicAdar: hub centers above the cap contribute no wedges") {
    // star center 9 (deg 4) is over cap 3, so ITS wedges — e.g.
    // (3,4), (1,3) — vanish; surviving pairs route only through the
    // deg-2 centers: (1,2) via 5, and (5,9) via 1 and 2
    val edges = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L),
        (5L, 1L), (5L, 2L)).toDF("u", "v")
    val got = Graphs.adamicAdar(edges, maxNeighborDeg = 3, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L), (5L, 9L)))
    assert(got((5L, 9L)) == 2L) // shared centers 1 AND 2
    // without the cap the hub's wedges appear too
    val uncapped = Graphs.adamicAdar(edges, maxNeighborDeg = 256, topK = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((3L, 4L)) && uncapped.contains((1L, 3L)))
  }

  test("adamicAdar: shared neighbors accumulate") {
    // 1 and 2 share centers 3 and 4 (deg 2 each): cn = 2, aa = 2/ln 2
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)).toDF("u", "v")
    val top = Graphs.adamicAdar(edges, maxNeighborDeg = 256, topK = 1)
      .collect().head
    assert((top.getLong(0), top.getLong(1), top.getLong(2)) == ((1L, 2L, 2L)))
    assert(math.abs(top.getDouble(3) - 2.0 / math.log(2.0)) < 1e-5)
  }

  test("modularity property: dq sums stay in [-1, 1] and improve with structure") {
    val draws = lcg(7L)
    // random graph on 30 vertices, ~80 edges, plus a random partition
    val edges = (1 to 80).map { _ =>
      val u = math.floorMod(draws.next(), 30L)
      val v = math.floorMod(draws.next(), 30L)
      (math.min(u, v), math.max(u, v))
    }.filter(e => e._1 != e._2).distinct.toDF("u", "v")
    val rand = (0L to 29L).map(x => (x, math.floorMod(x * 2654435761L, 3L)))
      .toDF("x", "community")
    val qRand = Graphs.modularity(edges, rand)
      .collect().map(_.getDouble(4)).sum
    assert(qRand >= -1.0 && qRand <= 1.0)
    // the trivial all-in-one partition is exactly 0; a random partition
    // of a structureless graph should not beat a perfect one on a
    // genuinely clustered graph
    val clustered = (for (c <- 0L to 2L; i <- 0L until 10L; j <- (i + 1) until 10L)
      yield (c * 10 + i, c * 10 + j)).toDF("u", "v")
    val perfect = (0L to 29L).map(x => (x, x / 10L)).toDF("x", "community")
    val qPerfect = Graphs.modularity(clustered, perfect)
      .collect().map(_.getDouble(4)).sum
    assert(qPerfect > 0.6 && qPerfect <= 1.0) // 3 equal cliques → Q = 2/3
    assert(qPerfect > qRand)
  }
}
