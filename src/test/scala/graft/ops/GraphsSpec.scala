package graft.ops

import org.apache.spark.sql.functions.lit

import graft.SparkTestBase

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

  test("labelPropagation(cacheEdges = false) matches the cached path") {
    // cacheEdges is gone: the "uncached path" is now an edge frame that
    // is already a generation, the cached path the raw frame
    // an edge frame that is already a generation (qModularity's shared
    // edge list) is read in place: same rounds, same argmax rule,
    // bit-identical labels — only the storage behavior differs
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (5L, 6L), (6L, 7L)).toDF("u", "v")
    val raw = Graphs.labelPropagation(edges, rounds = 3)
    val gen = graft.util.Lineage.checkpoint(edges)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val onGen = Graphs.labelPropagation(gen.df, rounds = 3)
    // only the returned label generation is new: no cached edge list
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.size == 1, s"${added.size} RDDs persisted, expected the labels only")
    assert(raw.exceptAll(onGen).isEmpty && onGen.exceptAll(raw).isEmpty)
    graft.util.Lineage.free(gen)
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
}
