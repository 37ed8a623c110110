package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-10 hardening: dbscan exit hygiene + occupancy-derived grid,
  * the quantile-derived Adamic–Adar hub cap and the bootstrap
  * replicate bound.
  */
class Round10Spec extends SparkTestBase {
  import spark.implicits._

  /** The MiningSpec dbscan fixture: two 5-point blobs, a border point
    * attached to blob A, one noise point. */
  private def blobPts =
    ((0 to 4).map(i => (i.toLong, 40.5 + i * 0.0005, -74.0)) ++
      (10 to 14).map(i => (i.toLong, 40.6 + (i - 10) * 0.0005, -74.1)) ++
      Seq((20L, 40.5 + 4 * 0.0005 + 0.0025, -74.0), (30L, 41.0, -74.5)))
      .toDF("id", "lat", "lon")

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

  test("bootstrapMeanCI enforces the bounded replicate-window contract") {
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
