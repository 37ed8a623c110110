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
}
