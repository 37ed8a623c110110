package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.queries.Det

/** Round-11 fix pins (VERDICT r10 tasks + advisor items): the dsum6
  * fast path's value identity with dsum, the grouped-adjacency
  * Adamic–Adar's equivalence to the reference self-join spelling, and
  * the heavy-hitter support flag.
  */
class Round11Spec extends SparkTestBase {
  import spark.implicits._

  test("dsum6 equals dsum exactly on 6-dp inputs (the long fast path is a pure speedup)") {
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

  test("grouped-adjacency adamicAdar equals the self-join spelling (same wedge multiset)") {
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

  test("heavy hitters: support_guaranteed is false below the retention bound") {
    // a:16 clears 16·3 ≥ 46; b:10 (30 < 46) is below the bound — if the
    // sketch keeps it, the flag must say so. Only a's presence is
    // GUARANTEED (freq > N/(cap+1)); every returned row's flag must
    // match the recomputed bound either way.
    val rows = Seq.fill(16)("a") ++ Seq.fill(10)("b") ++
      (1 to 20).map(i => s"t$i")
    val df = rows.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text").repartition(8)
    val n = rows.size.toLong
    val out = TextAnalysis.heavyHitters(df, "text", k = 5, capacity = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(out.exists { case (t, _, g) => t == "a" && g })
    assert(out.forall { case (_, f, g) => g == (f * 3 >= n) })
  }
}
