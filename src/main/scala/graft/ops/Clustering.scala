package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's algorithm) over an embedding column —
  * the centroid-training half of the IVF ANN index
  * ([[Similarity]]: the coarse quantizer there takes stride-sampled
  * vectors as cells; this op refines them into actual cluster centers).
  *
  * Scale shape per iteration: centroids (k rows) broadcast into a
  * crossJoin against the corpus — the classic Lloyd map side; the
  * assignment argmin is a per-row fold; the centroid update shuffles
  * (cluster, dim) partial sums only (map-side combine), never vectors.
  * Nothing is collected to the driver: centroids stay a k-row DataFrame
  * joined lazily each round, and the iteration count is FIXED (an
  * unrolled hyperparameter, like a training epoch count) so the whole
  * computation is one declarative plan.
  *
  * Cross-engine determinism (gate-checkable in DuckDB, which has no
  * k-means): seed-free md5 hash-sample init (no id-density assumption,
  * graceful when n < k), float components cast to double (exact),
  * squared-distance as a LEFT FOLD in index order (every IEEE op
  * identical in any engine), ties broken by lower cluster id, and the
  * centroid-update mean as an exact DECIMAL(38,20) component sum
  * (order-independent; double→decimal casts have no representable
  * round-half tie points) followed by ONE double division. Assignments and centroids reproduce
  * exactly cross-engine (verified in the gate); the reported d2 can
  * differ in the last ulp (fold codegen / FP contraction differences),
  * so gate queries round it to 6 dp.
  */
object Clustering {

  /** Squared L2 distance between two double arrays — the native
    * codegen'd [[graft.functions.SqDist]] expression (r14). Index-order
    * accumulation, deterministic across engines and partitionings;
    * bit-identical to [[sqDistHof]] (Round14Spec pins it), which was
    * the pre-r14 spelling: an interpreted CodegenFallback fold paying
    * one `Expression.eval` dispatch + zipped-array allocation per
    * (vector, centroid) pair in every Lloyd assign and ADC LUT build.
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDist.sq(a, b)

  /** The HOF spelling of [[sqDist]], kept for the A/B pin. */
  private[graft] def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Fixed-iteration Lloyd k-means.
    *
    * @return (vec_id, cluster, d2) — the assignment under the FINAL
    *         centroids, d2 = exact squared distance (callers round for
    *         cross-engine hashing).
    */
  def kmeans(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
  ): DataFrame = {
    // exact float→double widening once, up front
    val vecs = emb.select(
      col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))

    nearest(vecs, lloyd(vecs, seed(vecs, k), Nil, "v", iters), Nil, "v")
  }

  /** kmeans' initial centroids over `vecs` (vec_id, v): deterministic
    * hash-sample init, the k vectors with the smallest
    * md5('kmeans' || id) — a uniform pseudo-random draw with no RNG
    * state, no assumption about id density or range (a stride over raw
    * id VALUES returns nothing on shifted ids and divides by zero when
    * n < k). orderBy+limit plans as TakeOrdered (per-partition top-k,
    * no global sort); the k survivors rank into cluster ids on a
    * k-row frame. n < k degrades gracefully to n centroids.
    *
    * @return (cluster, c)
    */
  private[ops] def seed(vecs: DataFrame, k: Int): DataFrame =
    vecs
      .withColumn("_h", md5(concat(lit("kmeans"), col("vec_id").cast("string"))))
      .orderBy(col("_h"), col("vec_id"))
      .limit(k)
      .withColumn("cluster",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("_h"), col("vec_id"))) - 1).cast("int"))
      .select(col("cluster"), col("v").as("c"))

  /** The nearest centroid of each point: `pts` (vec_id, keys…, `vec`)
    * against the broadcast `cent` (keys…, cluster, c). Without keys
    * every point meets every centroid (the kmeans cross join); with
    * keys only its own group's (PQ's subspace). Ties go to the lower
    * cluster id.
    *
    * @return (vec_id, keys…, cluster, d2)
    */
  private[ops] def nearest(
      pts: DataFrame, cent: DataFrame, keys: Seq[String], vec: String): DataFrame = {
    val pairs =
      if (keys.isEmpty) pts.crossJoin(broadcast(cent))
      else pts.join(broadcast(cent), keys)
    val ids = ("vec_id" +: keys).map(col)
    pairs
      .withColumn("d2", sqDist(col(vec), col("c")))
      .groupBy(ids: _*)
      .agg(min(struct(col("d2"), col("cluster"))).as("_best"))
      .select(ids :+ col("_best.cluster").as("cluster") :+
        col("_best.d2").as("d2"): _*)
  }

  /** `iters` Lloyd rounds from the centroids `init`, keyed like
    * [[nearest]]: assign every point, then rebuild each (keys…,
    * cluster) centroid from exact decimal component sums
    * (order-independent), one double division per component, the
    * array rebuilt in index order. Rounds run lazily through
    * [[graft.util.Lineage.unrolled]]; past 8 rounds the returned frame
    * reads the one centroid generation behind it, which stays
    * persisted while the frame may still be read.
    *
    * @return the final centroids (keys…, cluster, c)
    */
  private[ops] def lloyd(
      pts: DataFrame, init: DataFrame, keys: Seq[String], vec: String,
      iters: Int): DataFrame =
    graft.util.Lineage.unrolled(init, iters) { cent =>
      nearest(pts, cent, keys, vec)
        .join(pts, "vec_id" +: keys)
        .select(keys.map(col) :+ col("cluster") :+
          posexplode(col(vec)).as(Seq("pos", "x")): _*)
        .groupBy((keys :+ "cluster" :+ "pos").map(col): _*)
        .agg((sum(col("x").cast("decimal(38,20)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy((keys :+ "cluster").map(col): _*)
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m")).as("c"))
    }._1

  /** DuckDB spelling of [[kmeans]] — the oracle side, generated for the
    * same (k, iters) so the unrolled CTE chain mirrors the loop above.
    * `finalSelect` wraps the last assignment CTE (named `a`).
    */
  def kmeansOracleSql(k: Int, iters: Int, finalSelect: String): String = {
    val d2 =
      "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(v) + 1), " +
        "i -> (v[CAST(i AS INT)] - c[CAST(i AS INT)]) * " +
        "(v[CAST(i AS INT)] - c[CAST(i AS INT)]))), (acc, x) -> acc + x)"
    def assignCte(name: String, cent: String): String =
      s"$name AS (SELECT vec_id, best.c2 AS cluster, best.d AS d2 FROM (" +
        s"SELECT vec_id, min({'d': $d2, 'c2': cluster}) AS best " +
        s"FROM vecs, $cent GROUP BY vec_id))"
    def updateCte(name: String, asg: String): String =
      s"$name AS (SELECT cluster, list(m ORDER BY pos) AS c FROM (" +
        "SELECT cluster, pos, CAST(CAST(sum(CAST(x AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE) / count(*) AS m " +
        s"FROM (SELECT $asg.cluster, u.i AS pos, v[CAST(u.i AS INT)] AS x " +
        s"FROM $asg JOIN vecs USING (vec_id), unnest(range(1, len(v) + 1)) AS u(i)) " +
        "GROUP BY cluster, pos) GROUP BY cluster)"
    val base =
      "vecs AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
        "ranked AS (SELECT v, (row_number() OVER (ORDER BY " +
        "md5('kmeans' || vec_id::VARCHAR), vec_id) - 1)::INT AS cluster FROM vecs), " +
        s"cent0 AS (SELECT cluster, v AS c FROM ranked WHERE cluster < $k)"
    val steps = (1 to iters).flatMap { i =>
      Seq(assignCte(s"asg$i", s"cent${i - 1}"), updateCte(s"cent$i", s"asg$i"))
    }
    val last = assignCte("a", s"cent$iters")
    (Seq(base) ++ steps :+ last).mkString("WITH ", ", ", s" $finalSelect")
  }
}
