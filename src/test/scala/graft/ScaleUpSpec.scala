package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** ScaleUp contract: key disjointness across copies, preserved join
  * fanout, copy-0 byte identity, and disjoint per-copy document
  * vocabulary (the property that keeps dedup/similarity candidate
  * density linear in the factor).
  */
class ScaleUpSpec extends SparkTestBase {

  private val Src = "/root/testdata/sf0.001"

  test("scale-up x3: counts, key integrity, fanout, copy-0 identity") {
    val dst = tmpDir("scaleup")
    try {
      ScaleUp.run(spark, Src, dst, factor = 3)

      def src(n: String) = Tables.table(spark, Src, n)
      def out(n: String) = Tables.table(spark, dst, n)

      // dims unchanged; facts ×3 with keys still distinct
      assert(out("region").count() == src("region").count())
      val nOrders = src("orders").count()
      assert(out("orders").count() == 3 * nOrders)
      assert(out("orders").select(countDistinct(col("o_orderkey"))).head().getLong(0)
        == 3 * nOrders)

      // parent/child strides agree: every scaled lineitem still joins an
      // order, and per-order fanout is exactly the source's
      val joined = out("lineitem").join(out("orders"),
        col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() == out("lineitem").count())
      val srcMaxFan = src("lineitem").groupBy("l_orderkey").count()
        .agg(max("count")).head().getLong(0)
      val outMaxFan = out("lineitem").groupBy("l_orderkey").count()
        .agg(max("count")).head().getLong(0)
      assert(outMaxFan == srcMaxFan, "per-key join fanout must be preserved")

      // copy 0 of documents is byte-identical to the source
      val origIds = src("documents").select("doc_id")
      val copy0 = out("documents").join(origIds, "doc_id")
      assert(copy0.exceptAll(src("documents")).isEmpty
        && src("documents").exceptAll(copy0).isEmpty)

      // per-copy vocabularies are disjoint: no token of copy 0 appears
      // in any other copy (linear — not quadratic — candidate growth)
      val docS = src("documents").agg(max("doc_id")).head().getLong(0) + 1
      val toks = out("documents")
        .withColumn("copy", col("doc_id") / lit(docS))
        .select(col("copy").cast("long").as("copy"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val shared = toks.filter(col("copy") === 0).select("tok").distinct()
        .join(toks.filter(col("copy") > 0).select("tok").distinct(), "tok")
      assert(shared.isEmpty, "copy-0 vocabulary leaked into later copies")

      // embeddings: dimension preserved, jitter small but nonzero
      val d0 = src("embeddings").select(size(col("embedding"))).head().getInt(0)
      assert(out("embeddings").select(size(col("embedding"))).distinct()
        .head().getInt(0) == d0)
      val vecS = src("embeddings").agg(max("vec_id")).head().getLong(0) + 1
      val drift = out("embeddings").filter(col("vec_id") >= vecS)
        .withColumn("orig_id", pmod(col("vec_id"), lit(vecS)))
        .join(src("embeddings").select(col("vec_id").as("orig_id"),
          col("embedding").as("orig")), "orig_id")
        .select(aggregate(zip_with(col("embedding"), col("orig"),
          (a, b) => abs(a - b)), lit(0.0d), (acc, x) => greatest(acc, x)).as("md"))
        .agg(min("md"), max("md")).head()
      assert(drift.getDouble(0) > 0.0, "jitter must move every copied vector")
      assert(drift.getDouble(1) <= 0.05 + 1e-6, "jitter bounded at ±0.05")
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(Path.of(dst)).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
