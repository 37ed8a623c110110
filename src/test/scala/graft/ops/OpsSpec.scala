package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.SimHash64
import graft.sources.Tables

/** Property tests for the dedup/similarity/text/multimodal operators on
  * the sf0.001 documents/embeddings tables.
  */
class OpsSpec extends SparkTestBase {

  lazy val docs = Tables.table(spark, Sf0001, "documents").cache()
  lazy val emb = Tables.table(spark, Sf0001, "embeddings").cache()

  test("exact dedup partitions the corpus: copies sum to row count") {
    val d = Dedup.exactDuplicates(docs, "doc_id",
      Dedup.wordSetKey(TextAnalysis.tokens(col("text"))))
    assert(d.agg(sum("copies")).head().getLong(0) == docs.count())
    assert(d.filter("copies < 1").count() == 0)
  }

  test("LSH candidate pairs are plausible near-dups (Jaccard ≥ 0.5)") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.0)
    val stats = pairs.agg(min("jac"), count(lit(1))).head()
    if (stats.getLong(1) > 0) assert(stats.getDouble(0) >= 0.5)
  }

  test("near-dup pairs at threshold 0.8 are verified candidates") {
    val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text").count()
    val near = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8).count()
    assert(near <= cand)
  }

  test("adversarial bucket: identical docs stay connected under a tight cap") {
    import spark.implicits._
    // 200 byte-identical docs — every band hashes to ONE bucket. Uncapped,
    // that bucket expands O(n²) in a single task; with cap=20 the in-cap
    // ids fully pair (C(20,2)=190) and the 180 overflow ids each emit one
    // star pair to the bucket min — linear, and still one cluster.
    val n = 200
    val cap = 20
    val clones = (1 to n).map(i =>
      (i.toLong, "the same boilerplate text repeated across the corpus body"))
      .toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(clones, "doc_id", "text", bucketCap = cap).cache()
    val expect = cap.toLong * (cap - 1) / 2 + (n - cap)
    assert(pairs.count() == expect, s"expected $expect capped pairs")
    // overflow members all pair with the bucket min (doc 1)
    assert(pairs.filter(col("doc_b") > cap).filter(col("doc_a") =!= 1L).count() == 0)
    // connectivity survives the cap: one cluster, labelled by the min id
    val clusters = Dedup.duplicateClusters(pairs)
    assert(clusters.select("cluster_id").distinct().count() == 1)
    assert(clusters.count() == n.toLong)
    pairs.unpersist()
  }

  test("duplicate clusters of an empty pair list are empty, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(empty).count() == 0)
  }

  test("asofJoinSmall rejects a right side over the broadcast guard") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("id", "t")
    val right = (1L to 50L).map(i => (i, i * 2)).toDF("t", "v")
    val e = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoinSmall(left, right, "t", "t", "v", maxRightRows = 10)
    }
    assert(e.getMessage.contains("asofJoinBig"))
    // under the guard the join still works
    val ok = TemporalJoins.asofJoinSmall(left, right, "t", "t", "v", maxRightRows = 100)
    assert(ok.count() == 1)
  }

  test("duplicate clusters match a driver-side union-find on the same pairs") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5).cache()
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent oracle: classic union-find over the collected pairs
    val edges = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got.keySet == want.keySet)
    // same partition: min-reachable-id labels agree with union-find roots
    got.foreach { case (id, c) => assert(c == want(id), s"doc $id") }
  }

  test("fast clustering (hook+shortcut) matches plain propagation on the corpus") {
    import spark.implicits._
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.8)
      .cache()
    val plain = Dedup.duplicateClusters(pairs)
    val fast = Dedup.duplicateClustersFast(pairs)
    assert(plain.exceptAll(fast).isEmpty && fast.exceptAll(plain).isEmpty)
    pairs.unpersist()
    // empty pair list: empty result, no NPE
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClustersFast(none).count() == 0)
  }

  test("fast clustering: a 200-link chain converges in O(log n) rounds") {
    import spark.implicits._
    // worst case for plain propagation (needs ~200 rounds — why the
    // fast variant exists); pointer doubling must finish in ~log2(200)
    // plus hooking slack, far under the 20-round ceiling
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClustersFast(chain, maxRounds = 20)
    assert(out.count() == 201)
    assert(out.filter(col("cluster_id") =!= 0L).count() == 0,
      "every chain node must label to the min id 0")
  }

  test("clustering frees its checkpoint generations: bounded block-manager residue") {
    import spark.implicits._
    // 200-link chain → ~10 hook+shortcut rounds, each localCheckpointing
    // a corpus-sized label frame. Rotation (graft.util.Lineage) must
    // leave only the FINAL generation persisted — without it every
    // round's blocks stay until a driver GC, which a long-lived session
    // (a bench, a query service) may not run for half an hour.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClustersFast(chain, maxRounds = 20)
    assert(out.count() == 201)
    val residue = spark.sparkContext.getPersistentRDDs.keySet -- before
    // final labels generation (+ possibly its still-draining async
    // unpersists) — the bound is "constant", not "per round"
    assert(residue.size <= 3,
      s"${residue.size} persisted RDDs left behind (expected ≤3: rotation broken)")
  }

  test("canonicalDocsBy keeps the best-scoring cluster member, not the min id") {
    import spark.implicits._
    // cluster {1,2,3} where doc 2 scores highest; {7,8} tied → min id 7;
    // 9 is a singleton (absent from clusters) and must pass through
    val d = Seq((1L, 10L), (2L, 99L), (3L, 50L), (7L, 5L), (8L, 5L), (9L, 1L))
      .toDF("doc_id", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.canonicalDocsBy(d, "doc_id", clusters, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 7L, 9L), s"kept $kept")
    // min-id rule keeps 1, not the best-scoring 2
    val minId = Dedup.canonicalDocs(d, "doc_id", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 7L, 9L))
  }

  test("recallAtK: exact-vs-itself is 1.0; disjoint result is 0.0") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("qid", "cid")
    val self = Similarity.recallAtK(exact, exact).orderBy("qid").collect()
    assert(self.forall(_.getAs[Double]("recall") == 1.0))
    val miss = Seq((1L, 99L), (2L, 99L)).toDF("qid", "cid")
    val zero = Similarity.recallAtK(miss, exact).orderBy("qid").collect()
    assert(zero.forall(_.getAs[Double]("recall") == 0.0))
    assert(zero.map(_.getAs[Long]("n_exact")).toSeq == Seq(2L, 1L))
  }

  test("minhash codegen expression agrees with the relational form exactly") {
    import spark.implicits._
    val fast = Dedup.minhashSignatures(docs, "doc_id", "text", 8)
    val ref = Dedup.minhashSignaturesRelational(docs, "doc_id", "text", 8)
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
    // no-shingle docs (< 3 tokens) drop in BOTH forms
    val tiny = Seq((1L, "just two"), (2L, "a full three tokens here"))
      .toDF("doc_id", "text")
    val f = Dedup.minhashSignatures(tiny, "doc_id", "text", 4)
    assert(f.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    // the expression path is a narrow projection: no exchange in its plan
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signature pass should not shuffle:\n$plan")
  }

  test("simhash: word-permuted duplicates collapse to identical hashes") {
    val multisetKey =
      md5(concat_ws(" ", array_sort(TextAnalysis.tokens(col("text")))))
    val hashed = Dedup.simhashes(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), multisetKey.as("k")), "doc_id")
    // docs sharing a token-multiset key are shuffles of the same bag of
    // words — simhash over tokens is permutation-invariant, so must agree
    val groups = hashed.groupBy("k")
      .agg(countDistinct("simhash").as("n"), count(lit(1)).as("c"))
    assert(groups.filter(col("c") > 1).filter(col("n") =!= 1).count() == 0)
  }

  test("simhash hamming: near-dups closer than random pairs") {
    val h = Dedup.simhashes(docs, "doc_id", "text")
    val a = h.toDF("doc_a", "ha")
    val b = h.toDF("doc_b", "hb")
    val near = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
      .join(a, "doc_a").join(b, "doc_b")
      .withColumn("d", SimHash64.hamming(col("ha"), col("hb")))
    if (near.count() > 0) {
      val nearAvg = near.agg(avg("d")).head().getDouble(0)
      val randAvg = a.crossJoin(b).filter(col("doc_a") =!= col("doc_b")).limit(2000)
        .withColumn("d", SimHash64.hamming(col("ha"), col("hb")))
        .agg(avg("d")).head().getDouble(0)
      assert(nearAvg < randAvg)
    }
  }

  test("cosine top-k: ranks are dense, scores descending, self excluded") {
    val q = emb.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val top = Similarity.cosineTopK(q, c, 5).cache()
    assert(top.filter(col("qid") === col("cid")).count() == 0)
    val perQ = top.groupBy("qid").agg(count(lit(1)).as("n"), max("rank").as("mr"))
    assert(perQ.filter(col("n") =!= 5 || col("mr") =!= 5).count() == 0)
    val bad = top.as("x").join(top.as("y"),
      col("x.qid") === col("y.qid") && (col("x.rank") === col("y.rank") - 1))
      .filter(col("x.score") < col("y.score"))
    assert(bad.count() == 0)
  }

  test("bucketed top-k returns a subset of each query's bucket with sane recall") {
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = Similarity.cosineTopK(q, c, 10).select("qid", "cid")
    val approx = Similarity.bucketedTopK(q, c, 10, nBits = 2).select("qid", "cid")
    val hits = approx.intersect(exact).count()
    assert(approx.count() > 0)
    assert(hits >= 0) // recall reported, not asserted: LSH trades recall for fan-in
    info(s"bucketed recall: $hits/${exact.count()}")
  }

  test("int8-quantized search: top-10 recall vs exact stays high") {
    // the storage claim (4x) is arithmetic; the QUALITY claim — that
    // searching decoded uint8 vectors finds the same neighbours — is
    // what this asserts: recall@10 ≥ 0.8 over the sf0.001 corpus
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val dec = Quantization.quantizeVectors(emb, "vec_id", "embedding")
      .select(col("vec_id").as("cid"),
        transform(col("codes"), c =>
          (col("mn") + c.cast("double") * col("scale")).cast("float")).as("ce"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = Similarity.cosineTopK(q, c, 10).select("qid", "cid")
    val quant = Similarity.cosineTopK(q, dec, 10).select("qid", "cid")
    val total = exact.count()
    val hits = quant.intersect(exact).count()
    assert(hits >= (total * 8) / 10, s"quantized recall $hits/$total below 0.8")
    info(s"quantized recall: $hits/$total")
  }

  test("bounded-heap top-k aggregator agrees with the window form row-for-row") {
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val viaWindow = Similarity.cosineTopK(q, c, 7)
      .select("qid", "cid", "score", "rank").orderBy("qid", "rank").collect()
    val viaAgg = Similarity.cosineTopKAgg(q, c, 7)
      .orderBy("qid", "rank").collect()
    assert(viaWindow.length == viaAgg.length && viaWindow.length == 35)
    viaWindow.zip(viaAgg).foreach { case (w, a) =>
      assert(w.getLong(0) == a.getLong(0) && w.getLong(1) == a.getLong(1) &&
        w.getDouble(2) == a.getDouble(2) && w.getInt(3) == a.getInt(3))
    }
  }

  test("embedding near-dup pairs: canonical order, verified, bucket-local") {
    val pairs = Dedup.embeddingDupPairs(
      emb.select("vec_id", "embedding"), "vec_id", "embedding",
      threshold = 0.3, nBits = 2).cache()
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(pairs.filter(col("cos") < 0.3 || col("cos") > 1.0).count() == 0)
    // every pair's vectors share their LSH bucket by construction
    val bk = emb.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 2).as("b"))
    val crossBucket = pairs
      .join(bk.toDF("id_a", "ba"), "id_a")
      .join(bk.toDF("id_b", "bb"), "id_b")
      .filter(col("ba") =!= col("bb"))
    assert(crossBucket.count() == 0)
  }

  test("multi-probe LSH recall dominates single-bucket recall") {
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = Similarity.cosineTopK(q, c, 10).select("qid", "cid").cache()
    val single = Similarity.bucketedTopK(q, c, 10, nBits = 4).select("qid", "cid")
    val multi = Similarity.multiProbeTopK(q, c, 10, nBits = 4).select("qid", "cid")
    val singleHits = single.intersect(exact).count()
    val multiHits = multi.intersect(exact).count()
    assert(multiHits >= singleHits, s"multi $multiHits < single $singleHits")
    // multi-probe candidate set contains the single-bucket set
    assert(single.exceptAll(multi).count() == 0 ||
      single.intersect(multi).count() > 0)
    info(s"recall single=$singleHits multi=$multiHits of ${exact.count()}")
  }

  test("IVF top-k: candidates partition into cells, probe recall reported") {
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val approx = Similarity.ivfTopK(q, c, 10, stride = 64, nProbe = 2).cache()
    assert(approx.filter(col("qid") === col("cid")).count() == 0)
    assert(approx.groupBy("qid", "cid").count().filter(col("count") > 1).count() == 0)
    val exact = Similarity.cosineTopK(q, c, 10).select("qid", "cid")
    val hits = approx.select("qid", "cid").intersect(exact).count()
    assert(approx.count() > 0)
    info(s"IVF recall: $hits/${exact.count()}")
  }

  test("IVF top-k probing every cell equals exact cosine top-k row for row") {
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val cells = emb.filter(col("vec_id") % 64 === 0).count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "score", "rank").orderBy("qid", "rank").collect().toSeq
    val ivf = rows(Similarity.ivfTopK(q, c, 10, stride = 64, nProbe = cells))
    assert(cells > 1 && ivf.length == 50)
    assert(ivf == rows(Similarity.cosineTopK(q, c, 10)))
  }

  test("bucketed top-k equals exact top-k over the query's own LSH bucket") {
    import org.apache.spark.sql.expressions.Window
    import graft.queries.Det.r6
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val approx = Similarity.bucketedTopK(q, c, 10, nBits = 4)
      .select(col("qid"), col("cid"), r6(col("score")).as("score"), col("rank"))
      .orderBy("qid", "rank").collect().toSeq
    // the same-bucket candidates, spelled without the library's generator
    val exact = c.withColumn("b", Similarity.lshBucket(col("ce"), 4))
      .join(q.withColumn("b", Similarity.lshBucket(col("qe"), 4)), "b")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), r6(Similarity.cosine(col("qe"), col("ce"))).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("cid"))))
      .filter(col("rank") <= 10)
      .orderBy("qid", "rank").collect().toSeq
    assert(approx.nonEmpty && approx == exact)
  }

  test("codegen cosine matches the declarative HOF reference bit-for-bit") {
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("vb")))
      .filter(col("a_id") < col("b_id")).limit(5000)
    val bad = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("fast"),
      Similarity.cosineHof(col("va"), col("vb")).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(bad == 0)
  }

  test("codegen LSH bucket matches the declarative HOF reference bit-for-bit") {
    for (nBits <- Seq(1, 4, 8)) {
      val mismatches = emb.select(
        Similarity.lshBucket(col("embedding"), nBits).as("fast"),
        Similarity.lshBucketHof(col("embedding"), nBits).as("ref"))
        .filter(col("fast") =!= col("ref"))
        .count()
      assert(mismatches == 0, s"nBits=$nBits")
      val range = emb.select(Similarity.lshBucket(col("embedding"), nBits).as("b"))
        .agg(min("b"), max("b")).head()
      assert(range.getInt(0) >= 0 && range.getInt(1) < (1 << nBits))
    }
  }

  test("rolling-hash fingerprint matches a naive per-window recompute") {
    import graft.functions.RollingHash
    val w = 16
    def naive(text: String): Long = {
      val b = text.getBytes("UTF-8")
      def hashOf(from: Int, until: Int): Long =
        b.slice(from, until).foldLeft(0L)((h, c) => h * RollingHash.Base + (c & 0xff))
      if (b.isEmpty) 0L
      else if (b.length <= w) hashOf(0, b.length)
      else (0 to b.length - w).map(i => hashOf(i, i + w))
        .min(Ordering.fromLessThan[Long](java.lang.Long.compareUnsigned(_, _) < 0))
    }
    val got = docs.select(col("doc_id"), col("text"),
      RollingHash.winnowedMin(col("text"), w).as("fp")).collect()
    got.foreach { r =>
      assert(r.getLong(2) == naive(r.getString(1)), s"doc ${r.getLong(0)}")
    }
    // identical content → identical fingerprint; differing content rarely collides
    val dupFps = docs.groupBy("text")
      .agg(countDistinct(RollingHash.winnowedMin(col("text"), w)).as("n"))
      .filter(col("n") =!= 1)
    assert(dupFps.count() == 0)
  }

  test("text stats: ratios in [0,1], counts consistent") {
    val t = TextAnalysis
    val s = docs.select(
      t.punctRatio(col("text")).as("p"),
      t.stopwordRatio(t.tokens(col("text"))).as("s"),
      size(t.tokens(col("text"))).as("n"),
      t.bpeTokenCount(col("text")).as("b"))
    assert(s.filter("p < 0 OR p > 1 OR s < 0 OR s > 1").count() == 0)
    assert(s.filter("b < n").count() == 0) // BPE-ish splits ≥ whitespace tokens
  }

  test("range join equals the naive theta join") {
    import graft.sources.Tables
    val ev = Tables.events(spark, Sf0001).select(col("event_id"), col("ts"))
    val windows = Tables.events(spark, Sf0001)
      .filter(col("user_id") <= 10)
      .groupBy(col("user_id").as("w_user"))
      .agg(min(col("ts")).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 8 HOURS"))
    val bucketed = TemporalJoins
      .rangeJoin(ev, windows, "ts", "w_start", "w_end", bucketSeconds = 3600)
      .select("event_id", "w_user").collect().map(_.toString).sorted
    val naive = ev.crossJoin(windows)
      .filter(col("ts") >= col("w_start") && col("ts") <= col("w_end"))
      .select("event_id", "w_user").collect().map(_.toString).sorted
    assert(bucketed.sameElements(naive) && naive.nonEmpty)
  }

  test("big-big as-of equals the broadcast form on a single-key frame") {
    import graft.sources.Tables
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("ts"), col("value"))
      .withColumn("k", lit(1))
    val daily = ev.groupBy(to_date(col("ts")).as("d")).agg(sum("value").as("s"))
    val small = TemporalJoins.asofJoinSmall(
      ev.withColumn("ed", to_date(col("ts"))), daily, "ed", "d", "s")
      .select("event_id", "asof_t", "asof_v")
    val big = TemporalJoins.asofJoinBig(
      ev.withColumn("ed", to_date(col("ts"))),
      daily.withColumn("k", lit(1)), "k", "ed", "d", "s")
      .select("event_id", "asof_t", "asof_v")
    val a = small.orderBy("event_id").collect().map(_.toString)
    val b = big.orderBy("event_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("forward as-of mirrors backward on a reversed axis; tolerance nulls stale matches") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L))
      .toDF("k", "t").withColumn("t", col("t").cast("timestamp"))
    val right = Seq((1L, 5L, 1.0), (1L, 20L, 2.0), (1L, 25L, 3.0), (2L, 9L, 4.0))
      .toDF("k", "t", "v").withColumn("t", col("t").cast("timestamp"))
    val fwd = TemporalJoins
      .asofJoinBigForward(left, right, "k", "t", "t", "v")
      .orderBy("k", "t").collect()
      .map(r => Option(r.getAs[Any]("asof_v")).map(_.asInstanceOf[Double]))
    // t=10 → next right t=20 (2.0); t=20 → strictly after → 25 (3.0);
    // t=30 → none; k=2 t=10 → nothing after
    assert(fwd.toSeq == Seq(Some(2.0), Some(3.0), None, None))
    val tol = TemporalJoins.withAsofTolerance(
      TemporalJoins.asofJoinBig(left, right, "k", "t", "t", "v"), "t", toleranceSec = 6)
      .orderBy("k", "t").collect()
      .map(r => Option(r.getAs[Any]("asof_v")).map(_.asInstanceOf[Double]))
    // t=10 → prev 5 (gap 5 ≤ 6 → 1.0); t=20 → prev 5 (gap 15 → null);
    // t=30 → prev 25 (gap 5 → 3.0); k=2 t=10 → prev 9 (gap 1 → 4.0)
    assert(tol.toSeq == Seq(Some(1.0), None, Some(3.0), Some(4.0)))
  }

  test("hash embedding: unit norm, content-determined, cosine sanity") {
    import spark.implicits._
    val e = TextAnalysis.hashEmbedding(docs, "doc_id", "text", 64).cache()
    assert(e.count() == docs.count())
    val withNorm = e.withColumn("n",
      sqrt(aggregate(transform(col("embedding"), x => x * x), lit(0.0), _ + _)))
    assert(withNorm.filter(col("n") =!= 0.0)
      .filter(abs(col("n") - 1.0) > 1e-9).count() == 0)
    // same token multiset (any order) → identical vector; disjoint
    // vocab → near-orthogonal (hash collisions only)
    val crafted = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta alpha alpha gamma"),
      (3L, "delta epsilon zeta eta theta iota"),
    ).toDF("doc_id", "text")
    val ce = TextAnalysis.hashEmbedding(crafted, "doc_id", "text", 64)
      .orderBy("doc_id").collect().map(_.getSeq[Double](1))
    assert(ce(0) == ce(1))
    val cos12 = ce(0).zip(ce(2)).map { case (a, b) => a * b }.sum
    assert(math.abs(cos12) < 0.5, s"disjoint docs should be near-orthogonal: $cos12")
    e.unpersist()
  }

  test("incremental dedup equals the cross slice of the full self-join") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val inc = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", "text", 0.8)
      .select(col("batch_id"), col("corpus_id"),
        round(col("jac"), 6).as("jac")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the full self-join's cross pairs (one side in each subset),
    // reordered to (batch, corpus)
    val full = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
      .collect()
      .flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        if (a % 5 == 0 && b % 5 != 0) Some((a, b, j))
        else if (b % 5 == 0 && a % 5 != 0) Some((b, a, j))
        else None
      }.toSet
    assert(inc == full)
  }

  test("simhash banded pairs: exact recall vs brute-force Hamming ≤ 3") {
    val sh = Dedup.simhashes(docs, "doc_id", "text")
    val brute = sh.toDF("doc_a", "ha").crossJoin(sh.toDF("doc_b", "hb"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= 3).select("doc_a", "doc_b", "hamming")
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3)
    // pigeonhole: banding may not LOSE any pair the brute force finds
    assert(banded.count() == brute.count())
    assert(banded.except(brute).isEmpty && brute.except(banded).isEmpty)
  }

  test("repetition metrics: fold matches crafted truths and relational recount") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "a a a a"),                                  // fully repeated
      (2L, "x y x y x y x y"),                          // alternating
      (3L, (1 to 30).map(i => s"w$i").mkString(" ")),   // all distinct
      (4L, "solo"),                                     // too short for n-grams
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(crafted, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(m(0).getAs[Double]("dup_token_frac") == 0.75)
    assert(m(0).getAs[Double]("top_bigram_frac") == 1.0)   // "a a" ×3 of 3
    assert(m(0).getAs[Double]("dup_trigram_frac") == 1.0)  // "a a a" ×2 of 2
    assert(m(0).getAs[Int]("keep") == 0)
    assert(m(1).getAs[Double]("top_bigram_frac") == 4.0 / 7) // "x y" ×4 of 7
    assert(m(1).getAs[Double]("dup_trigram_frac") == 1.0)
    assert(m(2).getAs[Double]("dup_token_frac") == 0.0)
    assert(m(2).getAs[Int]("keep") == 1)
    assert(m(3).getAs[Double]("top_bigram_frac") == 0.0)   // guarded 0/0
    assert(m(3).getAs[Int]("keep") == 1)
    // the per-row fold agrees with an independent relational recount
    // (explode → group-by count → max) on the whole corpus fixture
    val rel = docs.select(col("doc_id"),
      explode(TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), 2)).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(max("count").as("top_rel"))
    val fold = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .select(col("doc_id"),
        (col("top_bigram_frac") * (col("n_tokens") - 1)).as("top_fold"))
    assert(fold.join(rel, "doc_id")
      .filter(abs(col("top_fold") - col("top_rel")) > 1e-9).count() == 0)
  }

  test("heavy hitters: sketch-then-verify equals exact top-k under tight capacity") {
    import spark.implicits._
    // Zipf-ish head + a 5000-token unique tail; capacity 16 ≪ vocabulary
    // forces real Misra–Gries evictions in reduce AND merge, yet every
    // head token clears the N/(capacity+1) survival bound
    val rows = (1 to 5).flatMap(i => Seq.fill(6000 / i)(s"h$i")) ++
      (1 to 5000).map(i => s"tail$i")
    val df = rows.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
      .repartition(32)
    val hh = TextAnalysis.heavyHitters(df, "text", k = 5, capacity = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = df.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hh == exact)
    assert(hh.head == ("h1", 6000L))
    // the retention-bound contract column: freq·(capacity+1) ≥ N,
    // recomputed here from the exact corpus size — every head token
    // clears the bound in this fixture, and the column must say so
    val n = rows.size.toLong
    val flags = TextAnalysis.heavyHitters(df, "text", k = 5, capacity = 16)
      .collect().map(r => (r.getLong(1), r.getBoolean(2))).toSeq
    assert(flags.forall { case (freq, g) => g == (freq * 17 >= n) })
    assert(flags.forall(_._2), "fixture head tokens must all clear the bound")
  }

  test("kmeans: deterministic under repartitioning, monotone in iterations") {
    val base = Clustering.kmeans(emb, "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("vec_id").collect()
    val shuffled = Clustering.kmeans(emb.repartition(13), "vec_id", "embedding",
      k = 4, iters = 2).orderBy("vec_id").collect()
    assert(base.sameElements(shuffled))
    assert(base.map(_.getAs[Int]("cluster")).distinct.length > 1)
    // Lloyd objective never increases with more iterations
    def objective(iters: Int): Double =
      Clustering.kmeans(emb, "vec_id", "embedding", k = 4, iters = iters)
        .agg(sum("d2")).head().getDouble(0)
    assert(objective(2) <= objective(1) + 1e-9)
  }

  test("HLL sketch cardinalities land within the declared error bound") {
    val p = TextAnalysis.vocabProfile(docs, "doc_id", "text").head()
    val (vExact, vApprox) = (p.getLong(0), p.getLong(1))
    val (dExact, dApprox) = (p.getLong(2), p.getLong(3))
    // rsd 0.02 → allow 5 sigma ≈ 10%
    assert(math.abs(vApprox - vExact).toDouble / vExact < 0.10, s"$vApprox vs $vExact")
    assert(math.abs(dApprox - dExact).toDouble / dExact < 0.10, s"$dApprox vs $dExact")
    assert(p.getLong(4) > 0)
  }

  test("tfidf: smoothed idf bounds and df monotonicity") {
    val scored = TextAnalysis.tfidf(docs, "doc_id", "text").cache()
    // smoothed idf ∈ [1, ln(N+1)+1]; tf ≥ 1; tfidf = tf·idf
    val n = docs.count()
    assert(scored.filter(col("idf") < 1.0 || col("idf") > math.log(n + 1.0) + 1.0).count() == 0)
    assert(scored.filter(col("tf") < 1).count() == 0)
    assert(scored.filter(abs(col("tfidf") - col("tf") * col("idf")) > 1e-12).count() == 0)
    // a token in every doc scores the minimum idf
    val ubiquitous = scored.groupBy("token").agg(max("df").as("df"), min("idf").as("idf"))
      .filter(col("df") === n)
    assert(ubiquitous.filter(abs(col("idf") - (math.log((n + 1.0) / (n + 1.0)) + 1.0)) > 1e-12).count() == 0)
    scored.unpersist()
  }

  test("language ID predicts a declared language") {
    val toks = TextAnalysis.tokens(col("text"))
    val pred = docs.select(
      TextAnalysis.langPredict(TextAnalysis.langHits(toks)).as("l"))
    val langs = TextAnalysis.LangMarkers.map(_._1).toSet
    assert(pred.distinct().collect().map(_.getString(0)).toSet.subsetOf(langs))
  }

  test("multimodal stub pipeline: features consistent with payloads") {
    val blobs = Multimodal.asBlobs(docs, "doc_id", "text", "image")
    val feats = Multimodal.extractFeatures(blobs).cache()
    assert(feats.count() == docs.count())
    val joined = feats.toDF().join(docs, "doc_id")
    assert(joined.filter(col("n_bytes") =!= length(col("text"))).count() == 0)
    assert(feats.filter(col("fake_width") < 1 || col("fake_width") > 64).count() == 0)
    val frames = Multimodal.sampleFrames(blobs, 4)
    assert(frames.count() == docs.count() * 4)
    val resized = Multimodal.resizeStub(blobs, 8)
    assert(resized.count() == docs.count())
    // fixed-size output contract: every grid is exactly side², values byte-range
    assert(resized.filter(size(col("pixels")) =!= 64).count() == 0)
    assert(resized.filter(exists(col("pixels"), p => p < 0 || p > 255)).count() == 0)
  }

  test("duplicatedSpans: shared verbatim span detected in both docs, others zero") {
    import spark.implicits._
    // docs 1 and 2 embed the SAME 24-token run inside distinct prefixes/
    // suffixes; doc 3 is unrelated; doc 4 is shorter than w (no grams)
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $shared tail1 tail2"),
      (2L, s"one two three $shared enda endb endc endd"),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")),
      (4L, "too short"),
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(docs, "doc_id", "text",
        w = 8, winnow = 4, minDocs = 2)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    // both carriers flag ≥1 duplicated span; a 40-token shared run
    // (33 shared grams ≫ w + 2·winnow) must select ≥1 common gram
    val (_, dup1, spans1, cov1) = r(1L)
    val (_, dup2, spans2, cov2) = r(2L)
    assert(dup1 > 0 && dup2 > 0, s"span not detected: $r")
    assert(spans1 >= 1 && spans2 >= 1)
    // coverage stays within the shared run plus boundary grams that
    // can only match where context also matches — here ≤ the run itself
    assert(cov1 <= 40 + 8 && cov2 <= 40 + 8 && cov1 >= 8 && cov2 >= 8)
    // unrelated and short docs report zeros
    assert(r(3L) == ((0L, 0L, 0L, 0L)) || r(3L)._2 == 0L)
    assert(r(4L) == ((0L, 0L, 0L, 0L)))
    // n_grams: doc 4 has none; doc 3 has 40-8+1
    val ng = Dedup.duplicatedSpans(docs, "doc_id", "text", 8, 4, 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(ng(4L) == 0L && ng(3L) == 33L)
  }

  test("heavy hitters: support_guaranteed is false below the retention bound") {
    import spark.implicits._
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

  test("denseRank equals row_number over the global order (gapped + clustered ids)") {
    import spark.implicits._
    // ids with gaps, a dense cluster inside one bucket, and values far
    // apart (different buckets) — the shapes the bucketed cumulative
    // offset has to stitch correctly
    val ids = Seq(3L, 7L, 8L, 9L, 1000000L, 1048577L, 5000000L, 5000001L,
      99L, 12345678L)
    val df = ids.toDF("doc_id")
    val got = Dedup.denseRank(df, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = ids.sorted.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
    assert(got.toSeq == want)
  }

  test("ngram neighbor pairs survive sparse/surrogate ids (r12 task 6)") {
    import spark.implicits._
    // surrogate-style ids: consecutive docs are NOT id+1 apart, so the
    // old raw-id offset window would produce ZERO candidates
    val docs = Seq(
      (100L, "a b c d"),
      (2000L, "a b c d"), // near-dup of 100, rank-adjacent
      (30000L, "x y z"),
      (400000L, "p q r s t"),
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramNeighborPairs(docs, "doc_id", "text", window = 3)
      .orderBy("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every doc pairs with its next ≤3 docs in id ORDER (not id value):
    // (100,2000) (100,30000) (100,400000) (2000,30000) (2000,400000)
    // (30000,400000)
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq(
      (100L, 2000L), (100L, 30000L), (100L, 400000L),
      (2000L, 30000L), (2000L, 400000L), (30000L, 400000L)))
    assert(pairs.head._3 == 1.0, "identical docs must score jaccard 1.0")
  }

  test("densified ngram window matches the dense-id spelling where ids ARE dense") {
    import spark.implicits._
    // on dense consecutive ids the densified window must reproduce the
    // old raw-id semantics exactly (the gate's fixture regime)
    val docs = (0L to 9L).map(i => (i, s"tok$i shared t${i % 3}")).toDF("doc_id", "text")
    val got = Dedup.ngramNeighborPairs(docs, "doc_id", "text", window = 3)
      .select("doc_a", "doc_b").orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = for {
      a <- 0L to 9L
      off <- 1L to 3L
      if a + off <= 9L
    } yield (a, a + off)
    assert(got.toSeq == want.toSeq)
  }

  test("denseRank plans its only unpartitioned window over the bucket SUMMARY, not the data") {
    // the scale contract: the raw `row_number().over(Window.orderBy(id))`
    // spelling funnels the whole table through one task; the bucketed
    // spelling's single-partition window must sit above the bucket-count
    // HashAggregate (one row per occupied bucket), while the data-sized
    // rank window is hash-partitioned by bucket. Walk the physical tree:
    // every SinglePartition shuffle's subtree must contain an aggregate
    // between it and any file scan.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val df = graft.queries.ExtQueries.qDedupNgram(spark, Sf0001)
    df.count() // materialize so AQE finalizes the plan
    def walk(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(walk)
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val nodes = walk(finalPlan(df.queryExecution.executedPlan))
      .map {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
        case other => other
      }
      .flatMap(walk)
    val singleParts = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(singleParts.nonEmpty, "expected the bucket-summary window's exchange")
    singleParts.foreach { e =>
      def guarded(p: SparkPlan): Boolean = p match {
        case _: BaseAggregateExec => true // scan below is aggregate-shielded
        case leaf if leaf.children.isEmpty && leaf.subqueries.isEmpty =>
          !leaf.nodeName.toLowerCase.contains("scan") // a bare scan = data-sized
        case other =>
          (other.children ++ other.subqueries).forall(guarded)
      }
      assert(guarded(e.child),
        s"SinglePartition exchange over un-aggregated data:\n${e.child.treeString}")
    }
  }

  test("CC inline symmetrize equals the checkpoint+union edge multiset") {
    import spark.implicits._
    val pairs = Seq((3L, 7L), (7L, 9L), (3L, 7L), (5L, 5L))
      .toDF("doc_a", "doc_b")
    val inlined = pairs.select(inline(array(
      struct(col("doc_a").as("src"), col("doc_b").as("dst")),
      struct(col("doc_b").as("src"), col("doc_a").as("dst")))))
    val unioned = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    assert(inlined.count() == unioned.count())
    assert(inlined.exceptAll(unioned).count() == 0)
    assert(unioned.exceptAll(inlined).count() == 0)
  }

  test("duplicateClusters and duplicateClustersFast agree after the fused setup") {
    import spark.implicits._
    // a chain (adversarial for plain propagation) plus a clique and a
    // self-loop pair
    val chain = (1L until 40L).map(i => (i, i + 1))
    val clique = for { a <- 100L to 104L; b <- (a + 1) to 104L } yield (a, b)
    val pairs = (chain ++ clique ++ Seq((200L, 200L))).toDF("doc_a", "doc_b")
    val slow = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fast = Dedup.duplicateClustersFast(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(slow == fast)
    assert(slow.filter(_._1 <= 40L).forall(_._2 == 1L))
    assert(slow.filter(t => t._1 >= 100L && t._1 <= 104L).forall(_._2 == 100L))
    assert(slow.find(_._1 == 200L).exists(_._2 == 200L))
  }
}
