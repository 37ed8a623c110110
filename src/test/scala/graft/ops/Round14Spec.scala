package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-14 fix pins (VERDICT r13 tasks + advisor items): the gramCov
  * physical rewrite (fused per-partition fold replacing the interpreted
  * HOF explode) must be bit-identical to the r13 spelling, and its
  * scale6 product rounding must replicate Spark's double→DECIMAL(25,6)
  * cast exactly — those two equalities are what keep the q_gram gate's
  * hash unchanged across the rewrite.
  */
class Round14Spec extends SparkTestBase {

  test("gramCov (fused fold) is bit-identical to the explode spelling on real embeddings") {
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val a = LinAlg.gramCov(emb, "embedding").collect()
    val b = LinAlg.gramCovExplode(emb, "embedding").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"cell diff: $x vs $y") }
  }

  test("gramCov handles ragged, null-element, empty and null vectors like the explode spelling") {
    import spark.implicits._
    val df = Seq(
      Some(Seq(Some(1.5f), Some(-2.25f), Some(0.125f))),
      Some(Seq(Some(0.1f), None, Some(3.75f))), // null element
      Some(Seq(Some(2.0f))), // ragged short row
      Some(Seq.empty[Option[Float]]), // empty vector
      None, // null vector
      Some(Seq(Some(-0.3f), Some(0.7f), Some(1.1f), Some(9.9f))), // ragged long row
    ).toDF("embedding")
    val a = LinAlg.gramCov(df, "embedding").collect()
    val b = LinAlg.gramCovExplode(df, "embedding").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"cell diff: $x vs $y") }
  }

  test("gramCov merges multi-partition partials exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(14)
    val rows = Seq.fill(257)(Seq.fill(5)(rng.nextFloat() * 20f - 10f))
    val df8 = rows.toDF("embedding").repartition(8)
    val df1 = rows.toDF("embedding").coalesce(1)
    val a = LinAlg.gramCov(df8, "embedding").collect()
    val b = LinAlg.gramCovExplode(df1, "embedding").collect()
    assert(a.length == 15)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"cell diff: $x vs $y") }
  }

  test("scale6 replicates Spark's double -> DECIMAL(25,6) cast, boundaries included") {
    import spark.implicits._
    val rng = new scala.util.Random(1414)
    // random magnitudes across the product domain, plus hand-picked
    // boundary shapes: exact .5 units at 6 dp (where shortest-repr
    // HALF_UP must round up), negatives, huge/tiny values, and the
    // float-product grid the gate actually feeds in
    val adversarial = Seq(0.0000005, -0.0000005, 1.0000005, 2.5e-7,
      123.4567895, -123.4567895, 0.1 + 0.2, 1e9 + 0.5e-6, -1e9,
      4.9e-10, -4.9e-10, 8.6250004999999995, 97.015625)
    val floats = Seq.fill(500)((rng.nextFloat() * 20f - 10f).toDouble *
      (rng.nextFloat() * 20f - 10f).toDouble)
    val wide = Seq.fill(500)(rng.nextDouble() * math.pow(10, rng.nextInt(12) - 6) *
      (if (rng.nextBoolean()) 1 else -1))
    val xs = (adversarial ++ floats ++ wide).distinct
    val viaCast = xs.toDF("x")
      .select(col("x"), (col("x").cast("decimal(25,6)") * lit(1000000))
        .cast("long").as("scaled"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      assert(LinAlg.scale6(x) == viaCast(x),
        s"scale6($x) = ${LinAlg.scale6(x)} but Spark cast gives ${viaCast(x)}")
    }
  }

  test("denseRank adaptive width bounds the bucket summary on scattered ids (ADVICE r13)") {
    import spark.implicits._
    // the r13 fixed 2^20 width put ~1 row per bucket for scattered ids,
    // making the summary O(N); the adaptive width must keep the bucket
    // count ≤ max(1024, n/4096) whatever the range is
    val w = Dedup.adaptiveBucketWidth(0L, (1L << 40) - 1, 1000000L)
    assert((1L << 40) / w <= 1024 + 1, s"width $w leaves too many buckets")
    val w2 = Dedup.adaptiveBucketWidth(Long.MinValue, Long.MaxValue, 1L << 30)
    assert(w2 > 0 && Long.MaxValue / w2 <= (1L << 18) + 1)
    val w3 = Dedup.adaptiveBucketWidth(5L, 5L, 1L)
    assert(w3 == 1L)
    // end-to-end on widely-scattered ids: ranks still equal the global
    // row_number, buckets stay summary-sized by construction
    val rng = new scala.util.Random(7)
    val ids = Seq.fill(500)(rng.nextLong(1L << 56)).distinct
    val got = Dedup.denseRank(ids.toDF("doc_id"), "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = ids.sorted.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
    assert(got.toSeq == want)
  }

  test("COVERAGE_matrix.json covers every registry gate, no more, no less (r13 task 6)") {
    // the machine-readable scale-evidence matrix (generated by
    // tools/gen_coverage_matrix.py) must track the registry: a new gate
    // without a matrix entry fails here, forcing regeneration against a
    // correctness artifact that actually covers it.
    val txt = java.nio.file.Files.readString(
      java.nio.file.Path.of("COVERAGE_matrix.json"))
    val registry = graft.SparkEntry.queries.keySet
    registry.foreach { k =>
      assert(txt.contains(s""""$k": {"""),
        s"gate $k missing from COVERAGE_matrix.json — rerun tools/gen_coverage_matrix.py")
    }
    val count = """"_gate_count": (\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    assert(count.contains(registry.size),
      s"matrix _gate_count $count != registry ${registry.size} — stale matrix")
    // every entry carries the three audit fields (indent=1 layout)
    for (field <- Seq(""""oracle":""", """"bench":""", """"decade":"""))
      assert(txt.contains(field), s"matrix entries lost the $field field")
  }

  test("fixtures carry no exact-gap pair (q_sessions_stream boundary asymmetry, ADVICE r13)") {
    // Spark's session_window MERGES two events exactly `gap` apart;
    // the islands oracle and the fmgs sessionizer (strict <, pinned
    // r13) SPLIT them. q_sessions_stream gates against the islands
    // oracle, so its validity rests on the fixture invariant checked
    // here: no same-user consecutive pair sits exactly 6 h apart.
    // ScaleUp replicas inherit the invariant (user ids are strided per
    // copy — no new same-user pair crosses replicas), so the base
    // fixtures are the whole domain.
    import org.apache.spark.sql.expressions.Window
    val gapUs = 6L * 3600 * 1000000
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/events.parquet").exists()) {
        val ev = graft.sources.Tables.events(spark, dir)
        val w = Window.partitionBy("user_id").orderBy("ts")
        val exact = ev
          .withColumn("_prev", lag(unix_micros(col("ts")), 1).over(w))
          .filter(unix_micros(col("ts")) - col("_prev") === gapUs)
          .count()
        assert(exact == 0,
          s"$sf carries $exact exact-gap pair(s) — q_sessions_stream's " +
            "oracle is not valid on this fixture (see oracle entry note)")
      }
    }
  }

  test("Bench floors file round-trips and tolerates absence/garbage (r13 task 7)") {
    // BENCH_floors.json is load-bearing now (slow-dump triggers compare
    // against it; published figures come from it) — pin the read/write
    // pair and the failure mode: a missing or corrupt file must mean
    // "no floors" (no dumps, merge starts fresh), never a crash that
    // takes the bench run down with it.
    val dir = java.nio.file.Path.of(tmpDir("floors"))
    val p = s"$dir/floors.json"
    val floors = Map("q_a" -> 1.234, "q_b" -> 0.007, "write" -> 6.208)
    graft.Bench.writeFloors(p, floors)
    val back = graft.Bench.readFloors(p)
    floors.foreach { case (k, v) =>
      assert(math.abs(back(k) - v) < 5e-4, s"$k: ${back.get(k)} vs $v")
    }
    assert(graft.Bench.readFloors(s"$dir/absent.json").isEmpty)
    java.nio.file.Files.writeString(java.nio.file.Path.of(p), "not json at all")
    assert(!graft.Bench.readFloors(p).contains("q_a"))
  }

  test("bootstrapMeanCI (fused fold) is bit-identical to the explode spelling on real events") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
    val a = Stats.bootstrapMeanCI(ev, "event_id", "value", b = 16).collect()
    val b = Stats.bootstrapMeanCIExplode(ev, "event_id", "value", b = 16).collect()
    assert(a.length == 1 && b.length == 1)
    assert(a.head == b.head, s"${a.head} vs ${b.head}")
  }

  test("bootstrapMeanCI fused fold matches explode on null ids, null values, negatives, multi-partition") {
    import spark.implicits._
    val rng = new scala.util.Random(1441)
    val rows: Seq[(Option[String], Option[Double])] =
      Seq((None, Some(3.5)), (Some("dup"), Some(-2.25)), (Some("dup"), Some(-2.25)),
        (Some("x|y"), Some(0.0)), (Some("z"), None)) ++
        Seq.tabulate(97)(i => (Some(s"id$i"), Some(rng.nextDouble() * 200 - 100)))
    val df = rows.toDF("id", "x").repartition(7)
    val a = Stats.bootstrapMeanCI(df, "id", "x", b = 8, salt = "s14").collect()
    val b = Stats.bootstrapMeanCIExplode(
      df.coalesce(1), "id", "x", b = 8, salt = "s14").collect()
    assert(a.length == 1 && a.head == b.head, s"${a.headOption} vs ${b.headOption}")
    // empty input: both spellings produce the same empty-CI row shape
    val empty = rows.toDF("id", "x").filter(lit(false))
    val ae = Stats.bootstrapMeanCI(empty, "id", "x", b = 8).collect()
    val be = Stats.bootstrapMeanCIExplode(empty, "id", "x", b = 8).collect()
    assert(ae.length == be.length && ae.headOption == be.headOption)
  }

  test("SqDistExpr is bit-identical to the HOF fold, null/length/empty semantics included") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = emb.limit(50).crossJoin(
      emb.limit(50).select(col("v").as("w")))
    val native = pairs.select(Clustering.sqDist(col("v"), col("w"))).collect()
    val hof = pairs.select(Clustering.sqDistHof(col("v"), col("w"))).collect()
    assert(native.length == hof.length && native.length == 2500)
    native.zip(hof).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    // edge semantics: length mismatch -> null (zip_with pads with
    // nulls), any null element -> null, both empty -> the 0.0 seed
    val edges = Seq(
      (Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](Some(1.5))),
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(1.0), Some(2.0))),
      (Seq[Option[Double]](), Seq[Option[Double]]()),
      (Seq[Option[Double]](Some(-3.25)), Seq[Option[Double]](Some(4.75))),
    ).toDF("v", "w")
    val en = edges.select(Clustering.sqDist(col("v"), col("w"))).collect()
    val eh = edges.select(Clustering.sqDistHof(col("v"), col("w"))).collect()
    en.zip(eh).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    assert(en(0).isNullAt(0) && en(1).isNullAt(0) && en(2).getDouble(0) == 0.0)
  }

  test("Det.dsumScaled6 over pre-scaled longs equals Det.dsum over the raw terms") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    val xs = Seq.fill(1000)(rng.nextDouble() * 2000 - 1000)
    val viaDsum = xs.toDF("x").agg(graft.queries.Det.dsum(col("x"))).head.getDouble(0)
    val viaScaled = xs.map(LinAlg.scale6).toDF("s")
      .agg(graft.queries.Det.dsumScaled6(col("s"))).head.getDouble(0)
    assert(viaDsum == viaScaled, s"$viaDsum vs $viaScaled")
  }

  test("LSH in-cap pair generate matches the retired flatten-transform HOF spelling") {
    // the r14 rewrite of lshCandidatePairs' in-cap pair stream: two
    // codegen'd generates (posexplode × slice-explode) replacing the
    // interpreted flatten(transform(transform(...))) HOF, which built
    // the whole O(|bucket|²) pair array per bucket row before the
    // explode. Same sorted-ids tail-pairing ⇒ the pair MULTISET and
    // the doc_a < doc_b canonicalization must be identical.
    import spark.implicits._
    val rng = new scala.util.Random(141)
    val buckets = Seq.fill(40)(
      Seq.fill(rng.nextInt(7))(rng.nextLong(100)).distinct.sorted)
      .filter(_.size > 1).toDF("ids")
    val viaGenerate = buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("_i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("_i") + lit(2),
          greatest(size(col("ids")) - col("_i") - lit(1), lit(0))))
          .as("doc_b"))
      .groupBy("doc_a", "doc_b").count()
    val viaHof = buckets
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x AS doc_a, y AS doc_b))))"
      )).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy("doc_a", "doc_b").count()
    assert(viaGenerate.count() > 0)
    assert(viaGenerate.unionAll(viaHof)
      .groupBy("doc_a", "doc_b", "count").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count() == 0,
      "pair multiset diverged between the generate and HOF spellings")
    // canonical order holds structurally on the generate spelling
    assert(viaGenerate.filter(col("doc_a") >= col("doc_b")).count() == 0)
  }
}
