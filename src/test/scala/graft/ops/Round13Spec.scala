package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-13 fix pins (VERDICT r12 tasks + advisor items): the
  * densified q_dedup_ngram candidate window on sparse ids, the
  * scale-safe dense rank it rides on, and the check.py CONTRACTS map
  * pin (a new contract-mode entry must be a deliberate diff).
  */
class Round13Spec extends SparkTestBase {

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

  test("check.py CONTRACTS map is pinned to the known sketch gates (r12 task 7)") {
    // contract-aware compare is the one mechanism that can WEAKEN a
    // gate (value compare relaxed to key compare on unflagged rows) —
    // any new entry must show up as a diff of this literal, reviewed
    // deliberately, not slipped in beside a new gate
    val src = java.nio.file.Files.readString(
      java.nio.file.Path.of("tools/check.py"))
    val line = src.linesIterator.filter(_.startsWith("CONTRACTS = ")).toList
    // r14 (VERDICT r13 task 3): the entry gained a third element — the
    // FULL exact aggregate every engine unflagged row is value-checked
    // against (closes the engine-only fabricated-row blind spot). The
    // exact SQL itself must stay the un-limited spelling of the gate's
    // oracle aggregate; pin its load-bearing shape too.
    assert(line == List(
      """CONTRACTS = {"q_heavy": ("support_guaranteed", ["token"], HEAVY_EXACT)}"""),
      s"CONTRACTS changed — if deliberate, update this pin + DECISIONS.md: $line")
    val exact = src.linesIterator.dropWhile(!_.startsWith("HEAVY_EXACT = "))
      .takeWhile(l => !l.startsWith("CONTRACTS")).mkString("\n")
    for (frag <- Seq("string_split(text, ' ')", "count(*) * 257 >= n_tokens",
        "GROUP BY token, n_tokens"))
      assert(exact.contains(frag), s"HEAVY_EXACT lost fragment '$frag':\n$exact")
    assert(!exact.toUpperCase.contains("LIMIT"),
      s"HEAVY_EXACT must be the FULL aggregate (no top-k):\n$exact")
  }

  test("iterative q_dbscan oracle script matches the unrolled oracle's fragments") {
    // the two spellings share fragment builders; pin the structural
    // contract check.py relies on: setup creates pts/j/core/e/labels,
    // the loop round-robins labels via labels_next, final consumes
    // `labels`, and the round bound equals the unrolled 96
    val it = graft.SparkEntry.iterativeOracles("q_dbscan")
    // 4096 is a runaway bound; the loop exits at the label-sum fixpoint
    // (measured: 12 rounds at sf0.01, >96 at sf1 — which is WHY the
    // cap exceeds the unrolled spelling's 96)
    assert(it.maxRounds == 4096)
    assert(it.setup.exists(_.contains("TEMP TABLE labels AS SELECT pid AS id, pid AS l FROM core")))
    assert(it.loop.head.contains("TEMP TABLE labels_next"))
    assert(it.finalSql.startsWith("WITH cc AS (SELECT id, l AS cluster_id FROM labels)"))
    // and the unrolled oracle still carries the same CC round body
    val unrolled = graft.SparkEntry.oracleSql("q_dbscan")
    assert(unrolled.contains("least(t.l, coalesce(nb.ml, t.l), coalesce(jp.l, t.l))"))
    assert(it.loop.head.contains("least(t.l, coalesce(nb.ml, t.l), coalesce(jp.l, t.l))"))
  }
}
