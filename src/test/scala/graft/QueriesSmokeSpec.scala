package graft

/** t1 smoke + hygiene: every declared query builds, runs, and returns
  * rows at sf0.001 (the driver's smoke gate shape), AND releases every
  * block it persisted beyond its own result.
  *
  * The hygiene half generalizes the round-10 dbscan exit-discipline
  * spec (MiningSpec, "dbscan releases every block it persisted") to the
  * WHOLE registry: a library caller composing any gate query must not
  * inherit a session-lifetime cache it never asked for (the round-8
  * q_containment contamination / round-9 dbscan neighbor-pair
  * pattern). The contract: after one action, a query may leave at
  * most its result-backing checkpoint generation in the block
  * manager (≤ 2 persisted RDDs; deliberate cross-query shared stages
  * get a named allowance below). Between tests the audit clears the
  * block manager AND the shared-stage memo together — unpersisting a
  * memoized frame without dropping the memo entry would leave a
  * lineage-truncated zombie whose next read throws
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (round-9 lesson, Bench.clearCaches
  * pairs them the same way).
  */
class QueriesSmokeSpec extends SparkTestBase {

  /** Gates allowed more than the default 2-RDD residue, each with the
    * reason. The allowance is the query's RESULT footprint plus its
    * DOCUMENTED shared stage — never an op-internal intermediate. */
  private val residueAllowance: Map[String, Int] = Map(
    // q_dedup_clusters_fast / q_dedup_canonical / q_dedup_best share
    // the memoized near-dup cluster stage (ExtQueries.clustersFast, a
    // .persist() + count()): result generation + the shared frame.
    "q_dedup_clusters_fast" -> 3,
    "q_dedup_canonical" -> 3,
    "q_dedup_best" -> 3)

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs, returns rows, and releases its caches at sf0.001") {
      val sc = spark.sparkContext
      // start from a clean block manager: memo first, blocks second
      graft.queries.ExtQueries.invalidateSharedStages()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val before = sc.getPersistentRDDs.keySet
      assert(fn(spark, Sf0001).count() > 0)
      val residue = sc.getPersistentRDDs.keySet -- before
      val cap = residueAllowance.getOrElse(name, 2)
      assert(residue.size <= cap,
        s"$name left ${residue.size} persisted RDDs behind (allowed $cap)" +
          " — an op-internal cache escaped its exit discipline; adopt the" +
          " Lineage.checkpoint + unpersist pattern (Graphs.triangleCounts)")
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  private val stub = graft.queries.Gate((_, _) => spark.emptyDataFrame, "SELECT 1")

  test("a gate registry rejects a name given twice") {
    val e = intercept[IllegalArgumentException](
      graft.queries.Gate.registry("q_a" -> stub, "q_b" -> stub, "q_a" -> stub))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }

  test("SparkEntry rejects one gate name registered by two objects") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.merge(Map("q_a" -> stub), Map("q_b" -> stub, "q_a" -> stub)))
    assert(e.getMessage.contains("q_a"))
    assert(SparkEntry.merge(Map("q_a" -> stub), Map("q_b" -> stub)).size === 2)
  }

  /** Pinned registry size: a module dropping out of the `++` chain in
    * SparkEntry (or a key collision between modules silently shadowing a
    * query) must fail loudly here, not as a quiet shrink of the driver's
    * correctness report. Update the constant when adding queries.
    */
  test("registry size is pinned (no silent gate dropouts)") {
    assert(SparkEntry.queries.size === 246,
      s"registry has ${SparkEntry.queries.size} queries; expected 246 — " +
        "if you added/removed queries update this pin deliberately")
  }
}
