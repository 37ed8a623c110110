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
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (round-9 lesson;
  * SparkEntry.clearGateCaches pairs them the same way).
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

  test("q_e2e exports its CSV once per sf dir") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("e2e_src")
    Files.copy(Path.of(Sf0001, "events.parquet"), Path.of(dir, "events.parquet"))
    def exports() = scala.util.Using.resource(
      Files.list(Path.of(System.getProperty("java.io.tmpdir"))))(
      _.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_e2e_csv")).toSet)
    val before = exports()
    val first = queries.RefQueries.qE2e(spark, dir).collect().toSeq
    val second = queries.RefQueries.qE2e(spark, dir).collect().toSeq
    assert((exports() -- before).size == 1)
    assert(first.nonEmpty && first == second)
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
    import org.apache.spark.sql.functions.{col, lag, unix_micros}
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
}
