package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph primitives over edge lists. Every loop over an
  * undirected graph takes both directions of its edges from
  * [[undirected]], which also owns whether that list is stored: the
  * PageRank family ([[pageRankOn]]), [[kCore]], [[labelPropagation]]
  * and the min-plus kernel (a [[relax]] round, the [[reach]] witness)
  * behind [[sssp]], [[closenessCentrality]] and the connected
  * components of [[Dedup]] (labels are distances over weight-0 edges).
  *
  * Scale shape: triangle counting uses the degree-ordered wedge join —
  * every edge is directed from its lower-(degree, id) endpoint to the
  * higher, which caps every vertex's out-degree at O(√m) regardless of
  * how skewed the raw degree distribution is (a vertex with out-degree
  * d needs d neighbors of degree ≥ its own, so d² ≤ 2m). The wedge join
  * on the source vertex — the step that explodes quadratically in the
  * naive all-directions form — is therefore bounded per key, and the
  * closing-edge join is a plain equi-join on the canonical edge key.
  */
object Graphs {

  /** Distinct undirected co-occurrence edges (u < v): items sharing a
    * group.
    *
    * Plan (r11, the adamicAdar grouped-adjacency discipline): collect
    * each group's DISTINCT item set once (`collect_set`, sorted
    * in-row), emit every ordered pair with two codegen'd generates,
    * then dedup across groups. One exchange of the input instead of
    * the self-join's two differently-projected shuffles, and the pair
    * stream is born map-side straight into the distinct's partial
    * aggregate. Sortedness makes u < v structural (a set ascends
    * strictly), so no filter re-scans the pairs.
    *
    * Memory bound: per-group state is the group's distinct item set —
    * NOT a new constraint, because a group of g items emits g(−1)/2·g
    * pairs downstream either way: any group too large to collect was
    * already too large to pair (the self-join spelling exploded
    * quadratically on it instead of failing loudly). Production graphs
    * cap group fanout upstream (the q_skew_audit instrument exists to
    * find the groups that need it).
    */
  def coOccurrenceEdges(
      df: DataFrame,
      groupCol: String,
      itemCol: String): DataFrame = {
    val grouped = df
      .select(col(groupCol).as("_g"), col(itemCol).as("_it"))
      .groupBy("_g")
      .agg(sort_array(collect_set(col("_it"))).as("_is"))
    grouped
      .select(col("_is"), posexplode(col("_is")).as(Seq("_i", "u")))
      .select(col("u"),
        explode(slice(col("_is"), col("_i") + lit(2),
          greatest(size(col("_is")) - col("_i") - lit(1), lit(0))))
          .as("v"))
      .distinct()
  }

  /** Per-vertex triangle counts over a canonical (u < v, distinct) edge
    * list; vertices in no triangle are absent. Sum over the column is
    * 3× the global triangle count.
    *
    * The edge list is persisted and counted once up front: it feeds
    * four downstream passes (degrees, both wedge sides, the closing
    * join), and an arbitrary caller plan — e.g. a co-occurrence
    * self-join — must not be recomputed per pass. When the graph fits
    * (`m ≤ broadcastCloseMaxEdges`), the closing join broadcasts the
    * edge list so the wedge stream — the quadratic side — never
    * shuffles; past the threshold it degrades to the shuffle equi-join,
    * which is the only 100 TB-viable form.
    */
  def triangleCounts(
      edges: DataFrame,
      broadcastCloseMaxEdges: Long = 8000000L): DataFrame = {
    val e = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e.count()
    val deg = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val directed = e
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("t"))
    // explicit partition count: the directed list is small (~MBs) so
    // AQE would coalesce its exchange to one partition — and with it
    // the 30×-larger join OUTPUT, serializing the quadratic step. An
    // explicit repartition is exempt from AQE coalescing. The count
    // scales with the measured edge count (the wedge output it feeds
    // grows ~m^1.5): a fixed 32 at 10× the edges meant 10× the wedge
    // volume per partition and spill-bound tasks (observed 33× runtime
    // for 10× data at the sf1 scale point — superlinear from memory
    // pressure, not from the algorithm).
    val conf = edges.sparkSession.sessionState.conf.numShufflePartitions
    val nPart = math.max(conf, math.min(4096L, m / 100000L).toInt)
    val keyed = directed.repartition(nPart, col("s"))
    val w1 = keyed.select(col("s"), col("t").as("b"))
    val w2 = keyed.select(col("s"), col("t").as("c"))
    val wedges = w1.join(w2, "s").filter(col("b") < col("c"))
    // past the broadcast threshold, force a shuffled HASH join: the
    // default sort-merge would SORT the wedge stream — the one
    // intermediate that must never be materialized per-ordering; the
    // hash table builds on the edge side, which is √(wedges) smaller
    val closing = if (m <= broadcastCloseMaxEdges) broadcast(e)
      else e.hint("shuffle_hash")
    val triangles = wedges.join(closing,
      col("u") === col("b") && col("v") === col("c"))
      .select(col("s").as("a"), col("b"), col("c"))
    // explode, not a 3-way union: union branches would re-evaluate the
    // whole wedge pipeline once each (no cross-branch subplan sharing)
    // loop-exit hygiene: see [[pageRankOn]] — the vertex-sized count
    // frame materializes eagerly so the edge cache can be released here
    val out = graft.util.Lineage.checkpoint(triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles")))
    e.unpersist(blocking = false)
    out.df
  }

  /** Fixed-iteration PageRank over an undirected canonical (u < v,
    * distinct) edge list, treated as a symmetric directed graph.
    *
    * @return (x, r) — vertex and rank; ranks sum to 1 over the graph
    *         (symmetric graphs have no dangling mass).
    */
  def pageRank(
      edges: DataFrame,
      damping: Double = 0.85,
      iters: Int = 3): DataFrame =
    pageRankOn(edges, lit(1L), damping, iters)(uniformTerms(damping))

  /** Uniform start and teleport: adds `r0 = 1/n` and `t = (1−d)/n`
    * over `n` vertices. */
  private def uniformTerms(damping: Double)(verts: DataFrame): DataFrame = {
    val n = verts.agg(count(lit(1)).as("n"))
    verts.crossJoin(broadcast(n))
      .withColumn("r0", lit(1.0) / col("n"))
      .withColumn("t", lit(1 - damping) / col("n")).drop("n")
  }

  /** The one PageRank loop behind [[pageRank]], [[pageRankWeighted]]
    * and [[pageRankPersonalized]]: `iters` rounds over an undirected
    * edge list `(u, v)` weighted by `w` (an edge column or a constant),
    * treated as a symmetric directed graph. `terms` adds `r0` and `t`,
    * each vertex's initial rank and teleport term, to the vertex frame
    * `(x, wd)`; a round sets `r = t + d·m`, where `m` is the
    * in-mass and each vertex splits its rank among its out-edges in
    * proportion to weight (`r·w / Σw`; at w = 1 that is exactly
    * `r / outdeg`).
    *
    * Determinism discipline (same as [[Clustering.kmeans]]): each
    * contribution is one double product and division; the per-target
    * sum — the only order-dependent reduction — rides DECIMAL(38,20),
    * so partial aggregation order is invisible; the damping update is a
    * fixed double expression. Constants are interpolated from the SAME
    * Scala doubles into the oracle SQL, so e.g. 1−0.85 (which is NOT
    * the double 0.15) agrees bit-for-bit cross-engine.
    */
  private def pageRankOn(edges: DataFrame, w: Column, damping: Double,
      iters: Int)(terms: DataFrame => DataFrame): DataFrame = {
    import graft.util.Lineage
    // [[undirected]] stores the edge list (the caller's plan is often
    // an expensive self-join, e.g. the co-purchase graph, that must not
    // run once per round), and the rounds read it directly: the vertex
    // frame and every rank generation carry each vertex's weighted
    // degree `wd`, so no second edge-sized frame (edges joined to
    // degrees) is stored, and only the vertex frame's build and the
    // rounds scan the list.
    val directed = undirected(edges, "u", "v", Some(w.cast("long")))
    // CACHE the loop-invariant vertex frame, lazily. A fully uncached
    // iteration tree re-evaluates it at every generation level —
    // iteration i's plan embeds iterations 1..i−1 whole, so its cost
    // grows with iters². The cache populates during the caller's ONE
    // action (iteration 1's stages compute the blocks; later
    // iterations' stages read them), so no eager driver-side jobs are
    // added — profiled 3.2× faster than eagerly localCheckpoint-ing
    // each generation (which pays a scheduler round-trip + block
    // write + codegen break per round). The vertex cache and the edge
    // list are explicitly unpersisted on loop exit, after the final
    // generation materializes.
    val verts = terms(directed.groupBy(col("u").as("x"))
      .agg(sum(col("w")).as("wd"))).cache()
    val (ranks, gen) = Lineage.unrolled(
        verts.select(col("x"), col("wd"), col("r0").as("r")), iters) { ranks =>
      val sums = ranks
        .join(directed, col("x") === col("u"))
        .select(col("v").as("x"),
          (col("r") * col("w") / col("wd")).as("cr"))
        .groupBy("x")
        .agg(sum(col("cr").cast("decimal(38,20)")).cast("double").as("m"))
      // left join: general graphs have rank-sink vertices with no
      // in-edges (symmetric ones don't, but the operator shouldn't care)
      verts.join(sums, Seq("x"), "left")
        .select(col("x"), col("wd"),
          (col("t") + lit(damping) * coalesce(col("m"), lit(0.0))).as("r"))
    }
    // loop-exit hygiene (round-9 discipline): materialize the final
    // generation eagerly, then release every internal cache/checkpoint.
    // Returning the lazy frame instead would either leak the loop
    // caches for the session lifetime or — if the caller unpersisted
    // them — silently recompute an iters-deep uncached tree.
    val out = Lineage.checkpoint(ranks.select(col("x"), col("r")))
    gen.foreach(Lineage.free)
    verts.unpersist(blocking = false)
    directed.unpersist(blocking = false)
    out.df
  }

  /** DuckDB spelling of [[pageRank]] — unrolled-CTE oracle generated for
    * the same damping/iters over `edgesSql` (any SELECT producing the
    * canonical u/v columns). `finalSelect` consumes CTE `rank$iters(x, r)`
    * and the 1-row CTE `nn(n)`.
    */
  def pageRankOracleSql(
      edgesSql: String,
      damping: Double,
      iters: Int,
      finalSelect: String): String = {
    val steps = (1 to iters).map { i =>
      s"c$i AS (SELECT e.v AS x, r${i - 1}.r / deg.od AS cr " +
        s"FROM r${i - 1} JOIN e ON e.u = r${i - 1}.x JOIN deg ON deg.u = r${i - 1}.x), " +
        s"s$i AS (SELECT x, CAST(CAST(sum(CAST(cr AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE) AS m " +
        s"FROM c$i GROUP BY x), " +
        s"r$i AS (SELECT verts.x, ${1 - damping} / nn.n + " +
        s"$damping * coalesce(s$i.m, 0.0) AS r " +
        s"FROM verts CROSS JOIN nn LEFT JOIN s$i ON s$i.x = verts.x)"
    }.mkString(", ")
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu), " +
      "deg AS (SELECT u, count(*) AS od FROM e GROUP BY u), " +
      "verts AS (SELECT DISTINCT u AS x FROM e), " +
      "nn AS (SELECT count(*)::BIGINT AS n FROM verts), " +
      "r0 AS (SELECT x, 1.0 / nn.n AS r FROM verts CROSS JOIN nn), " +
      s"$steps $finalSelect"
  }

  /** k-core membership: the maximal subgraph in which every vertex has
    * degree ≥ k — the standard graph-mining prune that strips hairball
    * periphery (low-engagement vertices) before community/embedding
    * work. Computed by iterated peeling: drop every vertex of degree
    * < k, recompute degrees on the induced subgraph, repeat to
    * fixpoint (the classic Matula–Beck peel, one round per pass).
    *
    * Output: EVERY vertex of the input graph with its verdict —
    * `(x, in_core, core_degree)`, `core_degree` NULL outside the core —
    * so the result is a join-ready prune column (and never empty just
    * because the graph's degeneracy sits below k: random co-occurrence
    * graphs collapse all-or-nothing near their core number, and a gate
    * that can go empty under a scale change is a fragile gate).
    *
    * Scale shape: each round is one degree aggregate (shuffle on the
    * vertex key) and two semi-join-shaped equi-joins filtering the edge
    * list; rounds are data-dependent but small in practice (a round
    * removes EVERY sub-k vertex simultaneously, so round count is the
    * peel DEPTH, not the vertex count). Like the CC loop, each round
    * pays one scalar action for convergence detection (the sub-k count
    * of the new degree table) — inherent to iterate-to-fixpoint — and the
    * degree table rotates through [[graft.util.Lineage.fixpoint]] so
    * plans don't grow with rounds. `maxRounds` is a runaway guard, not a
    * truncation: hitting it throws rather than returning a non-fixpoint.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    // DELTA peeling: the edge list is scanned, never rewritten. Keep a
    // per-vertex degree table; each round, the sub-k frontier is
    // removed and only the edges INCIDENT TO THE FRONTIER are counted
    // (one equi-join — broadcast once the frontier shrinks, AQE's
    // call) to decrement survivors. Per-round cost is proportional to
    // the frontier, not the graph — the difference that matters when k
    // sits near the mean degree and the peel cascades one thin shell
    // at a time (measured on the sf0.1 co-purchase graph, k=75: 142 s
    // as whole-graph recompute-and-rewrite, ~8 s as delta peeling).
    // Each edge decrements each endpoint at most once (its other
    // endpoint is removed exactly once), so running degrees equal the
    // induced-subgraph degrees at every round.
    val sym = undirected(edges, "u", "v")
    val verts = sym.select(col("u").as("x")).distinct()
    // The settle check counts the new generation's sub-k frontier and
    // CACHES it: the next peel reads that same frontier plan, so its
    // planner sees the real (small) size and broadcasts it instead of
    // re-shuffling the edge list every round (sf0.1: 20 vs 65 MB
    // shuffled). Frontiers are disjoint (a vertex is peeled once), so
    // the caches total at most |V| ids until they are dropped at exit.
    def frontier(deg: DataFrame) = deg.filter(col("d") < k).select(col("x").as("v"))
    val counted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def settled(deg: DataFrame): Boolean = {
      counted += frontier(deg).cache()
      counted.last.count() == 0
    }
    val deg0 = sym.groupBy(col("u").as("x")).agg(count(lit(1)).as("d"))
    settled(deg0) // round 1's frontier, counted and cached like the rest
    val (Seq(deg), _) = graft.util.Lineage.fixpoint(s"kCore(k=$k)",
        Seq(deg0), maxRounds) { s =>
      val loss = sym.join(frontier(s.head), "v")
        .groupBy(col("u").as("x")).agg(count(lit(1)).as("lost"))
      s.head.filter(col("d") >= k)
        .join(loss, Seq("x"), "left")
        .select(col("x"), (col("d") - coalesce(col("lost"), lit(0L))).as("d"))
    }(s => settled(s.head))
    // loop-exit hygiene: see [[pageRankOn]]
    val out = graft.util.Lineage.checkpoint(
      verts.join(deg.df.withColumnRenamed("d", "core_degree"), Seq("x"), "left")
        .select(col("x"), col("core_degree").isNotNull.as("in_core"),
          col("core_degree")))
    graft.util.Lineage.free(deg)
    counted.foreach(_.unpersist(blocking = false))
    sym.unpersist(blocking = false)
    out.df
  }

  /** DuckDB spelling of [[kCore]]: an unrolled-CTE oracle with `rounds`
    * peel passes over `edgesSql` (any SELECT producing canonical
    * u < v distinct edges). `rounds` must be ≥ the fixpoint depth on
    * the data — extra passes are no-ops once stable, so overshooting is
    * safe (the k-means/PageRank unrolled-oracle discipline); the
    * engine side throws past `maxRounds`, so a too-short unroll fails
    * loudly as a hash mismatch, never silently.
    */
  def kCoreOracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    // every d$i / e$i is referenced more than once downstream —
    // MATERIALIZED stops DuckDB's CTE inlining from expanding the
    // unrolled chain exponentially (12 rounds inlined ≈ 5^12 scans,
    // which exhausts the process fd limit before it exhausts time)
    val steps = (1 to rounds).map { i =>
      s"d$i AS MATERIALIZED (SELECT x, count(*) AS d FROM " +
        s"(SELECT u AS x FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) " +
        "GROUP BY x), " +
        s"e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1} " +
        s"WHERE u IN (SELECT x FROM d$i WHERE d >= $k) " +
        s"AND v IN (SELECT x FROM d$i WHERE d >= $k))"
    }.mkString(", ")
    s"WITH e0 AS MATERIALIZED ($edgesSql), $steps, " +
      "allv AS (SELECT DISTINCT x FROM " +
      "(SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)), " +
      s"cd AS (SELECT x, count(*)::BIGINT AS core_degree FROM " +
      s"(SELECT u AS x FROM e$rounds UNION ALL SELECT v FROM e$rounds) " +
      "GROUP BY x) " +
      "SELECT allv.x, cd.core_degree IS NOT NULL AS in_core, " +
      "cd.core_degree FROM allv LEFT JOIN cd ON cd.x = allv.x"
  }

  /** Two unrolled hops of neighborhood mean aggregation — GraphSAGE /
    * message-passing feature propagation as relational algebra: hop 1
    * gives each vertex the mean feature of its neighbors; hop 2 the
    * mean of its neighbors' hop-1 means (information from two edges
    * away, smoothed). The GNN-precompute shape: each hop is ONE
    * edge-keyed join plus ONE vertex-keyed aggregate — at 100 TB the
    * edge frame shuffles by dst once per hop, never materializing
    * multi-hop path explosions (the k-hop JOIN CHAIN this op exists to
    * avoid).
    *
    * Determinism: hop means are [[graft.queries.Det.davg]] (decimal sum
    * → one division → r6); hop 2 averages the ALREADY-r6'd hop-1
    * doubles, which are 6-dp values and therefore exact in
    * DECIMAL(25,6) — no double-rounding ambiguity. Vertices without
    * neighbors (absent from edges) report NULL hops.
    */
  def khopFeatureMeans(
      edges: DataFrame, // (u, v), u < v canonical
      features: DataFrame,
      vertexCol: String,
      featCol: String): DataFrame = {
    import graft.queries.Det.davg
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .union(edges.select(col("v").as("src"), col("u").as("dst")))
    val feats = features.select(
      col(vertexCol).as("dst"), col(featCol).cast("double").as("_f"))
    val h1 = sym.join(feats, "dst")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_neighbors"), davg(col("_f")).as("h1"))
    val h2 = sym.join(
        h1.select(col("src").as("dst"), col("h1").as("_h1d")), "dst")
      .groupBy(col("src"))
      .agg(davg(col("_h1d")).as("h2"))
    features.select(col(vertexCol), col(featCol))
      .join(h1.withColumnRenamed("src", vertexCol), Seq(vertexCol), "left")
      .join(h2.withColumnRenamed("src", vertexCol), Seq(vertexCol), "left")
  }

  /** Both directions of every `(a, b)` edge as `(u, v)` (plus `w`, if
    * given): the one edge list of every loop over an undirected graph
    * ([[pageRankOn]], [[kCore]], [[labelPropagation]] and the min-plus
    * loops), and the one place that decides whether it is stored.
    * `inline` emits the two copies from ONE evaluation of the upstream
    * (a union of two selects runs it twice).
    *
    * Storage rule: the list is lazily persisted (MEMORY_AND_DISK), so
    * the first round's job materializes it and the caller unpersists it
    * after its loop. Lazy persist rather than an eager checkpoint: the
    * checkpoint's extra job runs the upstream once more, which made
    * q_sssp and q_closeness slower (DECISIONS #45). The exception is an
    * `edges` that is already a generation (checkpoint-backed, like
    * qModularity's shared edge list): the view over the caller's blocks
    * comes back unpersisted, because storing the list a second time at
    * 2× width is what pushed storage into eviction churn at 100× scale
    * (SCALE.md §10g) — re-reading the caller's blocks per round is
    * strictly cheaper. The caller's unpersist is then a no-op.
    */
  private[ops] def undirected(
      edges: DataFrame,
      a: String,
      b: String,
      w: Option[Column] = None): DataFrame = {
    def arc(from: String, to: String) =
      struct(Seq(col(from).as("u"), col(to).as("v")) ++ w.map(_.as("w")): _*)
    val both = edges.select(inline(array(arc(a, b), arc(b, a))))
    if (graft.util.Lineage.isGeneration(edges)) both
    else both.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** One min-plus round over [[undirected]] edges: each `(keys…, x)` of
    * `state` keeps min(d, d(u) + w), `w` an edge column or a constant.
    * One equi-join on the frontier key plus one min-aggregate, both
    * shuffling on the vertex key. */
  private[ops] def relax(
      state: DataFrame,
      edges: DataFrame,
      w: Column,
      keys: String*): DataFrame = {
    val kx = (keys :+ "x").map(col)
    // USING-join on the renamed frontier key: the rename mints fresh
    // attribute ids, so a state derived from `edges` never trips
    // Spark's self-join ambiguity check
    state.withColumnRenamed("x", "u")
      .join(edges, Seq("u"))
      .select(keys.map(col) :+ col("v").as("x") :+ (col("d") + w).as("d"): _*)
      .unionAll(state.select(kx :+ col("d"): _*))
      .groupBy(kx: _*).agg(min(col("d")).as("d"))
  }

  /** The settle witness of a [[relax]] loop, (rows, Σ d as an exact
    * decimal): rounds only add rows and lower distances, so it repeats
    * exactly when nothing changed. The coalesce covers an empty state. */
  private[ops] def reach(state: DataFrame): (Long, java.math.BigDecimal) = {
    val row = state.agg(count(lit(1)), coalesce(
      sum(col("d").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (row.getLong(0), row.getDecimal(1))
  }

  /** Single-source shortest paths over an undirected weighted graph
    * (`(u, v, w)`, integer weights), by distributed Bellman–Ford
    * relaxation: each round extends every settled distance across every
    * edge and keeps the per-vertex minimum ([[relax]], `source` the one
    * seed). The round count is the graph's (weighted-path hop)
    * diameter, not its size: every vertex improves simultaneously, so
    * small-world graphs settle in a handful of rounds at any data scale.
    *
    * Determinism: weights are integers, `min` over integer path sums is
    * order-independent, so the result hash-checks exactly — no float
    * accumulation anywhere. Convergence is detected by [[reach]], one
    * 1-row action per round; the distance frame rotates through
    * [[graft.util.Lineage.fixpoint]], whose `maxRounds` is a runaway
    * guard that throws rather than returning a non-fixpoint. A `source`
    * that is no vertex leaves every vertex at NULL dist.
    *
    * @return every vertex with `dist` (BIGINT), NULL when unreachable.
    */
  def sssp(edges: DataFrame, source: Long, maxRounds: Int = 64): DataFrame = {
    val e = undirected(edges, "u", "v", Some(col("w").cast("long")))
    val verts = e.select(col("u").as("x")).distinct()
    val (Seq(dist), _) = graft.util.Lineage.fixpoint("sssp",
        Seq(verts.filter(col("x") === source).select(col("x"), lit(0L).as("d"))),
        maxRounds)(s => relax(s.head, e, col("w")))(
      graft.util.Lineage.unchanged(s => reach(s.head)))
    // loop-exit hygiene: see [[pageRankOn]]
    val out = graft.util.Lineage.checkpoint(
      verts.join(dist.df, Seq("x"), "left").select(col("x"), col("d").as("dist")))
    graft.util.Lineage.free(dist)
    e.unpersist(blocking = false)
    out.df
  }

  /** DuckDB spelling of [[sssp]]: `rounds` unrolled relaxation passes
    * over `edgesSql` (any SELECT producing u/v/w). `rounds` must be ≥
    * the fixpoint depth — extra passes are no-ops (the unrolled-oracle
    * discipline; the engine's `maxRounds` guard makes a short unroll a
    * loud hash fail). Final CTE `d$rounds(x, d)` left-joined under
    * `verts(x)` by the returned SELECT.
    */
  def ssspOracleSql(edgesSql: String, source: Long, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"d$i AS MATERIALIZED (SELECT x, min(d) AS d FROM (" +
        s"SELECT x, d FROM d${i - 1} UNION ALL " +
        s"SELECT e.v AS x, p.d + e.w AS d FROM d${i - 1} p " +
        "JOIN e ON e.u = p.x) GROUP BY x)"
    }.mkString(", ")
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT u, v, CAST(w AS BIGINT) AS w FROM eu " +
      "UNION ALL SELECT v AS u, u AS v, CAST(w AS BIGINT) AS w FROM eu), " +
      "verts AS (SELECT DISTINCT u AS x FROM e), " +
      s"d0 AS (SELECT CAST($source AS BIGINT) AS x, CAST(0 AS BIGINT) AS d), " +
      s"$steps " +
      s"SELECT verts.x, d$rounds.d AS dist FROM verts " +
      s"LEFT JOIN d$rounds ON d$rounds.x = verts.x"
  }

  /** Weighted PageRank over an undirected weighted graph (`(u, v, w)`,
    * integer weights): [[pageRank]] with each vertex's rank split among
    * neighbors in proportion to edge weight (`r·w / Σw`) instead of
    * uniformly. The TextRank recurrence — co-occurrence counts as
    * weights is exactly Mihalcea & Tarau's keyword graph.
    *
    * Same scale/determinism shape as [[pageRank]]: weighted degrees are
    * exact integer sums, per-iteration mass sums run in DECIMAL, the
    * loop-invariant weighted-edge frame is cached once.
    */
  def pageRankWeighted(
      edges: DataFrame,
      damping: Double = 0.85,
      iters: Int = 3): DataFrame =
    pageRankOn(edges, col("w"), damping, iters)(uniformTerms(damping))

  /** DuckDB spelling of [[pageRankWeighted]] — unrolled like
    * [[pageRankOracleSql]] with weighted degrees. `finalSelect`
    * consumes `rank$iters(x, r)` (as CTE `r$iters`) and `nn(n)`.
    */
  def pageRankWeightedOracleSql(
      edgesSql: String,
      damping: Double,
      iters: Int,
      finalSelect: String): String = {
    val steps = (1 to iters).map { i =>
      s"c$i AS (SELECT e.v AS x, r${i - 1}.r * e.w / wdeg.wd AS cr " +
        s"FROM r${i - 1} JOIN e ON e.u = r${i - 1}.x " +
        s"JOIN wdeg ON wdeg.u = r${i - 1}.x), " +
        s"s$i AS (SELECT x, CAST(CAST(sum(CAST(cr AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE) AS m " +
        s"FROM c$i GROUP BY x), " +
        s"r$i AS (SELECT verts.x, ${1 - damping} / nn.n + " +
        s"$damping * coalesce(s$i.m, 0.0) AS r " +
        s"FROM verts CROSS JOIN nn LEFT JOIN s$i ON s$i.x = verts.x)"
    }.mkString(", ")
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT u, v, CAST(w AS BIGINT) AS w FROM eu " +
      "UNION ALL SELECT v AS u, u AS v, CAST(w AS BIGINT) AS w FROM eu), " +
      "wdeg AS (SELECT u, CAST(sum(w) AS BIGINT) AS wd FROM e GROUP BY u), " +
      "verts AS (SELECT DISTINCT u AS x FROM e), " +
      "nn AS (SELECT count(*)::BIGINT AS n FROM verts), " +
      "r0 AS (SELECT x, 1.0 / nn.n AS r FROM verts CROSS JOIN nn), " +
      s"$steps $finalSelect"
  }

  /** Synchronous label propagation (community detection) with a fully
    * deterministic update rule: each round, EVERY vertex adopts the
    * most frequent label among its neighbors, ties broken by the
    * smallest label; isolated behavior (no neighbors) cannot occur on
    * an edge-derived vertex set. Labels start as own ids.
    *
    * Textbook async LPA is visit-order dependent (useless under a hash
    * gate) and sync LPA need not converge (bipartite structures
    * oscillate) — so the operator's CONTRACT is a FIXED round count,
    * like [[khopFeatureMeans]]'s fixed hops: `rounds` synchronous
    * updates, exactly reproducible anywhere. Each round is one
    * edge-keyed join + one (vertex, label) count aggregate + one
    * per-vertex argmax — all partial-aggregable / key-local; the
    * argmax is max(struct(count, −label)), never a window.
    *
    * The symmetrized list comes from [[undirected]], so an arbitrary
    * caller plan (e.g. a co-occurrence self-join) evaluates once, not
    * once per round.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    import graft.util.Lineage
    val sym = undirected(edges, "u", "v")
    val (labels, gen) = Lineage.unrolled(
        sym.select(col("u").as("x")).distinct()
          .select(col("x"), col("x").as("lbl")), rounds) { labels =>
      sym
        .join(labels.withColumnRenamed("x", "u"), "u")
        .groupBy(col("v").as("x"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("x")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("x"), (-col("m.nl")).as("lbl"))
    }
    // loop-exit hygiene: see [[pageRankOn]]
    val out = Lineage.checkpoint(
      labels.select(col("x"), col("lbl").as("community")))
    gen.foreach(Lineage.free)
    sym.unpersist(blocking = false)
    out.df
  }

  /** DuckDB spelling of [[labelPropagation]]: `rounds` unrolled CTE
    * rounds of count → deterministic argmax (the same
    * max-by-(count, −label) rule via a row_number window, which SQL
    * may run single-threaded). Emits `(x, community)` from CTE
    * `l$rounds`.
    */
  def labelPropagationOracleSql(edgesSql: String, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"c$i AS (SELECT e.dst AS x, l${i - 1}.lbl, count(*) AS cnt " +
        s"FROM e JOIN l${i - 1} ON l${i - 1}.x = e.src GROUP BY 1, 2), " +
        s"l$i AS (SELECT x, lbl FROM (SELECT x, lbl, row_number() OVER " +
        "(PARTITION BY x ORDER BY cnt DESC, lbl ASC) AS rn " +
        s"FROM c$i) WHERE rn = 1)"
    }.mkString(", ")
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT u AS src, v AS dst FROM eu " +
      "UNION ALL SELECT v AS src, u AS dst FROM eu), " +
      "l0 AS (SELECT DISTINCT src AS x, src AS lbl FROM e), " +
      s"$steps " +
      s"SELECT x, lbl AS community FROM l$rounds"
  }

  /** Personalized PageRank: [[pageRank]] with the teleport mass
    * restricted to `seeds` — the "importance relative to THIS seed
    * set" primitive behind related-item features and local community
    * scoring. Seeds are model parameters (broadcast literals), so the
    * only data-sized state is the rank vector; non-seed vertices with
    * no in-mass report the exact 0.
    */
  def pageRankPersonalized(
      edges: DataFrame,
      seeds: Seq[Long],
      damping: Double = 0.85,
      iters: Int = 3): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs a seed set")
    // a repeated seed counts twice in the 1/|seeds| share but once in
    // `isin`, so the teleport mass would sum to less than 1
    val repeated = seeds.diff(seeds.distinct)
    require(repeated.isEmpty,
      s"personalized PageRank seed ${repeated.head} is given twice")
    val tele = when(col("x").isin(seeds: _*), lit(1.0 / seeds.size))
      .otherwise(lit(0.0))
    pageRankOn(edges, lit(1L), damping, iters)(
      _.withColumn("r0", tele).withColumn("t", lit(1 - damping) * tele))
  }

  /** DuckDB spelling of [[pageRankPersonalized]] — the
    * [[pageRankOracleSql]] chain with the uniform teleport replaced by
    * the seed-restricted CASE. `finalSelect` consumes `r$iters(x, r)`.
    */
  def pagerankPersonalizedOracleSql(
      edgesSql: String,
      seeds: Seq[Long],
      damping: Double,
      iters: Int,
      finalSelect: String): String = {
    val seedList = seeds.mkString(", ")
    // every float literal ::DOUBLE — a bare high-precision decimal
    // literal (1/3 = 0.3333333333333333) would run the teleport term
    // in DuckDB's exact DECIMAL and drift from Spark's IEEE product
    val tele = s"CASE WHEN verts.x IN ($seedList) " +
      s"THEN ${1.0 / seeds.size}::DOUBLE ELSE 0.0::DOUBLE END"
    val steps = (1 to iters).map { i =>
      s"c$i AS (SELECT e.v AS x, r${i - 1}.r / deg.od AS cr " +
        s"FROM r${i - 1} JOIN e ON e.u = r${i - 1}.x JOIN deg ON deg.u = r${i - 1}.x), " +
        s"s$i AS (SELECT x, CAST(CAST(sum(CAST(cr AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE) AS m " +
        s"FROM c$i GROUP BY x), " +
        s"r$i AS (SELECT verts.x, ${1 - damping}::DOUBLE * $tele + " +
        s"$damping::DOUBLE * coalesce(s$i.m, 0.0) AS r " +
        s"FROM verts LEFT JOIN s$i ON s$i.x = verts.x)"
    }.mkString(", ")
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu), " +
      "deg AS (SELECT u, count(*) AS od FROM e GROUP BY u), " +
      "verts AS (SELECT DISTINCT u AS x FROM e), " +
      s"r0 AS (SELECT x, $tele AS r FROM verts), " +
      s"$steps $finalSelect"
  }

  /** HITS hubs & authorities over a DIRECTED bipartite-or-general edge
    * list `(src, dst)`: authority(v) = Σ hub(u) over in-edges, hub(u) =
    * Σ authority(v) over out-edges, each side L1-normalized per
    * iteration. L1 (not the textbook L2) is deliberate: the norm is
    * then a DECIMAL-exact sum of 6-dp values and one division, so every
    * iteration is bit-reproducible cross-engine, where an L2 norm's
    * sum-of-squares → sqrt would chain irrational intermediates through
    * the rounding. Rankings are identical — the norm only rescales.
    *
    * Each half-iteration is one equi-join + one key aggregate (both
    * shuffle on the vertex key, both partial-aggregable) plus a 1-row
    * broadcast for the norm; `iters` is fixed and small, so the whole
    * op is `2·iters` joins regardless of data size.
    *
    * @return ('hub'|'authority', vertex, score) — scores 6-dp, each
    *         side summing to ~1.
    */
  def hitsBipartite(edges: DataFrame, iters: Int = 4): DataFrame = {
    import graft.queries.Det.r6
    import graft.util.Lineage
    require(iters >= 1, s"hitsBipartite needs iters >= 1, got $iters")
    // the edge list materializes once, eagerly, as its own generation:
    // every half-iteration joins it, and the caller's edge plan must not
    // re-run per join; it is freed as soon as the last half-iteration
    // has read it
    val eGen = Lineage.checkpoint(edges.select(col("src"), col("dst")))
    val e = eGen.df
    val srcs = e.select(col("src").as("x")).distinct()
    def dsumRaw(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(25,6)")).cast("double")
    var hub = srcs.select(col("x"), lit(1.0).as("h"))
    var auth: DataFrame = null
    // Generation discipline (round-9 fix): each half-iteration's raw-sum
    // frame ROTATES through an eager localCheckpoint (util/Lineage), not
    // cache(). cache() materializes blocks but does NOT truncate the
    // logical plan — iteration i's analyzer tree still embedded every
    // prior generation twice (its L1 norm + the normalized join), so the
    // tree grew ~4× per iteration and analysis/optimization alone took
    // minutes (measured 586.9 s at sf0.1 for iters=4 under cache();
    // ~3 s rotated). The checkpoint truncates lineage, so every
    // half-iteration plans as one small join+aggregate, and freeing the
    // previous generation keeps executor storage at two vertex-sized
    // frames regardless of iters.
    var aGen: Option[Lineage.Gen] = None
    var hGen: Option[Lineage.Gen] = None
    for (_ <- 1 to iters) {
      val aG = Lineage.checkpoint(
        e.join(hub.withColumnRenamed("x", "src"), "src")
          .groupBy(col("dst").as("x")).agg(dsumRaw(col("h")).as("raw")))
      // hub's backing generation was consumed by the checkpoint above;
      // the previous auth generation by the previous hub checkpoint
      hGen.foreach(Lineage.free)
      aGen.foreach(Lineage.free)
      aGen = Some(aG)
      val ta = aG.df.agg(dsumRaw(col("raw")).as("t"))
      auth = aG.df.crossJoin(broadcast(ta))
        .select(col("x"), r6(col("raw") / col("t")).as("a"))
      val hG = Lineage.checkpoint(
        e.join(auth.withColumnRenamed("x", "dst"), "dst")
          .groupBy(col("src").as("x")).agg(dsumRaw(col("a")).as("raw")))
      hGen = Some(hG)
      val th = hG.df.agg(dsumRaw(col("raw")).as("t"))
      hub = hG.df.crossJoin(broadcast(th))
        .select(col("x"), r6(col("raw") / col("t")).as("h"))
    }
    // the final hub/auth projections read only the two surviving
    // checkpointed generations, so the edge blocks can go now; the final
    // generations back the returned frame (bench/session hygiene or the
    // ContextCleaner reaps them once the result is dropped)
    Lineage.free(eGen)
    hub.select(lit("hub").as("side"), col("x").as("vertex"),
        col("h").as("score"))
      .unionAll(auth.select(lit("authority").as("side"),
        col("x").as("vertex"), col("a").as("score")))
      .orderBy("side", "vertex")
  }

  /** DuckDB spelling of [[hitsBipartite]]: unrolled CTE pairs, same
    * DECIMAL-sum/L1/r6 discipline. Emits the full ordered
    * (side, vertex, score) result.
    */
  def hitsOracleSql(edgesSql: String, iters: Int): String = {
    import graft.queries.Oracle.{dsumRaw => ds, r6}
    val steps = (1 to iters).map { i =>
      s"ar$i AS MATERIALIZED (SELECT e.dst AS x, ${ds(s"h${i - 1}.h")} AS raw " +
        s"FROM e JOIN h${i - 1} ON h${i - 1}.x = e.src GROUP BY e.dst), " +
        s"at$i AS (SELECT ${ds("raw")} AS t FROM ar$i), " +
        s"a$i AS (SELECT x, ${r6("raw / t")} AS a FROM ar$i CROSS JOIN at$i), " +
        s"hr$i AS MATERIALIZED (SELECT e.src AS x, ${ds(s"a$i.a")} AS raw " +
        s"FROM e JOIN a$i ON a$i.x = e.dst GROUP BY e.src), " +
        s"ht$i AS (SELECT ${ds("raw")} AS t FROM hr$i), " +
        s"h$i AS (SELECT x, ${r6("raw / t")} AS h FROM hr$i CROSS JOIN ht$i)"
    }.mkString(", ")
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT src, dst FROM eu), " +
      "h0 AS (SELECT DISTINCT src AS x, 1.0 AS h FROM e), " +
      s"$steps " +
      s"SELECT 'hub' AS side, x AS vertex, h AS score FROM h$iters " +
      "UNION ALL " +
      s"SELECT 'authority' AS side, x AS vertex, a AS score FROM a$iters " +
      "ORDER BY side, vertex"
  }

  /** Closeness centrality of a SEED SET by multi-source BFS — the
    * "which landmark reaches the graph fastest" readout. Exact
    * all-pairs closeness is |V| BFS traversals (not a 100 TB shape);
    * the standard practice (Eppstein–Wang sampling) evaluates a small
    * pilot/landmark set exactly, which is precisely this operator:
    * every seed's full distance vector in ONE shared iteration, frames
    * keyed (seed, vertex) so the per-round join work is |seeds|·|E|
    * spread across the same vertex-keyed shuffle as a single BFS.
    *
    * Per seed: `n_reached` (vertices at finite distance, the seed
    * itself included at 0), `dist_sum` (Σ hop distances, exact
    * BIGINT), and classic closeness (n_reached − 1) / dist_sum (one r6
    * double division; NULL for an isolated seed). Distances are hop
    * counts — integers — so the whole gate is exact arithmetic plus
    * one division.
    *
    * Same fixpoint discipline as [[sssp]]: [[relax]] keyed by seed
    * with `w = 1`, the [[reach]] witness one 1-row driver scalar per
    * round, lineage rotated through [[graft.util.Lineage.fixpoint]],
    * `maxRounds` a loud runaway guard.
    */
  def closenessCentrality(
      edges: DataFrame,
      seeds: Seq[Long],
      maxRounds: Int = 64): DataFrame = {
    require(seeds.nonEmpty, "closenessCentrality needs at least one seed")
    val spark = edges.sparkSession
    val e = undirected(edges, "u", "v")
    import spark.implicits._
    val seedDf = seeds.toDF("s")
    val (Seq(dist), _) = graft.util.Lineage.fixpoint("closenessCentrality",
        Seq(seedDf.select(col("s"), col("s").as("x"), lit(0L).as("d"))),
        maxRounds)(s => relax(s.head, e, lit(1L), "s"))(
      graft.util.Lineage.unchanged(s => reach(s.head)))
    // loop-exit hygiene: see [[pageRankOn]]
    val out = graft.util.Lineage.checkpoint(
      dist.df.groupBy(col("s").as("seed"))
        .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("dist_sum"))
        .select(col("seed"), col("n_reached"), col("dist_sum"),
          when(col("dist_sum") > 0, graft.queries.Det.r6(
            (col("n_reached") - 1).cast("double") /
              col("dist_sum").cast("double"))).as("closeness")))
    graft.util.Lineage.free(dist)
    e.unpersist(blocking = false)
    out.df
  }

  /** DuckDB spelling of [[closenessCentrality]]: `rounds` unrolled
    * multi-source relaxation passes (the [[ssspOracleSql]] discipline
    * with a seed column carried through every step).
    */
  def closenessOracleSql(
      edgesSql: String,
      seeds: Seq[Long],
      rounds: Int): String = {
    val r6 = graft.queries.Oracle.r6 _
    val seedRows = seeds.map(s => s"($s::BIGINT)").mkString(", ")
    val steps = (1 to rounds).map { i =>
      s"d$i AS MATERIALIZED (SELECT s, x, min(d) AS d FROM (" +
        s"SELECT s, x, d FROM d${i - 1} UNION ALL " +
        s"SELECT p.s, e.v AS x, p.d + 1 AS d FROM d${i - 1} p " +
        "JOIN e ON e.u = p.x) GROUP BY s, x)"
    }.mkString(", ")
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu), " +
      s"sd AS (SELECT * FROM (VALUES $seedRows) t(s)), " +
      "d0 AS (SELECT s, s AS x, 0::BIGINT AS d FROM sd), " +
      s"$steps, " +
      s"fin AS (SELECT s AS seed, count(*)::BIGINT AS n_reached, " +
      s"sum(d)::BIGINT AS dist_sum FROM d$rounds GROUP BY s) " +
      "SELECT seed, n_reached, dist_sum, CASE WHEN dist_sum > 0 THEN " +
      r6("CAST(n_reached - 1 AS DOUBLE) / CAST(dist_sum AS DOUBLE)") +
      " END AS closeness FROM fin ORDER BY seed"
  }

  /** Newman modularity breakdown of a vertex partition (Newman &
    * Girvan 2004): for each community c over an undirected graph with
    * m edges, `dq_c = L_c/m − (deg_c/2m)²` where L_c is the number of
    * intra-community edges and deg_c the community's total degree;
    * global Q is the sum of the per-community rows. The per-community
    * table (not just the scalar) is the useful artifact — it names
    * WHICH communities carry the partition quality, the readout a
    * community-detection pipeline audits after [[labelPropagation]].
    *
    * Inputs: `edges(u, v)` distinct with u < v (the
    * [[coOccurrenceEdges]] contract), `labels(x, community)` covering
    * every endpoint. Shape: two label-keyed equi-joins (each endpoint)
    * + key-local aggregates; the edge/degree totals are 1-row
    * broadcast scalars. No windows, no pair explosion — safe at any
    * scale the label frame itself is.
    *
    * Determinism: L_c, deg_c, m are exact integers; dq is two exact
    * integer-valued divisions, one subtraction, one square — the same
    * IEEE tree both engines — rounded once (r6).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lbl = labels.select(col("x"), col("community"))
    val e = edges.select(col("u"), col("v"))
    // total edge count as a 1-row broadcast scalar
    val m = e.agg(count(lit(1)).as("_m"))
    // ONE labeled pass over the edge list (r15): label both endpoints,
    // then explode each edge into its two endpoint-community rows —
    // deg_sum is the row count per community and n_internal the count
    // of intra flags (set on the u-side row only, so each intra edge
    // counts once). The r14 spelling derived deg_sum and n_internal
    // from two separate passes (a symmetrized union + its own label
    // join, and a second two-sided label join), i.e. the edge list
    // scanned twice and the label frame joined three times; both
    // aggregates are exact integers either way, so dq is bit-identical.
    // Labels cover every endpoint (the documented input contract), so
    // the shared two-sided join drops nothing the old passes kept.
    val labeled = e
      .join(lbl.select(col("x").as("u"), col("community").as("_cu")), "u")
      .join(lbl.select(col("x").as("v"), col("community").as("_cv")), "v")
    val combined = labeled
      .select(explode(array(
        struct(col("_cu").as("c"), (col("_cu") === col("_cv")).as("i")),
        struct(col("_cv").as("c"), lit(false).as("i")))).as("t"))
      .groupBy(col("t.c").as("community"))
      .agg(count(lit(1)).as("deg_sum"),
        sum(when(col("t.i"), 1L).otherwise(0L)).as("n_internal"))
    val nodes = lbl.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    nodes
      .join(combined, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(
        col("community"),
        col("n_nodes"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        graft.queries.Det.r6(
          coalesce(col("n_internal"), lit(0L)).cast("double") /
            col("_m").cast("double") -
            (coalesce(col("deg_sum"), lit(0L)).cast("double") /
              (col("_m").cast("double") * 2.0)) *
              (coalesce(col("deg_sum"), lit(0L)).cast("double") /
                (col("_m").cast("double") * 2.0))).as("dq"))
      .orderBy("community")
  }

  /** Link prediction over an undirected graph: for every DISTANCE-2
    * pair (a, b) that is not already an edge, the common-neighbor
    * count and the Adamic–Adar score `Σ_w 1/ln(deg w)` (Adamic &
    * Adar 2003) over shared neighbors w — the classic
    * related-items/people-you-may-know candidate scorer. Returns the
    * top `topK` by (aa DESC, cn DESC, a, b) — a total order, so the
    * cut boundary is deterministic.
    *
    * Scale shape: wedge formation on the center vertex is the
    * triangle-counting hazard (fanout Σ deg(w)²), so centers are
    * routed through a degree cap: centers with deg > `maxNeighborDeg`
    * are excluded from wedge formation. This is the standard
    * hub-suppression of production AA — a hub contributes only
    * 1/ln(huge) ≈ 0 per pair while generating deg² candidates, so the
    * cap removes quadratic work that carries no signal. The cap is a
    * SEMANTIC parameter (documented, oracle-mirrored), not a silent
    * truncation.
    *
    * Plan shape (r11, VERDICT r10 task 1): the r10 spelling joined a
    * center-keyed adjacency with itself on w — Catalyst does NOT reuse
    * the exchange across the two differently-projected sides, so the
    * sym stream was shuffled, deg-joined, and sorted TWICE, and the
    * 144M-row wedge stream then flowed through the SMJ's row-at-a-time
    * probe. The grouped-adjacency form collects each surviving
    * center's neighbor list once (bounded ≤ cap elements — the deg
    * pre-join keeps hubs out of the aggregation buffer, so no
    * collect_list state ever exceeds cap longs even on a power-law
    * 100 TB graph), sorts it in-row, and emits the ordered pairs with
    * two codegen'd generates (posexplode × slice-explode) — the wedge
    * stream is born map-side from ONE exchange of sym and goes
    * straight into the partial (a,b) aggregate. Same wedge multiset,
    * one exchange + no join-side sorts where there were three.
    *
    * Determinism: cn is an exact integer; each 1/ln(deg) term is one
    * libm ln of an exact integer, r6'd, decimal-summed; pair order
    * within a row is pinned by sort_array.
    */
  def adamicAdar(
      edges: DataFrame,
      maxNeighborDeg: Int = 256,
      topK: Int = 50): DataFrame = {
    require(topK >= 1, "adamicAdar needs topK >= 1")
    require(maxNeighborDeg >= 2,
      "adamicAdar needs maxNeighborDeg >= 2 — degree-1 centers form no wedges")
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("w")).agg(count(lit(1)).as("_deg"))
    // deg pre-join BEFORE collect_list: hubs never reach the
    // aggregation buffer, so per-group state is ≤ cap elements by
    // construction (the 100 TB power-law safety the size()-post-filter
    // spelling would not have).
    // The explicit repartition PINS hash(w) co-location ahead of the
    // join AND the grouped aggregate, whichever join strategy the
    // planner picks: when deg broadcasts (small-stats inputs), the
    // join alone would leave sym unpartitioned and collect_list would
    // plan partial-then-shuffle — millions of per-partition list
    // FRAGMENTS serialized across the exchange and merged per key
    // (measured +7 s on this gate); with the pin the aggregate is one
    // complete pass over co-located rows. When deg does NOT broadcast,
    // the shuffle join's own requirement is satisfied by this same
    // exchange, so the pin costs nothing. Either way: exactly ONE
    // exchange of the sym stream.
    // shuffle_hash, never broadcast: deg is vertex-sized and the stats
    // estimate often clears the auto-broadcast threshold, but a
    // broadcast here is a LOSS twice over — the driver collects a
    // graph-scale frame (forbidden shape at 100 TB), and the join
    // output loses the hash(w) co-partitioning the grouped aggregate
    // needs, so collect_list re-plans partial-then-shuffle (array
    // fragments across the wire; measured +7 s on the sf0.1 gate).
    // With the pin + hint both sides meet on hash(w) — sym's exchange
    // is the repartition above, deg's is vertex-sized — and the
    // aggregate runs exchange-free on co-located rows.
    val capped = sym.select(col("u").as("w"), col("v").as("x"))
      .repartition(col("w"))
      .join(deg.filter(col("_deg") <= maxNeighborDeg && col("_deg") >= 2)
        .hint("shuffle_hash"),
        "w")
    // grouped adjacency: the stream is hash-partitioned by w (pinned
    // above), so this aggregate adds NO exchange; size(list) == deg(w)
    // because the pre-join kept every neighbor of a surviving center
    val grouped = capped.groupBy("w")
      .agg(sort_array(collect_list(col("x"))).as("_nbrs"))
      .withColumn("_aw", graft.queries.Det.r6(
        lit(1.0) / log(size(col("_nbrs")).cast("double"))))
    // in-row ordered-pair generation: for the element at 0-based pos
    // _i, pair it with the (1-based) suffix starting at _i + 2 —
    // every position pair i < j exactly once; a < b then drops the
    // equal-value pairs a multigraph edge list would produce (the
    // self-join's strict a < b did the same)
    val wedges = grouped
      .select(col("_aw"), col("_nbrs"),
        posexplode(col("_nbrs")).as(Seq("_i", "a")))
      .select(col("_aw"), col("a"),
        explode(slice(col("_nbrs"), col("_i") + lit(2),
          greatest(size(col("_nbrs")) - col("_i") - lit(1), lit(0))))
          .as("b"))
      .filter(col("a") < col("b"))
    val scored = wedges
      .groupBy("a", "b")
      .agg(
        count(lit(1)).as("cn"),
        // _aw is an r6 output (exactly 6 dp): dsum6 sums scaled longs
        // in codegen and rebuilds the identical decimal per group —
        // same value as dsum, ~2x cheaper over the wedge stream
        graft.queries.Det.dsum6(col("_aw")).as("aa"))
    scored
      // shuffle_hash for the known-edge anti-join too: edges are
      // graph-sized (never broadcast at scale), and scored is already
      // hash-partitioned by (a,b) from its aggregate — the anti-join
      // reuses that exchange and only the edge side shuffles
      .join(edges.select(col("u").as("a"), col("v").as("b"))
        .hint("shuffle_hash"),
        Seq("a", "b"), "left_anti")
      .orderBy(col("aa").desc, col("cn").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Degree value at the `q`-quantile of the symmetrized-degree
    * distribution (ascending rank semantics: the smallest degree d
    * whose cumulative vertex count reaches ⌈q·n⌉), floored at 2 — the
    * self-tuning input to [[adamicAdar]]'s hub cap. A constant cap
    * tuned on one corpus mis-sizes on the next (cap 128 vs 80 was a
    * measured 6× wedge-mass swing on the same gate, SCALE.md §10f);
    * the quantile pins the SEMANTICS ("suppress the top (1−q) hub
    * tail") and lets the value follow the distribution.
    *
    * Cost/shape: one degree aggregate, then a histogram over DISTINCT
    * degree values — provably ≤ √(4m)+1 rows for any graph with m
    * edges (k distinct degrees force Σdeg ≥ k(k+1)/2 ≤ 2m), so the
    * unpartitioned cumulative window is structurally bounded, the
    * topEigen/bootstrap discipline. The returned scalar is a model
    * parameter (driver-side single-row read, the triangleCounts `m`
    * pattern).
    *
    * Determinism: counts are exact integers; the only float step is
    * ⌈q·n⌉ — one IEEE multiply + ceil, spelled identically in
    * [[adamicAdarAdaptiveOracleSql]].
    */
  def degreeCapAtQuantile(edges: DataFrame, q: Double): Long = {
    require(q > 0.0 && q <= 1.0, s"quantile out of range: $q")
    import org.apache.spark.sql.expressions.Window
    val sym = edges.select(col("u").as("w"))
      .unionAll(edges.select(col("v").as("w")))
    val hist = sym.groupBy("w").agg(count(lit(1)).as("_deg"))
      .groupBy("_deg").agg(count(lit(1)).as("_cnt"))
    val cum = hist
      .withColumn("_cum", sum(col("_cnt")).over(Window.orderBy(col("_deg"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum(col("_cnt")).over(Window.partitionBy()))
    val capRow = cum
      .filter(col("_cum") >=
        ceil(lit(q) * col("_n").cast("double")).cast("long"))
      .agg(min(col("_deg"))).head()
    // min() over zero rows yields a NULL cell, not zero rows — an
    // empty edge frame must fail loudly, not NPE in getLong
    require(!capRow.isNullAt(0),
      "degreeCapAtQuantile: empty edge frame — no degree distribution to cut")
    math.max(2L, capRow.getLong(0))
  }

  /** [[adamicAdar]] with the hub cap derived from the graph's own
    * degree distribution via [[degreeCapAtQuantile]] — the production
    * form: the quantile travels across corpora, the cap value does
    * not. The derived cap is logged so a run records the parameter it
    * actually executed with.
    */
  def adamicAdarAdaptive(
      edges: DataFrame,
      capQuantile: Double = 0.99,
      topK: Int = 50): DataFrame = {
    val cap = degreeCapAtQuantile(edges, capQuantile)
    System.err.println(
      s"[graft] adamicAdarAdaptive: derived degree cap $cap " +
        s"at quantile $capQuantile")
    adamicAdar(edges, maxNeighborDeg = math.min(cap, Int.MaxValue).toInt,
      topK = topK)
  }

  /** DuckDB spelling of [[adamicAdarAdaptive]]: the cap CTE replays
    * [[degreeCapAtQuantile]] (histogram → bounded cumulative window →
    * ⌈q·n⌉ rank cut, floored at 2), then the [[adamicAdarOracleSql]]
    * body filters against it.
    */
  def adamicAdarAdaptiveOracleSql(
      edgesSql: String,
      capQuantile: Double,
      topK: Int): String = {
    val r6 = graft.queries.Oracle.r6 _
    s"WITH eu AS MATERIALIZED ($edgesSql), " +
      "e AS (SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu), " +
      "d AS MATERIALIZED (SELECT u AS w, count(*)::BIGINT AS deg " +
      "FROM e GROUP BY 1), " +
      "hist AS (SELECT deg, count(*)::BIGINT AS cnt FROM d GROUP BY 1), " +
      "cum AS (SELECT deg, sum(cnt) OVER (ORDER BY deg " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "sum(cnt) OVER () AS n FROM hist), " +
      s"cap AS (SELECT greatest(2, min(deg)) AS cap FROM cum " +
      s"WHERE cum >= CAST(ceil($capQuantile * CAST(n AS DOUBLE)) AS BIGINT)), " +
      "adj AS (SELECT d.w, e.v AS x, " +
      r6("1.0 / ln(deg::DOUBLE)") + " AS aw " +
      "FROM e JOIN d ON d.w = e.u " +
      "WHERE deg <= (SELECT cap FROM cap) AND deg >= 2), " +
      "wg AS (SELECT a.w, a.x AS a, b.x AS b, a.aw " +
      "FROM adj a JOIN adj b ON a.w = b.w AND a.x < b.x), " +
      "sc AS (SELECT a, b, count(*)::BIGINT AS cn, " +
      graft.queries.Oracle.dsum("aw") + " AS aa " +
      "FROM wg GROUP BY 1, 2) " +
      "SELECT a, b, cn, aa FROM sc " +
      "WHERE NOT EXISTS (SELECT 1 FROM eu WHERE eu.u = sc.a AND eu.v = sc.b) " +
      s"ORDER BY aa DESC, cn DESC, a, b LIMIT $topK"
  }

  /** DuckDB spelling of [[adamicAdar]]. */
  def adamicAdarOracleSql(
      edgesSql: String,
      maxNeighborDeg: Int,
      topK: Int): String = {
    val r6 = graft.queries.Oracle.r6 _
    s"WITH eu AS ($edgesSql), " +
      "e AS (SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu), " +
      "d AS (SELECT u AS w, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
      "adj AS (SELECT e.u AS w, e.v AS x, " +
      r6("1.0 / ln(deg::DOUBLE)") + " AS aw " +
      s"FROM e JOIN d ON d.w = e.u WHERE deg <= $maxNeighborDeg AND deg >= 2), " +
      "wg AS (SELECT a.w, a.x AS a, b.x AS b, a.aw " +
      "FROM adj a JOIN adj b ON a.w = b.w AND a.x < b.x), " +
      "sc AS (SELECT a, b, count(*)::BIGINT AS cn, " +
      graft.queries.Oracle.dsum("aw") + " AS aa " +
      "FROM wg GROUP BY 1, 2) " +
      "SELECT a, b, cn, aa FROM sc " +
      "WHERE NOT EXISTS (SELECT 1 FROM eu WHERE eu.u = sc.a AND eu.v = sc.b) " +
      s"ORDER BY aa DESC, cn DESC, a, b LIMIT $topK"
  }

  /** DuckDB spelling of [[modularity]] over a labels subquery
    * (typically [[labelPropagationOracleSql]] nested verbatim).
    */
  def modularityOracleSql(edgesSql: String, labelsSql: String): String = {
    val r6 = graft.queries.Oracle.r6 _
    // l is referenced four times (degree mass, both intra endpoints,
    // node counts); MATERIALIZED stops the engine from inlining —
    // i.e. re-running — the whole unrolled-LPA pipeline per reference
    // (at sf1 the 4x recomputation spilled DuckDB to disk exhaustion)
    s"WITH me AS MATERIALIZED ($edgesSql), l AS MATERIALIZED ($labelsSql), " +
      "m AS (SELECT count(*)::BIGINT AS m FROM me), " +
      "dg AS (SELECT l.community, count(*)::BIGINT AS deg_sum FROM " +
      "(SELECT u AS x FROM me UNION ALL SELECT v AS x FROM me) s " +
      "JOIN l ON l.x = s.x GROUP BY 1), " +
      "intra AS (SELECT la.community, count(*)::BIGINT AS n_internal " +
      "FROM me JOIN l la ON la.x = me.u JOIN l lb ON lb.x = me.v " +
      "WHERE la.community = lb.community GROUP BY 1), " +
      "nodes AS (SELECT community, count(*)::BIGINT AS n_nodes " +
      "FROM l GROUP BY 1) " +
      "SELECT community, n_nodes, " +
      "coalesce(n_internal, 0)::BIGINT AS n_internal, " +
      "coalesce(deg_sum, 0)::BIGINT AS deg_sum, " +
      r6("coalesce(n_internal, 0)::DOUBLE / m::DOUBLE - " +
        "(coalesce(deg_sum, 0)::DOUBLE / (m::DOUBLE * 2.0)) * " +
        "(coalesce(deg_sum, 0)::DOUBLE / (m::DOUBLE * 2.0))") +
      " AS dq FROM nodes LEFT JOIN dg USING (community) " +
      "LEFT JOIN intra USING (community) CROSS JOIN m ORDER BY community"
  }
}
