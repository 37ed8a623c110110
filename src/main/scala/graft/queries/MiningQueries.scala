package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Basket, Features, Profile, Spatial, Stats, TextAnalysis}
import graft.queries.{Oracle => O}
import graft.sources.Tables

/** Gate queries for the round-6 mining/indexing family: grid-bucketed
  * spatial radius join, count-min sketch, market-basket associations,
  * the data-skipping prune audit, readability scoring, and equi-depth
  * binning. All hash-checked against DuckDB; the operators carry
  * fixture-level unit proofs in MiningSpec.
  */
object MiningQueries {

  /** Deterministic NYC-ish point derivation shared verbatim with the
    * oracle: events become points on a 0.0008° lattice keyed by
    * (user_id % 997, event_id % 1013); the first 25 events double as
    * query landmarks. Pure integer-mod + IEEE multiply-add, identical
    * both engines. The ~1M-site lattice matters for SCALING: site occupancy
    * stays near-constant as sf grows (the field gains extent-coverage,
    * like real geo data), so the self-join pair count — and q_density —
    * grows linearly with rows instead of quadratically on a saturated
    * small grid (the round-6 sweep measured 15.3× at 10× on the old
    * 97×113 lattice; densification, not plan, but the denser fixture
    * was the unrealistic part).
    */
  private def eventPoints(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      (lit(40.2) + (col("user_id") % 997) * lit(0.0008)).as("lat"),
      (lit(-74.6) + (col("event_id") % 1013) * lit(0.0008)).as("lon"))

  /** Landmarks anchor at the first 25 events' own positions: every
    * landmark has at least its anchor within 0 m, so the gate emits
    * rows at EVERY scale factor — free-floating landmarks went
    * matchless on the sparse sf0.001 lattice.
    */
  private def landmarkPoints(s: SparkSession, dir: String): DataFrame =
    eventPoints(s, dir).filter(col("event_id") < 25).select(
      col("event_id").as("landmark_id"),
      col("lat").as("qlat"), col("lon").as("qlon"))

  /** Grid-bucketed 500 m radius join ([[Spatial.gridRadiusJoin]]):
    * events-as-points against 25 event-anchored landmarks. The oracle
    * is the BRUTE-FORCE haversine cross join, so a hash match proves
    * the 3×3 cell neighborhood generates every true candidate — the
    * no-false-negative contract grid pruning must keep.
    */
  def qSpatial(s: SparkSession, dir: String): DataFrame =
    Spatial.gridRadiusJoin(
        eventPoints(s, dir), landmarkPoints(s, dir),
        "event_id", "lat", "lon", "landmark_id", "qlat", "qlon",
        radiusM = 500.0, cellDeg = 0.0065, maxAbsLatDeg = 41.0)
      .orderBy("landmark_id", "event_id")

  /** Count-min sketch ([[Stats.cmsBuild]]/[[Stats.cmsEstimate]]) over
    * document token occurrences at d=4, w=16 — w chosen BELOW the
    * 31-token vocabulary so bucket collisions actually occur and the
    * min-over-rows estimator is exercised, not vacuous. md5 bucketing
    * makes the table and every estimate bit-identical cross-engine:
    * the oracle replays the sketch, so the ESTIMATOR is hash-checked,
    * plus the exact count per token for the overestimate audit.
    */
  def qCms(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables.table(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val sketch = Stats.cmsBuild(occ, "tok", d = 4, w = 16)
    val exact = occ.groupBy("tok").agg(count(lit(1)).as("n_exact"))
    Stats.cmsEstimate(sketch, exact.select("tok"), "tok", d = 4, w = 16)
      .join(exact, "tok")
      .select(col("tok"), col("n_exact"), col("est"),
        (col("est") >= col("n_exact")).as("over_ok"))
      .orderBy("tok")
  }

  /** Market-basket association mining ([[Basket.pairAssociations]]):
    * top-50 co-purchased part pairs by lift over lineitem orders.
    */
  def qBasket(s: SparkSession, dir: String): DataFrame =
    Basket.pairAssociations(
      Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      minPairCount = 3, topN = 50)

  /** Data-skipping prune audit ([[Profile.pruneAudit]]): per-day zone
    * stats for events.value and the skippability verdict for the band
    * [400, 500] — high enough that days whose daily max falls short
    * are provably skippable, so both verdicts appear.
    */
  def qPrune(s: SparkSession, dir: String): DataFrame =
    Profile.pruneAudit(
        Tables.events(s, dir)
          .withColumn("day", to_date(col("ts")).cast("string")),
        "day", "value", lo = 400.0, hi = 500.0)
      .orderBy("day")

  /** Readability scoring ([[TextAnalysis.readability]]): Flesch ease +
    * FK grade per document from vowel-group syllable counts.
    */
  def qReadability(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(Tables.table(s, dir, "documents"),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Equi-depth binning ([[Features.equiDepthBins]]): events.value into
    * 8 equal-count bins via one percentile aggregate + broadcast cuts —
    * never a global ntile window.
    */
  def qBins(s: SparkSession, dir: String): DataFrame =
    Features.equiDepthBins(Tables.events(s, dir), "value", nBins = 8)
      .orderBy("bin")

  /** Jaro–Winkler similarity matrix over the 64 distinct part names —
    * the record-linkage scoring pass, exercising the native codegen'd
    * [[graft.functions.JaroWinkler]] expression against DuckDB's
    * rapidfuzz `jaro_winkler_similarity` on every pair above 0.7. The
    * pair frame is the distinct-NAME table squared (vocabulary-sized,
    * 64×63/2 — never the fact table squared), so the broadcast
    * self-join is the intended plan, the q_ann_recall-oracle precedent.
    */
  def qJaro(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.JaroWinkler
    val names = Tables.table(s, dir, "part")
      .select(col("p_name").as("name")).distinct()
    val jw = JaroWinkler.jw(col("name_a"), col("name_b"))
    names.select(col("name").as("name_a"))
      .join(broadcast(names.select(col("name").as("name_b"))),
        col("name_a") < col("name_b"))
      .filter(jw >= lit(0.7))
      .select(col("name_a"), col("name_b"), graft.queries.Det.r6(jw).as("jw"))
      .orderBy("name_a", "name_b")
  }

  /** First-order Markov transition matrix
    * ([[graft.ops.Behavior.transitionMatrix]]) of per-user event-type
    * sequences, (ts, event_id)-ordered.
    */
  def qMarkov(s: SparkSession, dir: String): DataFrame =
    graft.ops.Behavior.transitionMatrix(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type")
      .orderBy("state_from", "state_to")

  /** Bitmap-index audience overlap ([[graft.ops.Bitmap]]): per-type
    * user bitmaps (63 ids per word), pairwise AND/OR popcount
    * cardinalities. The oracle spells the SET semantics (distinct
    * membership + key self-join), so a hash match proves the bit
    * algebra computes exactly the relational answer.
    */
  def qBitmap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bitmap.overlap(
        graft.ops.Bitmap.build(Tables.events(s, dir), "event_type", "user_id"))
      .orderBy("g_a", "g_b")

  /** Population Stability Index ([[graft.ops.Drift.psi]]): events
    * values of the first 15 days (reference window) vs the rest
    * (current), reference-equi-depth 10-bin report. Day 16 splits the
    * 30-day synthetic window evenly.
    */
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cutDay = to_date(lit("2024-01-16"))
    graft.ops.Drift.psi(
        ev.filter(to_date(col("ts")) < cutDay),
        ev.filter(to_date(col("ts")) >= cutDay),
        "value", nBins = 10)
      .orderBy("bin")
  }

  /** Quantile normalization ([[Features.quantileNormalize]]): event
    * values mapped onto the global distribution at their within-type
    * rank, 8-point grid. Emits the (row, source-rank grid point,
    * normalized value) triple per event.
    */
  def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    Features.quantileNormalize(
        Tables.events(s, dir), "event_type", "value", nGrid = 8)
      .select(col("event_id"), col("event_type"), col("value"),
        col("_k").as("k"), col("norm_value"))
      .orderBy("event_id")

  /** A/B readout ([[Stats.abTest]]): users hash-split into two arms,
    * outcome = "made a purchase over 150" (67 of 150 users — every user
    * makes SOME purchase in the synthetic stream, which would pool to
    * p̂ = 1 and a degenerate z).
    */
  def qAbTest(s: SparkSession, dir: String): DataFrame =
    Stats.abTest(
      Tables.events(s, dir)
        .withColumn("converted",
          (col("event_type") === "purchase" && col("value") > 150).cast("int")),
      "user_id", "converted")

  /** The deterministic typo derivation both engines share verbatim for
    * the entity-resolution gate: per record, p_partkey % 4 selects
    * no-op / char-3 deletion / char-2 duplication / leading-case flip.
    */
  private val erNameSql =
    "CASE p_partkey % 4 " +
      "WHEN 1 THEN concat(substring(p_name, 1, 2), substring(p_name, 4)) " +
      "WHEN 2 THEN concat(substring(p_name, 1, 2), substring(p_name, 2, 1), " +
      "substring(p_name, 3)) " +
      "WHEN 3 THEN concat(upper(substring(p_name, 1, 1)), substring(p_name, 2)) " +
      "ELSE p_name END"

  /** Entity resolution end to end ([[graft.ops.Linkage]]): part records
    * with deterministic typos, prefix-blocked Jaro–Winkler match edges
    * at 0.9, min-label connected components, representative = the
    * cluster's min-id name. The oracle replays blocking, scoring,
    * threshold, the recursive closure, AND the representative rule —
    * the whole record-linkage pipeline as one hash check.
    */
  def qEr(s: SparkSession, dir: String): DataFrame = {
    val recs = Tables.table(s, dir, "part")
      .select(col("p_partkey").as("rid"), expr(erNameSql).as("name"))
    graft.ops.Linkage.resolveEntities(recs, "rid", "name",
        threshold = 0.9, blockLen = 2)
      .orderBy("rid")
  }

  /** CUSUM change-point detection
    * ([[graft.ops.TimeSeries.cusumChangePoint]]): per-user max absolute
    * cumulative deviation of `value` from the user's mean, n-scaled so
    * every running value, the max, and the argmax tie-compare are exact
    * DECIMAL — the one double op is the final /n² normalization.
    */
  def qCusum(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.cusumChangePoint(
        Tables.events(s, dir), "user_id", "ts", "event_id", "value")
      .orderBy("user_id")

  /** Two-hop neighborhood feature propagation
    * ([[graft.ops.Graphs.khopFeatureMeans]]) over the co-purchase
    * graph, feature = p_retailprice.
    */
  def qKhop(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.khopFeatureMeans(
        graft.ops.Graphs.coOccurrenceEdges(
          Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        Tables.table(s, dir, "part"), "p_partkey", "p_retailprice")
      .orderBy("p_partkey")

  /** Robust MAD outlier summary ([[Stats.madOutliers]]): per-type
    * median, median-absolute-deviation, and the count beyond 3·MAD.
    */
  def qMad(s: SparkSession, dir: String): DataFrame =
    Stats.madOutliers(Tables.events(s, dir), "event_type", "value", k = 3.0)
      .orderBy("event_type")

  /** Benford first-digit audit ([[Stats.benford]]) of event values:
    * per-digit observed vs log10(1+1/d) expectation + chi² terms.
    */
  def qBenford(s: SparkSession, dir: String): DataFrame =
    Stats.benford(Tables.events(s, dir), "value")
      .orderBy("digit")

  /** Concentration metrics ([[Stats.concentration]]): per-type HHI and
    * Gini of value mass over users.
    */
  def qConcentration(s: SparkSession, dir: String): DataFrame =
    Stats.concentration(Tables.events(s, dir), "event_type", "user_id", "value")
      .orderBy("event_type")

  /** Lag-1 autocorrelation of per-user daily counts
    * ([[graft.ops.TimeSeries.dailyAutocorrelation]]).
    */
  def qAutocorr(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.dailyAutocorrelation(
        Tables.events(s, dir), "user_id", "ts")
      .orderBy("user_id")

  /** Top-20 event-type trigram motifs
    * ([[graft.ops.Behavior.sequenceMotifs]]).
    */
  def qSeq3(s: SparkSession, dir: String): DataFrame =
    graft.ops.Behavior.sequenceMotifs(
      Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
      topN = 20)

  /** Spatial neighbor density ([[Spatial.densityCounts]]): per event
    * point, how many other points sit within 300 m — the grid
    * SELF-join case (the 9-cell explode rides the full point set).
    * Oracle replays the grid algorithm (cells + neighborhood +
    * haversine) rather than brute-forcing 10k² pairs; the
    * no-false-negative property of the grid is already q_spatial's
    * brute-force-proven contract.
    */
  def qDensity(s: SparkSession, dir: String): DataFrame =
    Spatial.densityCounts(eventPoints(s, dir), "event_id", "lat", "lon",
        radiusM = 300.0, cellDeg = 0.0065, maxAbsLatDeg = 41.0)
      .orderBy("point_id")

  /** Profile diff ([[Profile.diff]]): exact per-column stats of the
    * first-15-day events window vs the rest, with the null-safe
    * `drifted` verdict — the data-contract monitor.
    */
  def qProfileDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cutDay = to_date(lit("2024-01-16"))
    Profile.diff(
        ev.filter(to_date(col("ts")) < cutDay),
        ev.filter(to_date(col("ts")) >= cutDay),
        Seq("value", "user_id"))
      .orderBy("column")
  }

  /** Day-of-week seasonality profile
    * ([[graft.ops.TimeSeries.dayOfWeekProfile]]).
    */
  def qDow(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.dayOfWeekProfile(
        Tables.events(s, dir), "event_type", "ts")
      .orderBy("event_type", "dow")

  /** Grid-based DBSCAN ([[Spatial.dbscan]]) over the event lattice at
    * the q_density radius: 300 m ball, minPts 5 (self included) — the
    * sf0.01 field splits ~40/40/20 across core/border/noise, so every
    * role and the cluster CC are exercised. The oracle replays the
    * whole chain (grid join, degree, core set, core-edge transitive
    * closure via recursive CTE, min-cluster border attach), making the
    * gate a full-algorithm hash check, not a sample.
    */
  def qDbscan(s: SparkSession, dir: String): DataFrame =
    Spatial.dbscan(eventPoints(s, dir), "event_id", "lat", "lon",
        radiusM = 300.0, minPts = 5, cellDeg = 0.0065, maxAbsLatDeg = 41.0)
      .orderBy("point_id")

  /** 2-D Pareto frontier ([[Stats.skyline2D]]): the cheapest-smallest
    * frontier of `part` (minimize retail price AND size). The two-phase
    * distributed sweep is hash-checked against the brute-force
    * NOT-EXISTS dominance oracle, so the bucket-prune + candidate-sweep
    * plan is proven exact, not approximate.
    */
  def qSkyline(s: SparkSession, dir: String): DataFrame =
    Stats.skyline2D(Tables.table(s, dir, "part"), "p_retailprice", "p_size")
      .orderBy("p_retailprice", "p_size")

  /** The haversine expression tree, token-for-token the Spark spelling
    * in [[Spatial.haversineM]] (products, not pow; same association).
    */
  // ---- q_dbscan oracle fragments, shared by the driver-facing
  // unrolled spelling (single statement, 96 fixed CC rounds) and the
  // iterative check.py script in [[dbscanIterOracle]] (temp-table loop,
  // early exit at the label-sum fixpoint). One source of truth: a
  // semantic edit to either spelling is an edit to these fragments.
  private def dbscanPtsSql: String =
    "SELECT event_id, " +
      "40.2::DOUBLE + (user_id % 997) * 0.0008::DOUBLE AS lat, " +
      "-74.6::DOUBLE + (event_id % 1013) * 0.0008::DOUBLE AS lon FROM events"
  private def dbscanPSql: String =
    "SELECT event_id, lat, lon, " +
      "floor(lat / 0.0065::DOUBLE)::BIGINT AS cy, " +
      "floor(lon / 0.0065::DOUBLE)::BIGINT AS cx FROM pts"
  private def dbscanQSql: String =
    "SELECT event_id AS qid, lat AS qlat, lon AS qlon, " +
      "cy + dy AS cy, cx + dx AS cx FROM p " +
      "CROSS JOIN range(-1, 2) t1(dy) CROSS JOIN range(-1, 2) t2(dx)"
  private def dbscanJSql: String =
    "SELECT q.qid AS a, p.event_id AS b FROM q JOIN p USING (cy, cx) " +
      "WHERE " + havSql("qlat", "qlon", "lat", "lon") + " <= 300.0 " +
      "AND q.qid != p.event_id"
  private def dbscanCoreSql: String =
    "SELECT a AS pid FROM j GROUP BY a HAVING count(*) + 1 >= 5"
  private def dbscanCeSql: String =
    "SELECT j.a, j.b FROM j WHERE j.a < j.b " +
      "AND j.a IN (SELECT pid FROM core) AND j.b IN (SELECT pid FROM core)"
  private def dbscanESql: String =
    "SELECT a AS src, b AS dst FROM ce UNION ALL SELECT b, a FROM ce"
  private def dbscanCcRoundSql(prev: String): String =
    "SELECT t.id, least(t.l, coalesce(nb.ml, t.l), coalesce(jp.l, t.l)) AS l " +
      s"FROM $prev t " +
      "LEFT JOIN (SELECT e.dst AS id, min(s.l) AS ml FROM e " +
      s"JOIN $prev s ON s.id = e.src GROUP BY e.dst) nb ON nb.id = t.id " +
      s"LEFT JOIN $prev jp ON jp.id = t.l"
  // consumes cc / core / j / pts; shared verbatim by both spellings
  private def dbscanTailSql: String =
    "corecl AS (SELECT pid, coalesce(cc.cluster_id, pid) AS cluster_id " +
      "FROM core LEFT JOIN cc ON cc.id = core.pid), " +
      "border AS (SELECT j.a AS pid, min(c.cluster_id) AS cluster_id " +
      "FROM j JOIN corecl c ON j.b = c.pid " +
      "WHERE j.a NOT IN (SELECT pid FROM core) GROUP BY j.a) " +
      "SELECT pts.event_id AS point_id, " +
      "CASE WHEN k.pid IS NOT NULL THEN 'core' " +
      "WHEN bo.pid IS NOT NULL THEN 'border' ELSE 'noise' END AS role, " +
      "coalesce(k.cluster_id, bo.cluster_id) AS cluster_id " +
      "FROM pts LEFT JOIN corecl k ON pts.event_id = k.pid " +
      "LEFT JOIN border bo ON pts.event_id = bo.pid " +
      "ORDER BY point_id"

  /** Iterative oracle script for q_dbscan (r13, VERDICT r12 task 1):
    * the unrolled spelling keeps 96 MATERIALIZED vertex-sized CTE
    * rounds live at once, which at sf1 (2.4M-core lattice) drives
    * DuckDB past a 60 GB spill wall. The same computation as a
    * temp-table loop holds TWO vertex tables at a time (labels +
    * labels_next; prior rounds are freed on CREATE OR REPLACE), with
    * check.py driving rounds until the label-sum fixpoint (labels are
    * min-contracted, so a round that leaves sum(l) unchanged is a
    * no-op — at the fixpoint every component carries its min id, i.e.
    * the TRUE connected-components labeling, the engine's semantic).
    *
    * maxRounds is a runaway bound, NOT the convergence count: the
    * loop's first sf1 run measured the recurrence needing MORE than
    * the unrolled spelling's 96 rounds there (the structured-id
    * lattice propagates the min label far slower than the sf0.01
    * fixture's 12 rounds — the iterative instrument surfaced what the
    * spill wall had been hiding). The unrolled 96-round margin remains
    * validated at the DRIVER scale it runs at (sf0.01: 12 rounds,
    * 8× headroom); wherever both spellings converge they agree.
    */
  private val dbscanIterOracle: IterOracle =
    IterOracle(
      setup = Seq(
        s"CREATE OR REPLACE TEMP TABLE pts AS $dbscanPtsSql",
        s"CREATE OR REPLACE TEMP TABLE p AS $dbscanPSql",
        s"CREATE OR REPLACE TEMP TABLE j AS WITH q AS ($dbscanQSql) $dbscanJSql",
        "DROP TABLE p",
        s"CREATE OR REPLACE TEMP TABLE core AS $dbscanCoreSql",
        s"CREATE OR REPLACE TEMP TABLE e AS WITH ce AS ($dbscanCeSql) $dbscanESql",
        "CREATE OR REPLACE TEMP TABLE labels AS SELECT pid AS id, pid AS l FROM core"),
      loop = Seq(
        s"CREATE OR REPLACE TEMP TABLE labels_next AS ${dbscanCcRoundSql("labels")}",
        "CREATE OR REPLACE TEMP TABLE labels AS SELECT id, l FROM labels_next",
        "DROP TABLE labels_next"),
      fixpoint = "SELECT coalesce(sum(l), 0) FROM labels",
      maxRounds = 4096,
      finalSql = "WITH cc AS (SELECT id, l AS cluster_id FROM labels), " +
        dbscanTailSql)

  private def havSql(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val sLat = s"sin(radians($lat2 - $lat1) / 2)"
    val sLon = s"sin(radians($lon2 - $lon1) / 2)"
    s"2 * 6371008.8 * asin(sqrt($sLat * $sLat + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * $sLon * $sLon))"
  }

  private val cmsBucketSql =
    // r and tok bound in the surrounding CTE
    "('0x' || substr(md5('cms' || '|' || r::VARCHAR || '|' || tok), 1, 8))::BIGINT % 16"

  val gates: Map[String, Gate] = Gate.registry(
    // full DBSCAN replay: grid join (the q_density spelling), degree,
    // core set, core-core connected components, border attach by MIN
    // core-neighbor cluster — the declared deterministic
    // canonicalization of textbook DBSCAN's visit-order dependence.
    // The closure is UNROLLED min-label pointer-jumping, not a
    // recursive (id, root) reachability CTE: the naive closure
    // materializes Σ|component|² rows, which at sf0.1 (a near-
    // percolating lattice with a giant core component) never finished
    // in DuckDB. Each round takes the min over self, neighbors, and
    // the jump l(l(id)) — label chains contract multiplicatively
    // (pseudo-random ids on the lattice ⇒ ~log n rounds; the unrolled
    // 40 is a large margin, and extra rounds are fixpoint no-ops — the
    // kCore unrolled-oracle discipline; an under-unroll would surface
    // as a loud hash mismatch, never silently). MATERIALIZED stops the
    // multiply-referenced chain from inlining. At sf1 the 96 live CTE
    // rounds hit DuckDB's spill wall — [[dbscanIterOracle]] carries the
    // temp-table loop spelling (same fragments, two vertex tables live)
    // that check.py runs instead.
    "q_dbscan" -> Gate(qDbscan _, {
      val ccRounds = (1 to 96)
        .map(i => s"l$i AS MATERIALIZED (${dbscanCcRoundSql(s"l${i - 1}")})")
        .mkString(", ")
      s"WITH pts AS ($dbscanPtsSql), " +
        s"p AS MATERIALIZED ($dbscanPSql), " +
        s"q AS ($dbscanQSql), " +
        s"j AS MATERIALIZED ($dbscanJSql), " +
        s"core AS MATERIALIZED ($dbscanCoreSql), " +
        s"ce AS MATERIALIZED ($dbscanCeSql), " +
        s"e AS MATERIALIZED ($dbscanESql), " +
        "l0 AS MATERIALIZED (SELECT pid AS id, pid AS l FROM core), " +
        s"$ccRounds, " +
        "cc AS MATERIALIZED (SELECT id, l AS cluster_id FROM l96), " +
        s"$dbscanTailSql"
    }, iterative = Some(dbscanIterOracle)),
    // brute-force dominance: the two-phase sweep must return exactly
    // the non-dominated distinct pairs
    "q_skyline" -> Gate(qSkyline _,
      "WITH pts AS (SELECT DISTINCT p_retailprice AS x, p_size AS y FROM part) " +
        "SELECT x AS p_retailprice, y AS p_size FROM pts a " +
        "WHERE NOT EXISTS (SELECT 1 FROM pts b " +
        "WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y)) " +
        "ORDER BY 1, 2"),
    // Spark dayofweek is 1-based Sunday-first; DuckDB dayofweek is
    // 0-based Sunday-first — the +1 aligns them
    "q_dow" -> Gate(qDow _,
      "WITH c AS (SELECT event_type, " +
        "(dayofweek(ts)::INT + 1) AS dow, count(*)::BIGINT AS n " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, sum(n)::BIGINT AS tot FROM c GROUP BY 1) " +
        "SELECT event_type, dow, n, " +
        O.r6("n::DOUBLE / tot") + " AS share, " +
        O.r6("n::DOUBLE / tot - 1.0 / 7.0") + " AS dev " +
        "FROM c JOIN t USING (event_type) ORDER BY event_type, dow"),
    "q_profile_diff" -> Gate(qProfileDiff _, {
      def prof(cond: String, suf: String) =
        Seq("value", "user_id").map { c =>
          s"SELECT '$c' AS \"column\", count(v) AS n$suf, " +
            s"count(DISTINCT v) AS distinct$suf, min(v)::DOUBLE AS mn$suf, " +
            s"max(v)::DOUBLE AS mx$suf, " +
            s"quantile_disc(v, 0.5)::DOUBLE AS median$suf " +
            s"FROM (SELECT CAST($c AS DOUBLE) AS v FROM events WHERE $cond)"
        }.mkString("(", " UNION ALL ", ")")
      "WITH pa AS " +
        prof("CAST(ts AS DATE) < DATE '2024-01-16'", "_a") +
        ", pb AS " + prof("CAST(ts AS DATE) >= DATE '2024-01-16'", "_b") +
        " SELECT \"column\", n_a, distinct_a, mn_a, mx_a, median_a, " +
        "n_b, distinct_b, mn_b, mx_b, median_b, " +
        "(NOT (n_a IS NOT DISTINCT FROM n_b) OR " +
        "NOT (distinct_a IS NOT DISTINCT FROM distinct_b) OR " +
        "NOT (mn_a IS NOT DISTINCT FROM mn_b) OR " +
        "NOT (mx_a IS NOT DISTINCT FROM mx_b) OR " +
        "NOT (median_a IS NOT DISTINCT FROM median_b)) AS drifted " +
        "FROM pa JOIN pb USING (\"column\") ORDER BY \"column\""
    }),
    "q_autocorr" -> Gate(qAutocorr _,
      "WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "count(*)::BIGINT AS c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT a.user_id, a.c AS x, b.c AS y FROM d a " +
        "JOIN d b ON a.user_id = b.user_id AND b.day = a.day + 1), " +
        "m AS (SELECT user_id, count(*)::BIGINT AS n_pairs, " +
        "sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, " +
        "sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx, " +
        "sum(y * y)::BIGINT AS syy FROM p GROUP BY 1) " +
        "SELECT user_id, n_pairs, " +
        "CASE WHEN (n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0 " +
        "AND (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0 THEN " +
        O.r6("(n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / " +
          "sqrt((n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
          "(n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))") +
        " END AS autocorr FROM m ORDER BY user_id"),
    "q_seq3" -> Gate(qSeq3 _,
      "WITH l AS (SELECT user_id, event_type, " +
        "lag(event_type, 2) OVER w AS s1, lag(event_type, 1) OVER w AS s2 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT s1, s2, event_type AS s3, count(*)::BIGINT AS n FROM l " +
        "WHERE s1 IS NOT NULL AND s2 IS NOT NULL GROUP BY 1, 2, 3 " +
        "ORDER BY n DESC, s1, s2, s3 LIMIT 20"),
    // grid REPLAY oracle (cells + 3×3 neighborhood + haversine), not
    // the 10k² brute force; grid recall is q_spatial's proven contract
    "q_density" -> Gate(qDensity _,
      "WITH pts AS (SELECT event_id, " +
        "40.2::DOUBLE + (user_id % 997) * 0.0008::DOUBLE AS lat, " +
        "-74.6::DOUBLE + (event_id % 1013) * 0.0008::DOUBLE AS lon FROM events), " +
        "p AS (SELECT event_id, lat, lon, " +
        "floor(lat / 0.0065::DOUBLE)::BIGINT AS cy, " +
        "floor(lon / 0.0065::DOUBLE)::BIGINT AS cx FROM pts), " +
        "q AS (SELECT event_id AS qid, lat AS qlat, lon AS qlon, " +
        "cy + dy AS cy, cx + dx AS cx FROM p " +
        "CROSS JOIN range(-1, 2) t1(dy) CROSS JOIN range(-1, 2) t2(dx)), " +
        "j AS (SELECT q.qid, p.event_id AS pid FROM q JOIN p USING (cy, cx) " +
        "WHERE " + havSql("qlat", "qlon", "lat", "lon") + " <= 300.0 " +
        "AND q.qid != p.event_id) " +
        "SELECT qid AS point_id, count(*)::BIGINT AS n_neighbors FROM j " +
        "GROUP BY 1 ORDER BY point_id"),
    "q_mad" -> Gate(qMad _,
      "WITH cd1 AS (SELECT event_type, value AS v, " +
        "cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd " +
        "FROM events), " +
        "med AS (SELECT event_type, min(v) AS med FROM cd1 " +
        "WHERE cd >= 0.5 GROUP BY 1), " +
        "d AS (SELECT e.event_type, abs(e.value - med.med) AS dev " +
        "FROM events e JOIN med USING (event_type)), " +
        "cd2 AS (SELECT event_type, dev, " +
        "cume_dist() OVER (PARTITION BY event_type ORDER BY dev) AS cd FROM d), " +
        "md AS (SELECT event_type, min(dev) AS mad FROM cd2 " +
        "WHERE cd >= 0.5 GROUP BY 1) " +
        "SELECT d.event_type, count(*)::BIGINT AS n, max(med.med) AS median, " +
        "max(md.mad) AS mad, " +
        "sum(CASE WHEN dev > 3.0 * md.mad THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_outliers " +
        "FROM d JOIN med USING (event_type) JOIN md USING (event_type) " +
        "GROUP BY 1 ORDER BY d.event_type"),
    // digit from integer string length, never log10 of the value; the
    // log ratio spelled ln/ln to match Spark's log(base, x) evaluation
    "q_benford" -> Gate(qBenford _,
      "WITH b AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c " +
        "FROM events WHERE value IS NOT NULL " +
        "AND CAST(floor(value * 100 + 0.5) AS BIGINT) > 0), " +
        "d AS (SELECT CAST(floor(c / power(10.0, length(c::VARCHAR) - 1)) " +
        "AS INT) AS digit FROM b), " +
        "g AS (SELECT digit, count(*)::BIGINT AS n_d FROM d GROUP BY 1), " +
        "t AS (SELECT count(*)::BIGINT AS n FROM d) " +
        "SELECT digit, n_d, " +
        O.r6("n_d::DOUBLE / n") + " AS freq, " +
        O.r6("ln(1.0 + 1.0 / digit) / ln(10.0)") + " AS expected, " +
        O.r6("(n_d - n * (ln(1.0 + 1.0 / digit) / ln(10.0))) * " +
          "(n_d - n * (ln(1.0 + 1.0 / digit) / ln(10.0))) / " +
          "(n * (ln(1.0 + 1.0 / digit) / ln(10.0)))") + " AS chi_term " +
        "FROM g, t ORDER BY digit"),
    "q_concentration" -> Gate(qConcentration _,
      "WITH us AS (SELECT event_type, user_id, " +
        "sum(CAST(value AS DECIMAL(25,6))) AS s FROM events GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY s, user_id) AS i FROM us), " +
        "t AS (SELECT event_type, count(*)::BIGINT AS n_units, sum(s) AS tot, " +
        "sum(CAST(i AS DECIMAL(12,0)) * CAST(s AS DECIMAL(24,6))) AS ws " +
        "FROM r GROUP BY 1), " +
        "h AS (SELECT r.event_type, " +
        O.r6("CAST(CAST(sum(CAST(" +
          O.r6("(s::DOUBLE / tot::DOUBLE) * (s::DOUBLE / tot::DOUBLE)") +
          " AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)") + " AS hhi " +
        "FROM r JOIN t USING (event_type) GROUP BY 1) " +
        "SELECT event_type, n_units, hhi, " +
        O.r6("(2.0 * ws::DOUBLE - (n_units + 1)::DOUBLE * tot::DOUBLE) / " +
          "(n_units::DOUBLE * tot::DOUBLE)") + " AS gini " +
        "FROM t JOIN h USING (event_type) ORDER BY event_type"),
    // n-scaled partial sums: DECIMAL(12,0)×DECIMAL(24,6) operand casts
    // keep the product exact within width 38 in both engines; the max
    // and its argmax tie-compare happen on exact decimals, the final
    // /n² is the single IEEE division
    "q_cusum" -> Gate(qCusum _,
      "WITH st AS (SELECT user_id, count(*)::BIGINT AS n, " +
        "sum(CAST(value AS DECIMAL(25,6))) AS tot FROM events GROUP BY 1), " +
        "sq AS (SELECT e.user_id, e.ts, st.n, " +
        "abs(CAST(st.n AS DECIMAL(12,0)) * " +
        "CAST(sum(CAST(e.value AS DECIMAL(25,6))) OVER w AS DECIMAL(24,6)) - " +
        "CAST(row_number() OVER w AS DECIMAL(12,0)) * " +
        "CAST(st.tot AS DECIMAL(24,6))) AS s " +
        "FROM events e JOIN st USING (user_id) " +
        "WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id " +
        "ROWS UNBOUNDED PRECEDING)), " +
        "pk AS (SELECT user_id, max(s) AS mx FROM sq GROUP BY 1) " +
        "SELECT user_id, max(sq.n) AS n, " +
        O.r6("max(mx)::DOUBLE / (max(sq.n) * max(sq.n))::DOUBLE") + " AS cusum, " +
        "min(ts) AS change_ts " +
        "FROM sq JOIN pk USING (user_id) WHERE sq.s = pk.mx " +
        "GROUP BY user_id ORDER BY user_id"),
    "q_khop" -> Gate(qKhop _,
      "WITH eu AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey), " +
        "e AS (SELECT u AS src, v AS dst FROM eu " +
        "UNION ALL SELECT v, u FROM eu), " +
        "h1 AS (SELECT src, count(*)::BIGINT AS n_neighbors, " +
        O.davg("p.p_retailprice") + " AS h1 " +
        "FROM e JOIN part p ON p.p_partkey = e.dst GROUP BY src), " +
        "h2 AS (SELECT e.src, " + O.davg("h1.h1") + " AS h2 " +
        "FROM e JOIN h1 ON h1.src = e.dst GROUP BY e.src) " +
        "SELECT p.p_partkey, p.p_retailprice, h1.n_neighbors, h1.h1, h2.h2 " +
        "FROM part p LEFT JOIN h1 ON h1.src = p.p_partkey " +
        "LEFT JOIN h2 ON h2.src = p.p_partkey ORDER BY p.p_partkey"),
    // the whole blocked-ER pipeline replayed: typo derivation (shared
    // string), md5 name ids, prefix blocks, rapidfuzz JW threshold,
    // recursive closure, min-label representative
    "q_er" -> Gate(qEr _,
      s"WITH RECURSIVE rec AS (SELECT p_partkey AS rid, $erNameSql AS name " +
        "FROM part), " +
        "n AS (SELECT DISTINCT name FROM rec), " +
        "ni AS (SELECT name, ('0x' || substr(md5(name), 1, 15))::BIGINT AS nid, " +
        "lower(substring(name, 1, 2)) AS blk FROM n), " +
        "pr AS (SELECT x.nid AS a, y.nid AS bb FROM ni x JOIN ni y " +
        "ON x.blk = y.blk AND x.nid < y.nid " +
        "WHERE jaro_winkler_similarity(x.name, y.name) >= 0.9), " +
        "e AS (SELECT a AS src, bb AS dst FROM pr " +
        "UNION ALL SELECT bb, a FROM pr), " +
        "reach(id, r) AS (SELECT src, src FROM e " +
        "UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id), " +
        "lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id), " +
        "fl AS (SELECT ni.name, ni.nid, coalesce(lab.label, ni.nid) AS label " +
        "FROM ni LEFT JOIN lab ON lab.id = ni.nid), " +
        "rep AS (SELECT nid AS label, name AS entity FROM ni) " +
        "SELECT rid, rec.name, rep.entity FROM rec " +
        "JOIN fl USING (name) JOIN rep USING (label) ORDER BY rid"),
    // reference-side equi-depth cuts via the cume_dist spelling of
    // percentile_disc (q_winsorize discipline); ln under r6-before-use
    // (q_kl_drift discipline); a vanished current-side bin yields NULL
    "q_psi" -> Gate(qPsi _,
      "WITH ref AS (SELECT value AS v FROM events " +
        "WHERE CAST(ts AS DATE) < DATE '2024-01-16' AND value IS NOT NULL), " +
        "cur AS (SELECT value AS v FROM events " +
        "WHERE CAST(ts AS DATE) >= DATE '2024-01-16' AND value IS NOT NULL), " +
        "cd AS (SELECT v, cume_dist() OVER (ORDER BY v) AS cd FROM ref), " +
        "cuts AS (SELECT k, min(v) AS cut FROM cd " +
        "CROSS JOIN range(1, 10) t(k) WHERE cd >= k / 10.0 GROUP BY k), " +
        "rb AS (SELECT (SELECT count(*) FROM cuts c WHERE c.cut < r.v)::INT " +
        "AS bin, count(*)::BIGINT AS n_ref FROM ref r GROUP BY 1), " +
        "cb AS (SELECT (SELECT count(*) FROM cuts c WHERE c.cut < u.v)::INT " +
        "AS bin, count(*)::BIGINT AS n_cur FROM cur u GROUP BY 1), " +
        "j AS (SELECT bin, n_ref, coalesce(n_cur, 0) AS n_cur " +
        "FROM rb LEFT JOIN cb USING (bin)), " +
        "t AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_cur)::BIGINT AS tc FROM j) " +
        "SELECT bin, n_ref, n_cur, " +
        O.r6("n_ref::DOUBLE / tr") + " AS p_ref, " +
        O.r6("n_cur::DOUBLE / tc") + " AS p_cur, " +
        "CASE WHEN n_cur > 0 THEN " +
        O.r6("(n_ref::DOUBLE / tr - n_cur::DOUBLE / tc) * " +
          "ln((n_ref::DOUBLE / tr) / (n_cur::DOUBLE / tc))") +
        " END AS psi_term FROM j, t ORDER BY bin"),
    "q_quantile_norm" -> Gate(qQuantileNorm _,
      "WITH cd AS (SELECT value AS v, cume_dist() OVER (ORDER BY value) " +
        "AS cd FROM events WHERE value IS NOT NULL), " +
        "g AS (SELECT k, min(v) AS gv FROM cd " +
        "CROSS JOIN range(1, 9) t(k) WHERE cd >= k / 8.0 GROUP BY k), " +
        "r AS (SELECT event_id, event_type, value, " +
        "least(ceil(cume_dist() OVER (PARTITION BY event_type " +
        "ORDER BY value) * 8)::BIGINT, 8::BIGINT) AS k " +
        "FROM events WHERE value IS NOT NULL) " +
        "SELECT event_id, event_type, value, k, " +
        "(SELECT gv FROM g WHERE g.k = r.k) AS norm_value " +
        "FROM r ORDER BY event_id"),
    "q_abtest" -> Gate(qAbTest _,
      "WITH u AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' AND value > 150 " +
        "THEN 1 ELSE 0 END) AS conv, " +
        "('0x' || substr(md5('ab' || user_id::VARCHAR), 1, 8))::BIGINT % 2 " +
        "AS arm FROM events GROUP BY user_id), " +
        "p AS (SELECT count(*) FILTER (WHERE arm = 0)::BIGINT AS n_a, " +
        "sum(conv) FILTER (WHERE arm = 0)::BIGINT AS conv_a, " +
        "count(*) FILTER (WHERE arm = 1)::BIGINT AS n_b, " +
        "sum(conv) FILTER (WHERE arm = 1)::BIGINT AS conv_b FROM u) " +
        "SELECT n_a, conv_a, n_b, conv_b, " +
        O.r6("conv_a::DOUBLE / n_a") + " AS rate_a, " +
        O.r6("conv_b::DOUBLE / n_b") + " AS rate_b, " +
        O.r6("conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b") + " AS lift, " +
        O.r6("(conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b) / " +
          "sqrt((conv_a + conv_b)::DOUBLE / (n_a + n_b) * " +
          "(1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)) * " +
          "(1.0 / n_a + 1.0 / n_b))") + " AS z FROM p"),
    // every literal ::DOUBLE: DuckDB would otherwise run the point
    // derivation in exact DECIMAL (0.004 parses as DECIMAL(4,3)) while
    // Spark accumulates double roundings — coordinates a few ulps apart
    // move haversine by ~1e-9 m, enough to flip r6 on some rows
    "q_spatial" -> Gate(qSpatial _,
      "WITH p AS (SELECT event_id, " +
        "40.2::DOUBLE + (user_id % 997) * 0.0008::DOUBLE AS lat, " +
        "-74.6::DOUBLE + (event_id % 1013) * 0.0008::DOUBLE AS lon FROM events), " +
        "q AS (SELECT event_id AS landmark_id, lat AS qlat, lon AS qlon " +
        "FROM p WHERE event_id < 25) " +
        "SELECT landmark_id, event_id, " +
        O.r6(havSql("qlat", "qlon", "lat", "lon")) + " AS dist_m " +
        "FROM q CROSS JOIN p " +
        "WHERE " + havSql("qlat", "qlon", "lat", "lon") + " <= 500.0 " +
        "ORDER BY landmark_id, event_id"),
    "q_cms" -> Gate(qCms _,
      "WITH occ AS (SELECT unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "o AS (SELECT tok FROM occ WHERE length(tok) > 0), " +
        "sk AS (SELECT r, " + cmsBucketSql + " AS b, count(*)::BIGINT AS cnt " +
        "FROM o CROSS JOIN range(4) t(r) GROUP BY 1, 2), " +
        "ex AS (SELECT tok, count(*)::BIGINT AS n_exact FROM o GROUP BY 1), " +
        "est AS (SELECT tok, min(coalesce(cnt, 0))::BIGINT AS est FROM " +
        "(SELECT ex.tok, r, " + cmsBucketSql + " AS b " +
        "FROM ex CROSS JOIN range(4) t(r)) qq " +
        "LEFT JOIN sk USING (r, b) GROUP BY tok) " +
        "SELECT tok, n_exact, est, est >= n_exact AS over_ok " +
        "FROM est JOIN ex USING (tok) ORDER BY tok"),
    "q_basket" -> Gate(qBasket _,
      "WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it " +
        "FROM lineitem), " +
        "nb AS (SELECT count(DISTINCT bk)::BIGINT AS nb FROM bi), " +
        "ic AS (SELECT it, count(*)::BIGINT AS n_item FROM bi GROUP BY 1), " +
        "pr AS (SELECT x.it AS item_a, y.it AS item_b, count(*)::BIGINT AS n_ab " +
        "FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it " +
        "GROUP BY 1, 2 HAVING count(*) >= 3) " +
        "SELECT item_a, item_b, n_ab, a.n_item AS n_a, b.n_item AS n_b, " +
        O.r6("n_ab::DOUBLE / nb") + " AS support, " +
        O.r6("n_ab::DOUBLE / a.n_item") + " AS confidence, " +
        O.r6("(n_ab * nb)::DOUBLE / (a.n_item * b.n_item)::DOUBLE") + " AS lift " +
        "FROM pr JOIN ic a ON pr.item_a = a.it " +
        "JOIN ic b ON pr.item_b = b.it CROSS JOIN nb " +
        "ORDER BY lift DESC, item_a, item_b LIMIT 50"),
    "q_prune" -> Gate(qPrune _,
      "SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, " +
        "count(*)::BIGINT AS n_rows, min(value) AS min_v, max(value) AS max_v, " +
        "coalesce(max(value) < 400.0 OR min(value) > 500.0, TRUE) AS skippable, " +
        "CASE WHEN coalesce(max(value) < 400.0 OR min(value) > 500.0, TRUE) " +
        "THEN 0 ELSE count(*) END::BIGINT AS scan_rows " +
        "FROM events GROUP BY 1 ORDER BY day"),
    "q_readability" -> Gate(qReadability _,
      "WITH t AS (SELECT doc_id, " +
        "greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS s, " +
        "unnest(string_split(text, ' ')) AS w FROM documents), " +
        "f AS (SELECT * FROM t WHERE length(w) > 0), " +
        "a AS (SELECT doc_id, count(*)::BIGINT AS n_words, max(s) AS n_sentences, " +
        "sum(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))::BIGINT " +
        "AS n_syllables FROM f GROUP BY 1) " +
        "SELECT doc_id, n_words, n_sentences, n_syllables, " +
        O.r6("206.835 - 1.015 * (n_words::DOUBLE / n_sentences) - " +
          "84.6 * (n_syllables::DOUBLE / n_words)") + " AS flesch_ease, " +
        O.r6("0.39 * (n_words::DOUBLE / n_sentences) + " +
          "11.8 * (n_syllables::DOUBLE / n_words) - 15.59") + " AS fk_grade " +
        "FROM a ORDER BY doc_id"),
    // interior cuts via the SQL-standard cume_dist spelling of
    // percentile_disc (the q_winsorize discipline); bin = count of cuts
    // strictly below v
    "q_bins" -> Gate(qBins _,
      "WITH cd AS (SELECT value AS v, " +
        "cume_dist() OVER (ORDER BY value) AS cd FROM events), " +
        "cuts AS (SELECT k, min(v) AS cut FROM cd " +
        "CROSS JOIN range(1, 8) t(k) WHERE cd >= k / 8.0 GROUP BY k), " +
        "asg AS (SELECT e.value AS v, " +
        "(SELECT count(*) FROM cuts c WHERE c.cut < e.value)::INT AS bin " +
        "FROM events e WHERE e.value IS NOT NULL) " +
        "SELECT bin, count(*)::BIGINT AS n, min(v) AS bin_min, " +
        "max(v) AS bin_max, " +
        "(SELECT c.cut FROM cuts c WHERE c.k = bin + 1) AS cut_hi " +
        "FROM asg GROUP BY bin ORDER BY bin"),
    "q_jaro" -> Gate(qJaro _,
      "WITH n AS (SELECT DISTINCT p_name AS name FROM part) " +
        "SELECT a.name AS name_a, b.name AS name_b, " +
        O.r6("jaro_winkler_similarity(a.name, b.name)") + " AS jw " +
        "FROM n a JOIN n b ON a.name < b.name " +
        "WHERE jaro_winkler_similarity(a.name, b.name) >= 0.7 " +
        "ORDER BY name_a, name_b"),
    "q_markov" -> Gate(qMarkov _,
      "WITH p AS (SELECT user_id, event_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS prev FROM events), " +
        "c AS (SELECT prev AS state_from, event_type AS state_to, " +
        "count(*)::BIGINT AS n FROM p WHERE prev IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT state_from, sum(n)::BIGINT AS tot FROM c GROUP BY 1) " +
        "SELECT state_from, state_to, n, " + O.r6("n::DOUBLE / tot") + " AS p " +
        "FROM c JOIN t USING (state_from) ORDER BY state_from, state_to"),
    // the SET spelling: distinct membership + id self-join — the bitmap
    // algebra must reproduce exactly these cardinalities
    "q_bitmap" -> Gate(qBitmap _,
      "WITH m AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events), " +
        "s AS (SELECT g, count(*)::BIGINT AS n FROM m GROUP BY 1), " +
        "c AS (SELECT x.g AS g_a, y.g AS g_b, count(*)::BIGINT AS nc " +
        "FROM m x JOIN m y ON x.u = y.u AND x.g < y.g GROUP BY 1, 2) " +
        "SELECT a.g AS g_a, b.g AS g_b, a.n AS n_a, b.n AS n_b, " +
        "coalesce(nc, 0) AS n_common, " +
        "a.n + b.n - coalesce(nc, 0) AS n_union, " +
        O.r6("coalesce(nc, 0)::DOUBLE / (a.n + b.n - coalesce(nc, 0))") +
        " AS jaccard " +
        "FROM s a JOIN s b ON a.g < b.g " +
        "LEFT JOIN c ON c.g_a = a.g AND c.g_b = b.g " +
        "ORDER BY g_a, g_b"),
  )
}
