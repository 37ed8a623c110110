package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial operators for point data (the reference domain is NYC taxi
  * pickups/dropoffs — `src/features/transformations.py`'s bounding-box
  * filters are the degenerate form of these). The join primitive is
  * grid bucketing: a radius join never runs points × queries — each
  * side keys to a fixed lat/lon cell and candidates meet by equi-join
  * on the cell id, with the exact haversine check applied only to the
  * 3×3-neighborhood survivors.
  *
  * Scale shape: candidate generation is a hash equi-join whose fanout
  * per query point is the occupancy of 9 cells (data-density bounded,
  * never corpus-sized); the cell key partitions uniformly for
  * real-world point sets, and a hot cell (a stadium, an airport) is
  * exactly the salting case [[Skew.saltedJoin]] handles. At 100 TB the
  * cell id doubles as the layout key: writing points cell-clustered
  * ([[graft.etl.Layout.writeSorted]]) turns the probe side into a
  * pruned scan.
  *
  * Determinism: cell assignment is `floor(deg / cellDeg)` — exact IEEE
  * division+floor, identical cross-engine. The haversine itself uses
  * sin/cos/asin, which IEEE 754 does NOT pin to the last ulp across
  * libm implementations; the emitted distance is r6-rounded and the
  * radius compare sits on a measure-zero boundary, the same accepted
  * risk class as the engine's ln discipline (DECISIONS.md, q_kl_drift).
  */
object Spatial {

  /** Mean Earth radius (IUGG), meters — the constant both engines
    * interpolate into the same expression tree.
    */
  val EarthRadiusM = 6371008.8

  /** Minimum meters per degree of latitude (at the equator, where the
    * WGS84 flattening makes a latitude degree shortest) — the
    * conservative bound the cell-size safety check uses.
    */
  private val MinMetersPerDegLat = 110574.0

  /** Meters per degree of longitude at the equator; scales by cos(lat). */
  private val MetersPerDegLonEq = 111320.0

  /** Smallest cell size (degrees) for which a 3×3 cell neighborhood
    * still covers `radiusM` in both axes at every |lat| ≤
    * `maxAbsLatDeg` — the feasibility floor of [[gridRadiusJoin]]'s
    * coverage `require`s. Candidate fanout per point is the occupancy
    * of 9 cells ∝ (3·cellDeg)², so for a SELF radius join the floor is
    * also the optimum: shrinking the cell toward it strictly shrinks
    * the candidate area (the exact-distance survivors are invariant)
    * while the explode stays a fixed 9 rows per query point.
    */
  def minCellDeg(radiusM: Double, maxAbsLatDeg: Double): Double =
    math.max(
      radiusM / MinMetersPerDegLat,
      radiusM / (MetersPerDegLonEq * math.cos(math.toRadians(maxAbsLatDeg))))

  /** Great-circle distance in meters between two (lat, lon) points,
    * standard haversine. Spelled as one expression tree so the DuckDB
    * oracle can replicate it token for token.
    */
  def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    // squares spelled as products, not pow(x, 2): * is correctly-rounded
    // IEEE, pow is only within-1-ulp and differs between Math.pow and
    // C libm — one avoidable cross-engine divergence fewer
    val sLat = sin(radians(lat2 - lat1) / 2)
    val sLon = sin(radians(lon2 - lon1) / 2)
    val a = sLat * sLat +
      cos(radians(lat1)) * cos(radians(lat2)) * sLon * sLon
    lit(2 * EarthRadiusM) * asin(sqrt(a))
  }

  /** All points within `radiusM` meters of each query point, by grid
    * bucketing: points key to their cell once; each query explodes to
    * its 3×3 cell neighborhood; candidates meet by cell equi-join and
    * only they pay the haversine. Returns (qId, pId, dist_m) with
    * dist_m r6-rounded.
    *
    * `cellDeg` must make one cell cover the radius in BOTH axes so the
    * 3×3 neighborhood is sufficient — checked against the conservative
    * lat bound and the lon shrink at `maxAbsLatDeg` (the largest |lat|
    * in either input; pass the bounding box you already know). A
    * too-small cell is a CORRECTNESS error (silent false negatives),
    * so it throws rather than warns.
    */
  def gridRadiusJoin(
      points: DataFrame,
      queries: DataFrame,
      pId: String, pLat: String, pLon: String,
      qId: String, qLat: String, qLon: String,
      radiusM: Double,
      cellDeg: Double,
      maxAbsLatDeg: Double): DataFrame = {
    require(radiusM > 0 && cellDeg > 0)
    require(cellDeg * MinMetersPerDegLat >= radiusM,
      s"cellDeg=$cellDeg spans < radius=$radiusM m in latitude; " +
        "3x3 neighborhood would miss matches")
    val lonM = cellDeg * MetersPerDegLonEq * math.cos(math.toRadians(maxAbsLatDeg))
    require(lonM >= radiusM,
      s"cellDeg=$cellDeg spans $lonM m < radius=$radiusM m in longitude " +
        s"at |lat|=$maxAbsLatDeg; 3x3 neighborhood would miss matches")

    def cellY(lat: Column) = floor(lat / cellDeg).cast("long")
    def cellX(lon: Column) = floor(lon / cellDeg).cast("long")

    val p = points.select(
      col(pId), col(pLat).as("_plat"), col(pLon).as("_plon"),
      cellY(col(pLat)).as("_cy"), cellX(col(pLon)).as("_cx"))
    // each query covers its 9-cell neighborhood; the explode is 9×
    // the QUERY side (the small side), never the point side
    val q = queries.select(
        col(qId), col(qLat).as("_qlat"), col(qLon).as("_qlon"),
        cellY(col(qLat)).as("_qcy"), cellX(col(qLon)).as("_qcx"))
      .withColumn("_dy", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("_dx", explode(sequence(lit(-1L), lit(1L))))
      .select(col(qId), col("_qlat"), col("_qlon"),
        (col("_qcy") + col("_dy")).as("_cy"),
        (col("_qcx") + col("_dx")).as("_cx"))
    val dist = haversineM(col("_qlat"), col("_qlon"), col("_plat"), col("_plon"))
    q.join(p, Seq("_cy", "_cx"))
      .filter(dist <= lit(radiusM))
      .select(col(qId), col(pId),
        graft.queries.Det.r6(dist).as("dist_m"))
  }

  /** Distinct-id neighbor pairs of a point set: every unordered pair
    * within `radiusM`, each emitted exactly once. NOTE: within-cell
    * pairs come out id-ordered (`a < b`) but cross-cell pairs are
    * ordered by CELL, not id — treat the output as unordered pairs,
    * not canonical edges. Same-id pairs never appear (r14
    * `densityCounts` contract: a duplicate-id point never counts
    * itself, wherever the grid places the copies). The SELF radius
    * join owns a symmetry the asymmetric [[gridRadiusJoin]] cannot use:
    * a pair needs to meet only once, so instead of exploding every
    * point to its 3×3 neighborhood (each surviving pair generated — and
    * haversine-checked — twice, once per direction), candidates form as
    *   - within-cell pairs under `a < b`, plus
    *   - cross-cell pairs against the 4 lexicographically FORWARD
    *     neighbor cells ((0,1),(1,−1),(1,0),(1,1)) — each unordered
    *     adjacent cell pair appears exactly once.
    * Candidate volume is 4.5 × cell occupancy per point vs the
    * two-sided form's 9× — half the join output AND half the exact
    * distance checks, with an identical survivor set (coverage is the
    * same 3×3 guarantee the `require`s pin). Consumers needing both
    * directions symmetrize the (much smaller) survivor set.
    */
  def selfNeighborPairs(
      points: DataFrame,
      idCol: String, latCol: String, lonCol: String,
      radiusM: Double,
      cellDeg: Double,
      maxAbsLatDeg: Double): DataFrame = {
    require(radiusM > 0 && cellDeg > 0)
    require(cellDeg * MinMetersPerDegLat >= radiusM,
      s"cellDeg=$cellDeg spans < radius=$radiusM m in latitude; " +
        "3x3 neighborhood would miss matches")
    val lonM = cellDeg * MetersPerDegLonEq * math.cos(math.toRadians(maxAbsLatDeg))
    require(lonM >= radiusM,
      s"cellDeg=$cellDeg spans $lonM m < radius=$radiusM m in longitude " +
        s"at |lat|=$maxAbsLatDeg; 3x3 neighborhood would miss matches")
    val p = points.select(
      col(idCol).as("_aid"), col(latCol).as("_alat"), col(lonCol).as("_alon"),
      floor(col(latCol) / cellDeg).cast("long").as("_cy"),
      floor(col(lonCol) / cellDeg).cast("long").as("_cx"))
    val b = points.select(
      col(idCol).as("_bid"), col(latCol).as("_blat"), col(lonCol).as("_blon"),
      floor(col(latCol) / cellDeg).cast("long").as("_cy"),
      floor(col(lonCol) / cellDeg).cast("long").as("_cx"))
    // same cell: id order breaks the tie so each pair forms once
    val within = p.join(b, Seq("_cy", "_cx"))
      .filter(col("_aid") < col("_bid"))
    // forward neighbor cells: each unordered cell pair visited once;
    // the a < b ORDER filter must NOT apply here (the pair's direction
    // is fixed by the cell order, and reapplying a < b would drop half
    // of them) — but same-id INEQUALITY must: two rows sharing an id
    // that land in adjacent cells would otherwise pair the id with
    // itself, grid-placement-dependently (within-cell copies are
    // already dropped by the strict a < b; r14 dropped ALL same-id
    // pairs via its `_qid =!= idCol` filter)
    val fwd = p
      .withColumn("_d", explode(array(
        struct(lit(0L).as("dy"), lit(1L).as("dx")),
        struct(lit(1L).as("dy"), lit(-1L).as("dx")),
        struct(lit(1L).as("dy"), lit(0L).as("dx")),
        struct(lit(1L).as("dy"), lit(1L).as("dx")))))
      .select(col("_aid"), col("_alat"), col("_alon"),
        (col("_cy") + col("_d.dy")).as("_cy"),
        (col("_cx") + col("_d.dx")).as("_cx"))
      .join(b, Seq("_cy", "_cx"))
      .filter(col("_aid") =!= col("_bid"))
    val dist = haversineM(col("_alat"), col("_alon"), col("_blat"), col("_blon"))
    within.select(col("_aid"), col("_alat"), col("_alon"),
        col("_bid"), col("_blat"), col("_blon"))
      .unionAll(fwd.select(col("_aid"), col("_alat"), col("_alon"),
        col("_bid"), col("_blat"), col("_blon")))
      .filter(dist <= lit(radiusM))
      .select(col("_aid").as("a"), col("_bid").as("b"))
  }

  /** Per-point neighbor density: how many OTHER points lie within
    * `radiusM` of each point — the DBSCAN core-point / hotspot
    * primitive. Candidates come from [[selfNeighborPairs]] (each
    * surviving pair generated and distance-checked ONCE — half the
    * two-sided self-join's candidate stream); the per-point count is
    * then one explode of both endpoints + a key aggregate. Points
    * sharing the exact location count each other; only the identity
    * pair drops.
    */
  def densityCounts(
      points: DataFrame,
      idCol: String, latCol: String, lonCol: String,
      radiusM: Double,
      cellDeg: Double,
      maxAbsLatDeg: Double): DataFrame = {
    // the [[dbscan]] grid-floor policy: a caller cell above the
    // feasibility floor only inflates the candidate area — counts are
    // exact-distance survivors either way
    val floorC = minCellDeg(radiusM, maxAbsLatDeg) * 1.02
    selfNeighborPairs(points, idCol, latCol, lonCol,
        radiusM, math.min(cellDeg, floorC), maxAbsLatDeg)
      .select(explode(array(col("a"), col("b"))).as("point_id"))
      .groupBy("point_id")
      .agg(count(lit(1)).as("n_neighbors"))
  }

  /** Deterministic grid-based DBSCAN: density clustering over (lat,
    * lon) points. Classic DBSCAN semantics with one canonicalization —
    * border points attach to the MIN cluster id among their core
    * neighbors (textbook DBSCAN leaves that assignment visit-order-
    * dependent; min is the deterministic choice, stated as part of the
    * contract so the oracle can replay it).
    *
    *  - core: ≥ `minPts` points (self included) within `radiusM`
    *  - cluster: connected components over core–core neighbor edges
    *    (min reachable core id labels the cluster); a core whose ball
    *    is filled only by non-core neighbors clusters alone
    *  - border: non-core with ≥ 1 core neighbor
    *  - noise: everything else (cluster_id NULL)
    *
    * Returns (point_id, role ∈ core|border|noise, cluster_id).
    *
    * Scale shape: the only candidate generator is [[gridRadiusJoin]]
    * (per-point fanout = 9-cell occupancy, linear in points ×
    * density); everything after is equi-joins and aggregates on point
    * ids plus [[Dedup.duplicateClustersFast]]'s O(log diameter)
    * pointer-doubling rounds on the core-edge graph — no all-pairs
    * stage anywhere, so the plan survives a 100× point count as long
    * as physical density (cell occupancy) stays bounded, which is the
    * same assumption DBSCAN's own O(n · density) cost model makes.
    *
    * Grid floor (r15 policy; grew out of the SCALE.md §10d occupancy
    * knob): when `maxCellOccupancy > 0` and the caller's `cellDeg`
    * sits above the [[minCellDeg]] feasibility floor (×1.02 safety),
    * the grid rebuilds at the floor unconditionally — shrinking the
    * 9-cell candidate area ∝ cellDeg² at any density while leaving the
    * exact-distance survivor set — and therefore every label —
    * IDENTICAL. (The r14 form first sampled max cell occupancy and
    * shrank only past a bound; the sample was an extra pass guarding a
    * no-downside change.) Pass 0 to pin the caller's `cellDeg` exactly.
    */
  def dbscan(
      points: DataFrame,
      idCol: String, latCol: String, lonCol: String,
      radiusM: Double,
      minPts: Int,
      cellDeg: Double,
      maxAbsLatDeg: Double,
      maxCellOccupancy: Int = 64): DataFrame = {
    // exit hygiene (the triangleCounts discipline): the returned plan
    // must not stay rooted in the pair cache — the op's LARGEST
    // intermediate — or in the CC loop's final checkpoint generation,
    // or a library caller keeps both resident for the session. The
    // point-sized label frame materializes eagerly and every block this
    // call persisted (the pair cache AND the embedded clustering's
    // generation) is released, under Lineage.sweep's caveat.
    graft.util.Lineage.sweep(points.sparkSession) {
      // r15: rebuild at the feasibility floor UNCONDITIONALLY (when the
      // caller's cell sits above it and the knob is armed). The r14 form
      // sampled max cell occupancy first and only shrank past a bound —
      // but shrinking strictly shrinks the 3×3 candidate area ∝ cellDeg²
      // at ANY density while the exact-distance survivors (and so every
      // label) stay identical, so the sample was a pure extra pass
      // guarding a change with no downside (measured sf0.1: 3.2M → 1.0M
      // candidate pairs, identical 278k survivors). `maxCellOccupancy <= 0`
      // still pins the caller's grid verbatim.
      val floorC = minCellDeg(radiusM, maxAbsLatDeg) * 1.02
      val cellUsed =
        if (maxCellOccupancy <= 0 || cellDeg <= floorC) cellDeg else floorC
      // canonical neighbor pairs (each unordered pair once, distance-
      // checked once — [[selfNeighborPairs]], half the two-sided
      // candidate stream) cached; the symmetric view consumers need is a
      // union of the two directions over that half-sized cache. Reused
      // three times (degree count, core-core edges, border assignment).
      val canon = selfNeighborPairs(points, idCol, latCol, lonCol,
          radiusM, cellUsed, maxAbsLatDeg)
        .cache()
      val nbrs = canon.unionAll(
        canon.select(col("b").as("a"), col("a").as("b")))
      // the core set is checkpointed EAGERLY (vertex-sized — tiny): the
      // degree aggregate feeds five consumers across the gate's jobs
      // (both sides of the core-edge semi-joins, each coreClusters copy,
      // and the border anti-join), and Spark 4.1's AQE does not reuse
      // canonically identical stages (the r15 surprisal finding), so
      // without materialization each consumer re-runs the union+aggregate
      // over the cached pair list. Interleaved same-JVM A/B ×3
      // (OPTIMIZATION_r15 §13): checkpointed core faster in every cycle,
      // min 11.7 vs 13.4 s, med 15.0 vs 19.1 s, output bit-identical.
      // (The sibling prev-generation CC shortcut was measured there too
      // and REJECTED: it saves one hook evaluation per round but costs
      // +2 contraction rounds on this lattice, 8 → 10, net slower.)
      val core = graft.util.Lineage.checkpoint(
        nbrs.groupBy(col("a").as("pid"))
          .agg((count(lit(1)) + 1).as("_nb"))
          .filter(col("_nb") >= minPts)
          .select("pid")).df
      val coreEdges = nbrs
        .join(core.select(col("pid").as("a")), "a")
        .join(core.select(col("pid").as("b")), "b")
        .filter(col("a") < col("b"))
        .select(col("a").as("doc_a"), col("b").as("doc_b"))
      val cc = Dedup.duplicateClustersFast(coreEdges)
        .select(col("doc_id").as("pid"), col("cluster_id"))
      val coreClusters = core
        .join(cc, Seq("pid"), "left")
        .select(col("pid"),
          coalesce(col("cluster_id"), col("pid")).as("cluster_id"))
      val borderAssign = nbrs
        .join(core.select(col("pid").as("a")), Seq("a"), "left_anti")
        .join(coreClusters.select(col("pid").as("b"), col("cluster_id")), "b")
        .groupBy(col("a").as("pid"))
        .agg(min(col("cluster_id")).as("cluster_id"))
      points.select(col(idCol).as("pid"))
        .join(coreClusters.select(col("pid"), col("cluster_id").as("_ccl")),
          Seq("pid"), "left")
        .join(borderAssign.select(col("pid"), col("cluster_id").as("_bcl")),
          Seq("pid"), "left")
        .select(
          col("pid").as("point_id"),
          when(col("_ccl").isNotNull, lit("core"))
            .when(col("_bcl").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("_ccl"), col("_bcl")).as("cluster_id"))
    }
  }

  /** A polygon for [[pointInPolygons]]: closed ring of (lon, lat) =
    * (x, y) vertices (first vertex NOT repeated at the end; edges close
    * implicitly). Polygons are geofence model parameters — a bounded
    * literal set, broadcast, never data-sized.
    */
  final case class Polygon(id: String, ring: Seq[(Double, Double)]) {
    require(ring.size >= 3, s"polygon $id needs ≥ 3 vertices")
    def edges: Seq[(Double, Double, Double, Double)] =
      ring.indices.map { i =>
        val (x1, y1) = ring(i)
        val (x2, y2) = ring((i + 1) % ring.size)
        (x1, y1, x2, y2)
      }
    def bbox: (Double, Double, Double, Double) =
      (ring.map(_._1).min, ring.map(_._2).min,
        ring.map(_._1).max, ring.map(_._2).max)
  }

  /** Point-in-polygon tagging (geofencing) by the even–odd ray-casting
    * rule: a point is inside iff a ray to +x crosses the boundary an
    * odd number of times. Each polygon's crossing test is ONE unrolled
    * codegen'd expression (sum of per-edge CASE terms over literal
    * vertices — no UDF, no join against an edge table), guarded by the
    * polygon's bounding box so points outside it evaluate two
    * comparisons and nothing else. Output: the input plus one boolean
    * `in_<id>` column per polygon.
    *
    * Determinism: each edge term is a fixed IEEE expression
    * (`(y1 > py) ≠ (y2 > py)` and one multiply/divide compare) over
    * literal coordinates — no accumulation, so verdicts hash-check
    * exactly when the oracle spells the identical arithmetic. The
    * strict-> convention makes vertex-on-ray cases consistent on both
    * engines (the standard even–odd treatment).
    *
    * Scale: purely narrow — no shuffle, no broadcast join even; the
    * polygons compile INTO the plan. Suits geofence sets up to
    * hundreds of polygons; larger fence catalogs should go through
    * [[gridRadiusJoin]]-style cell bucketing instead.
    */
  def pointInPolygons(
      df: DataFrame,
      xCol: String,
      yCol: String,
      polygons: Seq[Polygon]): DataFrame = {
    val px = col(xCol)
    val py = col(yCol)
    val tagged = polygons.map { p =>
      // a horizontal edge (y1 == y2) never straddles the ray, so its term
      // is always 0 and is left out; the fold keeps a ring of only
      // horizontal edges at 0 crossings
      val crossings = p.edges.filter { case (_, y1, _, y2) => y1 != y2 }
        .map { case (x1, y1, x2, y2) =>
          when(
            (lit(y1) > py) =!= (lit(y2) > py),
            when(px < lit(x1) +
              (lit(x2) - lit(x1)) * (py - lit(y1)) / (lit(y2) - lit(y1)),
              lit(1L)).otherwise(lit(0L)))
            .otherwise(lit(0L))
        }.foldLeft(lit(0L))(_ + _)
      val (bx1, by1, bx2, by2) = p.bbox
      (when(px >= bx1 && px <= bx2 && py >= by1 && py <= by2,
        crossings % 2 === 1).otherwise(lit(false))).as(s"in_${p.id}")
    }
    df.select(col("*") +: tagged: _*)
  }

  /** DuckDB spelling of one polygon's [[pointInPolygons]] verdict over
    * point columns `px`/`py` — the identical unrolled arithmetic. Every
    * vertex literal is forced ::DOUBLE: DuckDB parses bare decimal
    * literals as exact DECIMAL, whose subtraction/multiplication would
    * diverge from Spark's IEEE arithmetic in the last ulps (the
    * q_spatial lattice lesson).
    */
  def pointInPolygonSql(p: Polygon, px: String, py: String): String = {
    def d(x: Double) = s"$x::DOUBLE"
    val crossings = p.edges.map { case (x1, y1, x2, y2) =>
      s"(CASE WHEN (${d(y1)} > $py) <> (${d(y2)} > $py) THEN " +
        s"(CASE WHEN $px < ${d(x1)} + (${d(x2)} - ${d(x1)}) * " +
        s"($py - ${d(y1)}) / (${d(y2)} - ${d(y1)}) " +
        "THEN 1 ELSE 0 END) ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val (bx1, by1, bx2, by2) = p.bbox
    s"(CASE WHEN $px >= ${d(bx1)} AND $px <= ${d(bx2)} " +
      s"AND $py >= ${d(by1)} AND $py <= ${d(by2)} " +
      s"THEN ($crossings) % 2 = 1 ELSE false END)"
  }
}
