package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Graphs, LinAlg, Privacy, TextAnalysis}
import graft.sources.Tables
import graft.queries.{Oracle => O}

/** Round-8 gate queries: structure discovery (shortest paths, HITS
  * hubs/authorities, TextRank keywords, the embedding covariance
  * matrix) and release governance (k-anonymity/l-diversity audit +
  * suppression enforcement). Each hash-checks against a DuckDB oracle
  * per SURVEY.md §5.3; the iterative graph gates use the unrolled-CTE
  * oracle discipline (overshot rounds are fixpoint no-ops, and the
  * engine's runaway guards turn a short unroll into a loud hash fail).
  */
object StructuralQueries {

  /** Co-purchase part graph (the q_pagerank/q_kcore graph) with a
    * deterministic integer weight 1 + (u+v) mod 5 — varied enough that
    * weighted shortest paths differ from hop counts, exact enough to
    * hash.
    */
  private def weightedCoPurchase(s: SparkSession, dir: String): DataFrame =
    Graphs.coOccurrenceEdges(
        Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      .withColumn("w", (lit(1) + (col("u") + col("v")) % 5).cast("long"))

  /** Single-source shortest paths ([[Graphs.sssp]]) from part 0 over
    * the weighted co-purchase graph — exact integer distances, every
    * vertex reported (NULL = unreachable).
    */
  def qSssp(s: SparkSession, dir: String): DataFrame =
    Graphs.sssp(weightedCoPurchase(s, dir), source = 0L)
      .select(col("x").as("vertex"), col("dist"))
      .orderBy("vertex")

  /** HITS ([[Graphs.hitsBipartite]]) over the customer→part purchase
    * graph: customers score as hubs, parts as authorities, 4
    * L1-normalized iterations.
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.table(s, dir, "orders")
    val li = Tables.table(s, dir, "lineitem")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct()
    Graphs.hitsBipartite(edges, iters = 4)
  }

  /** TextRank keywords ([[TextAnalysis.textRankKeywords]]) over the
    * documents corpus: adjacency co-occurrence graph (window 2, token
    * length ≥ 4, edge weight ≥ 2) → weighted PageRank → top 30.
    */
  def qTextrank(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textRankKeywords(Tables.table(s, dir, "documents"), "text")

  /** Embedding covariance ([[LinAlg.gramCov]]): the upper-triangle
    * d(d+1)/2 Gram + population-covariance statistics of the embedding
    * table in one aggregation pass.
    */
  def qGram(s: SparkSession, dir: String): DataFrame =
    LinAlg.gramCov(Tables.table(s, dir, "embeddings"), "embedding")

  /** The generalization ladder the k-anonymity gates audit: hour-level
    * QIs (fails k=5 broadly), day-level (passes), month-level
    * (passes coarsely). Sensitive attribute: user_id.
    */
  private def kanonLevels = Seq(
    Privacy.QiLevel("l0_hour", Seq(
      "etype" -> col("event_type"),
      "day" -> to_date(col("ts")),
      "hr" -> hour(col("ts")))),
    Privacy.QiLevel("l1_day", Seq(
      "etype" -> col("event_type"),
      "day" -> to_date(col("ts")))),
    Privacy.QiLevel("l2_month", Seq(
      "etype" -> col("event_type"),
      "mon" -> date_trunc("month", col("ts")))))

  /** k-anonymity / l-diversity audit ([[Privacy.kAnonymityAudit]])
    * across the three-level generalization ladder, k=5, l=3.
    */
  def qKanon(s: SparkSession, dir: String): DataFrame =
    Privacy.kAnonymityAudit(Tables.events(s, dir), kanonLevels,
      sensitive = col("user_id"), k = 5, l = 3)

  /** Suppression enforcement ([[Privacy.suppressToK]]) at the
    * finest (failing) ladder level: the releasable-remainder verdict —
    * kept rows, surviving QI groups, and the kept-value checksum.
    */
  def qKanonEnforce(s: SparkSession, dir: String): DataFrame =
    Privacy.suppressToK(Tables.events(s, dir), kanonLevels.head.qi, k = 5)
      .agg(
        count(lit(1)).as("n_kept"),
        countDistinct(col("etype"), col("day"), col("hr"))
          .as("n_groups_kept"),
        Det.dsum(col("value")).as("value_sum"))

  /** Deterministic label propagation ([[Graphs.labelPropagation]]),
    * 4 synchronous rounds over the co-purchase graph — the fixed-round
    * contract (sync LPA need not converge; DECISIONS #33).
    */
  def qLpa(s: SparkSession, dir: String): DataFrame =
    Graphs.labelPropagation(
        Graphs.coOccurrenceEdges(
          Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        rounds = 4)
      .select(col("x").as("vertex"), col("community"))
      .orderBy("vertex")

  /** Modularity breakdown ([[Graphs.modularity]]) of the q_lpa
    * partition over the same co-purchase graph — the quality readout
    * that closes the community-detection loop (per-community intra-edge
    * mass vs the null model; global Q = Σ dq).
    */
  def qModularity(s: SparkSession, dir: String): DataFrame = {
    // The co-purchase edge list is a lineitem SELF-JOIN, and the naive
    // composition re-evaluates it once per downstream reference (the
    // LPA rounds plus modularity's edge-count/degree/internal joins) —
    // measured as ~7/8 of the gate's sf10 cost (SCALE.md §10f). One
    // eager materialization feeds every reference; on exit the 2-row
    // verdict is itself materialized and every block this gate pinned
    // (edge generation + LPA's final label generation) is released —
    // the Spark-side mirror of the oracle's AS MATERIALIZED fix.
    graft.util.Lineage.sweep(s) {
      val edges = graft.util.Lineage.checkpoint(
        Graphs.coOccurrenceEdges(
          Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey")).df
      // the edges are already a generation, so LPA reads them in place
      // instead of caching the list AGAIN at 2× width — at sf10 the
      // duplicate pushed storage into eviction churn (277 s vs the
      // 189.9 s pre-checkpoint composition; SCALE.md §10g)
      val labels = Graphs.labelPropagation(edges, rounds = 4)
        .select(col("x"), col("community"))
      Graphs.modularity(edges, labels)
    }
  }

  /** Personalized PageRank ([[Graphs.pageRankPersonalized]]) seeded at
    * parts {0, 1, 2} — local importance relative to a seed set.
    */
  def qPpr(s: SparkSession, dir: String): DataFrame =
    Graphs.pageRankPersonalized(
        Graphs.coOccurrenceEdges(
          Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        seeds = Seq(0L, 1L, 2L), damping = 0.85, iters = 3)
      .select(col("x").as("vertex"), Det.r6(col("r") * lit(1000.0)).as("rank_k"))
      .orderBy("vertex")

  /** Adamic–Adar link prediction ([[Graphs.adamicAdarAdaptive]]) over
    * the co-purchase graph: top-50 non-edge distance-2 pairs by
    * shared-neighbor mass, hub centers above the p99 degree quantile
    * suppressed — the cap self-tunes to the corpus instead of carrying
    * a constant across scales (VERDICT r9 item 5). Edge list
    * checkpointed once (the qModularity discipline: the lineitem
    * self-join otherwise replays for the cap scan + the wedge join),
    * all gate-pinned blocks released on exit.
    */
  def qAdamic(s: SparkSession, dir: String): DataFrame =
    graft.util.Lineage.sweep(s) {
      Graphs.adamicAdarAdaptive(
        graft.util.Lineage.checkpoint(Graphs.coOccurrenceEdges(
          Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey")).df,
        capQuantile = 0.99, topK = 50)
    }

  /** ε-DP noisy count release ([[Privacy.noisyCounts]]) of the
    * per-event-type counts at ε = 1 — the governed-release twin of the
    * k-anonymity gates, hash-seeded so the release (and the gate)
    * replays exactly.
    */
  def qDpCounts(s: SparkSession, dir: String): DataFrame =
    Privacy.noisyCounts(Tables.events(s, dir), Seq("event_type"),
        epsilon = 1.0)
      .orderBy("event_type")

  /** Exact global p50/p90/p99 by two-pass distributed selection
    * ([[Quantiles.exactQuantiles]]) — no global sort, no value-buffering
    * aggregate.
    */
  def qQuantileDist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.exactQuantiles(
      Tables.table(s, dir, "lineitem"), "l_extendedprice",
      Seq(0.5, 0.9, 0.99))

  /** The geofence fixture: three polygons over the q_spatial lattice
    * domain (lat 40.2–41.0, lon −74.6–−73.79) — a box, a triangle, and
    * a CONCAVE pentagon (the shape bbox tests get wrong and ray
    * casting must get right).
    */
  private def geofences = Seq(
    graft.ops.Spatial.Polygon("box", Seq(
      (-74.45, 40.35), (-74.15, 40.35), (-74.15, 40.65), (-74.45, 40.65))),
    graft.ops.Spatial.Polygon("wedge", Seq(
      (-74.3, 40.4), (-73.95, 40.75), (-74.3, 40.75))),
    graft.ops.Spatial.Polygon("notch", Seq(
      (-74.1, 40.25), (-73.85, 40.25), (-73.85, 40.55),
      (-73.95, 40.4), (-74.1, 40.55))))

  /** Point-in-polygon geofencing ([[Spatial.pointInPolygons]]): events
    * on the q_spatial lattice tagged against [[geofences]] in one
    * narrow pass, melted to a per-polygon (points inside, distinct
    * users inside) verdict.
    */
  def qPip(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(s, dir).select(
      col("user_id"),
      (lit(40.2) + (col("user_id") % 997) * lit(0.0008)).as("lat"),
      (lit(-74.6) + (col("event_id") % 1013) * lit(0.0008)).as("lon"))
    val polys = geofences
    val tagged = graft.ops.Spatial.pointInPolygons(pts, "lon", "lat", polys)
    val aggs = polys.flatMap { p =>
      Seq(
        sum(col(s"in_${p.id}").cast("long")).as(s"n_${p.id}"),
        countDistinct(when(col(s"in_${p.id}"), col("user_id")))
          .as(s"u_${p.id}"))
    }
    tagged.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(polys.map(p =>
        struct(lit(p.id).as("polygon"),
          col(s"n_${p.id}").as("n_inside"),
          col(s"u_${p.id}").as("n_users"))): _*)).as("t"))
      .select(col("t.polygon"), col("t.n_inside"), col("t.n_users"))
      .orderBy("polygon")
  }

  /** DuckDB spelling of [[TextAnalysis.textRankEdges]]: list_zip of the
    * token list against its own tail gives the adjacent pairs.
    */
  private def textRankEdgesSql: String =
    "SELECT least(a, b) AS u, greatest(a, b) AS v, count(*) AS w FROM (" +
      "SELECT pr[1] AS a, pr[2] AS b FROM (" +
      "SELECT unnest(list_zip(t, t[2:])) AS pr FROM (" +
      "SELECT string_split(text, ' ') AS t FROM documents " +
      "WHERE len(string_split(text, ' ')) >= 2)) " +
      "WHERE pr[2] IS NOT NULL AND len(pr[1]) >= 4 AND len(pr[2]) >= 4 " +
      "AND pr[1] <> pr[2]) " +
      "GROUP BY 1, 2 HAVING count(*) >= 2"

  private def kanonLevelSql(label: String, groupBy: String): String =
    s"SELECT '$label' AS level, " +
      "CAST(sum(_n) AS BIGINT) AS n_rows, " +
      "count(*)::BIGINT AS n_groups, " +
      "CAST(min(_n) AS BIGINT) AS min_group_size, " +
      "CAST(sum(CASE WHEN _n < 5 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS groups_below_k, " +
      "CAST(sum(CASE WHEN _n < 5 THEN _n ELSE 0 END) AS BIGINT) " +
      "AS rows_below_k, " +
      "CAST(sum(CASE WHEN _n < 5 THEN 1 ELSE 0 END) AS BIGINT) = 0 " +
      "AS k_anonymous, " +
      "CAST(sum(CASE WHEN _nd < 3 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS groups_below_l, " +
      "CAST(sum(CASE WHEN _nd < 3 THEN 1 ELSE 0 END) AS BIGINT) = 0 " +
      "AS l_diverse FROM " +
      "(SELECT count(*) AS _n, count(DISTINCT user_id) AS _nd " +
      s"FROM events GROUP BY $groupBy)"

  val gates: Map[String, Gate] = Gate.registry(
    "q_sssp" -> Gate(qSssp _, "SELECT x AS vertex, dist FROM (" +
      Graphs.ssspOracleSql(
        s"SELECT u, v, 1 + (u + v) % 5 AS w FROM (${O.coPurchaseEdges})",
        source = 0L, rounds = 10) +
      ") ORDER BY vertex"),
    "q_hits" -> Gate(qHits _, Graphs.hitsOracleSql(
      "SELECT DISTINCT o_custkey AS src, l_partkey AS dst " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey",
      iters = 4)),
    "q_textrank" -> Gate(qTextrank _, Graphs.pageRankWeightedOracleSql(
      textRankEdgesSql, damping = 0.85, iters = 3,
      finalSelect = "SELECT x AS token, " + O.r6("r * 1000.0") +
        " AS rank_k FROM r3 ORDER BY rank_k DESC, token LIMIT 30")),
    "q_gram" -> Gate(qGram _,
      "WITH ex AS (SELECT vec_id, unnest(range(len(embedding))) AS i, " +
        "unnest(list_transform(embedding, x -> x::DOUBLE)) AS x " +
        "FROM embeddings), " +
        "g AS (SELECT a.i AS i, b.i AS j, count(*)::BIGINT AS n, " +
        O.dsum("a.x * b.x") + " AS gram " +
        "FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i " +
        "GROUP BY 1, 2), " +
        "s AS (SELECT i, " + O.dsum("x") + " AS sx FROM ex GROUP BY 1) " +
        "SELECT g.i, g.j, g.n, g.gram, " +
        O.r6("(g.gram - sa.sx * sb.sx / g.n) / g.n") + " AS cov " +
        "FROM g JOIN s sa ON sa.i = g.i JOIN s sb ON sb.i = g.j " +
        "ORDER BY g.i, g.j"),
    "q_kanon" -> Gate(qKanon _, Seq(
      kanonLevelSql("l0_hour",
        "event_type, CAST(ts AS DATE), extract(hour FROM ts)"),
      kanonLevelSql("l1_day", "event_type, CAST(ts AS DATE)"),
      kanonLevelSql("l2_month", "event_type, date_trunc('month', ts)"),
    ).map(q => s"($q)").mkString(" UNION ALL ") + " ORDER BY level"),
    "q_kanon_enforce" -> Gate(qKanonEnforce _,
      "WITH k AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "extract(hour FROM ts) AS hr, value FROM events), " +
        "big AS (SELECT event_type, day, hr FROM k " +
        "GROUP BY 1, 2, 3 HAVING count(*) >= 5), " +
        "kept AS (SELECT k.* FROM k JOIN big USING (event_type, day, hr)) " +
        "SELECT count(*)::BIGINT AS n_kept, " +
        "count(DISTINCT (event_type, day, hr))::BIGINT AS n_groups_kept, " +
        O.dsum("value") + " AS value_sum FROM kept"),
    "q_lpa" -> Gate(qLpa _, "SELECT x AS vertex, community FROM (" +
      Graphs.labelPropagationOracleSql(O.coPurchaseEdges, rounds = 4) +
      ") ORDER BY vertex"),
    "q_modularity" -> Gate(qModularity _, Graphs.modularityOracleSql(
      O.coPurchaseEdges,
      Graphs.labelPropagationOracleSql(O.coPurchaseEdges, rounds = 4))),
    "q_adamic" -> Gate(qAdamic _, Graphs.adamicAdarAdaptiveOracleSql(
      O.coPurchaseEdges, capQuantile = 0.99, topK = 50)),
    "q_dp_counts" -> Gate(qDpCounts _, Privacy.noisyCountsOracleSql(
      "events", "event_type", epsilon = 1.0) + " ORDER BY event_type"),
    "q_ppr" -> Gate(qPpr _, Graphs.pagerankPersonalizedOracleSql(
      O.coPurchaseEdges, seeds = Seq(0L, 1L, 2L), damping = 0.85, iters = 3,
      finalSelect = "SELECT x AS vertex, " + O.r6("r * 1000.0") +
        " AS rank_k FROM r3 ORDER BY vertex")),
    "q_quantile_dist" -> Gate(qQuantileDist _, graft.ops.Quantiles.exactQuantilesOracleSql(
      "lineitem", "l_extendedprice", Seq(0.5, 0.9, 0.99))),
    "q_pip" -> Gate(qPip _, {
      val pts = "SELECT user_id, " +
        "40.2::DOUBLE + (user_id % 997) * 0.0008::DOUBLE AS lat, " +
        "-74.6::DOUBLE + (event_id % 1013) * 0.0008::DOUBLE AS lon FROM events"
      val polySelects = geofences.map { p =>
        val in = graft.ops.Spatial.pointInPolygonSql(p, "lon", "lat")
        s"(SELECT '${p.id}' AS polygon, " +
          s"CAST(sum(CASE WHEN $in THEN 1 ELSE 0 END) AS BIGINT) AS n_inside, " +
          s"count(DISTINCT CASE WHEN $in THEN user_id END)::BIGINT AS n_users " +
          "FROM pts)"
      }.mkString(" UNION ALL ")
      s"WITH pts AS ($pts) $polySelects ORDER BY polygon"
    }),
  )
}
