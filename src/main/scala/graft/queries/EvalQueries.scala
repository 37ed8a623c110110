package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, DataQuality, Graphs, ModelEval, Ranking, TextAnalysis}
import graft.sources.Tables
import graft.queries.{Oracle => O}

/** Round-7 gate queries: model-evaluation readouts (AUC, calibration),
  * hybrid-retrieval rank fusion, k-core graph pruning, and the
  * functional-dependency audit. Each is hash-checked against a DuckDB
  * oracle per SURVEY.md §5.3.
  */
object EvalQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** The events frame with the binary outcome the eval gates score
    * against: did the event convert (purchase)?
    */
  private def labeled(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "events")
      .withColumn("_pos", (col("event_type") === "purchase").cast("long"))

  /** ROC AUC ([[ModelEval.aucRank]]) of `value` as a purchase score —
    * the pair-counting identity over the distinct-score grid, exact
    * integer arithmetic to one final division.
    */
  def qAuc(s: SparkSession, dir: String): DataFrame =
    ModelEval.aucRank(labeled(s, dir), "value", "_pos")

  /** Reliability diagram + ECE ([[ModelEval.calibration]]) of a
    * deterministic pseudo-probability: `p = (u + label) / 2` with
    * `u = hashBucket(event_id)/10⁶` — exact dyadic-free arithmetic
    * both engines compute bit-identically (the md5 discipline), and a
    * score that genuinely correlates with the label so bins are
    * non-degenerate in both halves.
    */
  def qCalibration(s: SparkSession, dir: String): DataFrame =
    ModelEval.calibration(
      labeled(s, dir).withColumn("_p",
        (Corpus.hashBucket(col("event_id"), "cal", 1000000) / lit(1000000.0) +
          col("_pos").cast("double")) / lit(2.0)),
      "_p", "_pos", bins = 10)

  /** Hybrid-retrieval RRF fusion ([[Ranking.rrfFuse]]): the BM25
    * top-50 fused with a length-normalized query-term-density top-50
    * (two genuinely different lexical rankings of the same corpus),
    * k = 60, fused top-20. The oracle replays both scorers, both rank
    * windows, the full-outer candidate merge, and the reciprocal fold,
    * so the whole hybrid-retrieval chain hash-checks as one unit.
    */
  def qRrf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lex = TextAnalysis.bm25(d, "doc_id", "text",
      Seq("hash", "join", "scan"), topK = 50)
    val toks = TextAnalysis.tokens(col("text"))
    val dens = d.select(
        col("doc_id"),
        size(toks).cast("double").as("dl"),
        size(filter(toks, t => t.isin("hash", "join", "scan")))
          .cast("double").as("hits"))
      .filter(col("dl") > 0)
      .select(col("doc_id"), Det.r6(col("hits") / col("dl")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(50)
    Ranking.rrfFuse(Seq("lex" -> lex, "dens" -> dens), "doc_id",
      k = 60, topK = 20)
  }

  /** Graded-relevance ranking eval ([[Ranking.rankEval]]): each user's
    * events ranked by `(value DESC, event_id ASC)` play the retrieval
    * list, with a graded label from the event type (purchase 3,
    * signup 2, click 1, else 0) — NDCG@10 and MRR per user, the
    * offline readout a retrieval/recommendation pipeline reports.
    */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.events(s, dir)
      .select(col("user_id").as("qid"), col("event_id"), col("value"),
        when(col("event_type") === "purchase", 3L)
          .when(col("event_type") === "signup", 2L)
          .when(col("event_type") === "click", 1L)
          .otherwise(0L).as("rel"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("value").desc, col("event_id"))))
    Ranking.rankEval(ranked, "qid", "rank", "rel", k = 10)
      .withColumnRenamed("qid", "user_id")
      .orderBy("user_id")
  }

  /** Classification point metrics ([[ModelEval.classificationReport]])
    * of `value ≥ 50` as a purchase predictor: confusion matrix +
    * precision/recall/F1/accuracy — the operating-point readout next
    * to q_auc's threshold-free ranking quality.
    */
  def qPrf(s: SparkSession, dir: String): DataFrame =
    ModelEval.classificationReport(labeled(s, dir), "value", "_pos",
      threshold = 50.0)

  /** Average precision ([[ModelEval.averagePrecision]]) of `value` as
    * a purchase score — the PR-curve summary over the distinct-score
    * grid, bucketed prefix sums like q_auc.
    */
  def qAp(s: SparkSession, dir: String): DataFrame =
    ModelEval.averagePrecision(labeled(s, dir), "value", "_pos")

  /** Off-policy IPS/SNIPS evaluation ([[ModelEval.ipsEstimate]]) of a
    * deterministic context-dependent target policy (purchase for even
    * users, click for odd) over the logged (event_type, value) stream —
    * the counterfactual "what would this policy have earned" readout,
    * with the matched-mass effective-sample diagnostic.
    */
  def qIps(s: SparkSession, dir: String): DataFrame =
    ModelEval.ipsEstimate(
      Tables.events(s, dir),
      "event_type", "value",
      when(col("user_id") % 2 === 0, lit("purchase")).otherwise(lit("click")))

  /** Multi-touch attribution ([[graft.ops.Behavior.attribution]]):
    * user journeys cut at purchases; converted journeys credit their
    * touches first/last/linear per touch type — the channel-value
    * table.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.ops.Behavior.attribution(
      Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type", convType = "purchase")

  /** k-core pruning ([[Graphs.kCore]]) of the co-purchase graph at
    * k = 75 — above the graph's first peel shell (min degree ~42) so
    * the peel genuinely cascades (5 rounds at sf0.01/sf0.1), below its
    * collapse point (~85) so the core is nonempty there. Every vertex
    * reports its verdict; the oracle is the generated 12-round
    * unrolled peel, which is a fixpoint no-op past round 5.
    */
  def qKcore(s: SparkSession, dir: String): DataFrame =
    Graphs.kCore(
        Graphs.coOccurrenceEdges(
          Tables.table(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        k = 75)
      .select(col("x").as("vertex"), col("in_core"), col("core_degree"))
      .orderBy("vertex")

  /** Functional-dependency audit ([[DataQuality.fdAudit]]) over
    * `orders`: a key FD that holds, a spurious FD that fails, and a
    * composite-lhs FD that fails — all three verdict shapes.
    */
  def qFd(s: SparkSession, dir: String): DataFrame =
    DataQuality.fdAudit(Tables.table(s, dir, "orders"), Seq(
      Seq("o_orderkey") -> "o_custkey",
      Seq("o_custkey") -> "o_orderpriority",
      Seq("o_orderstatus", "o_orderpriority") -> "o_custkey"))

  private val posCase = "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"

  /** DuckDB spelling of [[Corpus.hashBucket]] (the CorpusQueries
    * contract) for the calibration pseudo-probability.
    */
  private val calU =
    "(('0x' || substr(md5('cal' || event_id::VARCHAR), 1, 8))::BIGINT " +
      "% 1000000) / 1000000.0"

  private def fdSql(lhs: Seq[String], rhs: String): String = {
    val fdName = s"${lhs.mkString(",")} -> $rhs"
    s"SELECT '$fdName' AS fd, count(*)::BIGINT AS n_groups, " +
      "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS violating_groups, " +
      "CAST(max(nd) AS BIGINT) AS max_distinct_rhs, " +
      "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS holds " +
      s"FROM (SELECT count(DISTINCT $rhs) AS nd FROM orders " +
      s"GROUP BY ${lhs.mkString(", ")})"
  }

  val gates: Map[String, Gate] = Gate.registry(
    // pair-counting AUC over the distinct-score grid; the oracle's
    // prefix sum is the plain global window (single-threaded SQL may),
    // the engine's is the order-preserving bucket decomposition
    "q_auc" -> Gate(qAuc _,
      s"WITH b AS (SELECT value AS s, $posCase AS p FROM events " +
        "WHERE value IS NOT NULL), " +
        "g AS (SELECT s, CAST(sum(p) AS BIGINT) AS npos, " +
        "CAST(sum(1 - p) AS BIGINT) AS nneg FROM b GROUP BY 1), " +
        "c AS (SELECT npos, nneg, coalesce(sum(nneg) OVER " +
        "(ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
        "0)::BIGINT AS negbelow FROM g) " +
        "SELECT CAST(sum(npos) AS BIGINT) AS n_pos, " +
        "CAST(sum(nneg) AS BIGINT) AS n_neg, " +
        "CAST(sum(npos) AS BIGINT) * CAST(sum(nneg) AS BIGINT) AS n_pairs, " +
        "CASE WHEN sum(npos) > 0 AND sum(nneg) > 0 THEN " +
        O.r6("CAST(sum(npos * 2 * negbelow + npos * nneg) AS DOUBLE) / " +
          "(2.0 * CAST(sum(npos) AS BIGINT) * CAST(sum(nneg) AS BIGINT))") +
        " END AS auc FROM c"),
    "q_calibration" -> Gate(qCalibration _,
      s"WITH r AS (SELECT ($calU + " +
        s"CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) / 2.0 " +
        s"AS p, $posCase AS y FROM events), " +
        "g AS (SELECT least(floor(p * 10)::BIGINT, 9) AS bin, " +
        "count(*)::BIGINT AS n, " +
        O.r6(s"${O.dsumRaw(O.r6("p"))} / count(*)") + " AS avg_p, " +
        O.r6("CAST(sum(y) AS DOUBLE) / count(*)") + " AS pos_rate " +
        "FROM r GROUP BY 1), " +
        "g2 AS (SELECT bin, n, avg_p, pos_rate, " +
        O.r6("abs(avg_p - pos_rate)") + " AS gap FROM g), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g2), " +
        "e AS (SELECT " +
        O.dsum(O.r6("n * gap / tot")) + " AS ece FROM g2, t) " +
        "SELECT bin, n, avg_p, pos_rate, gap, ece FROM g2, e ORDER BY bin"),
    // both scorers replayed, both rank windows, the full-outer merge,
    // and the reciprocal fold — the q_bm25 CTE chain at LIMIT 50 plus
    // the density ranking
    "q_rrf" -> Gate(qRrf _,
      "WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) " +
        "AS DOUBLE) AS dl FROM documents), " +
        "stats AS (SELECT count(*) AS _N, " +
        s"${O.dsumRaw("dl")} / count(*) AS avgdl FROM dl), " +
        "tf AS (SELECT doc_id, w AS t, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
        "WHERE w IN ('hash', 'join', 'scan') GROUP BY 1, 2), " +
        "dfq AS (SELECT t, count(*) AS df_t FROM tf GROUP BY 1), " +
        "terms AS (SELECT doc_id, " +
        O.r6("ln(1.0 + (_N - df_t + 0.5) / (df_t + 0.5)) * " +
          "tf * (1.2 + 1.0) / " +
          "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))") + " AS s " +
        "FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id), stats), " +
        "lex AS (SELECT doc_id, " + O.dsum("s") + " AS score " +
        "FROM terms GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 50), " +
        "ra AS (SELECT doc_id, row_number() OVER " +
        "(ORDER BY score DESC, doc_id)::BIGINT AS rank_lex FROM lex), " +
        "d0 AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), " +
        "t -> t IN ('hash', 'join', 'scan'))) AS DOUBLE) AS hits, " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents), " +
        "dens AS (SELECT doc_id, " + O.r6("hits / dl") + " AS score " +
        "FROM d0 WHERE dl > 0 ORDER BY score DESC, doc_id LIMIT 50), " +
        "rb AS (SELECT doc_id, row_number() OVER " +
        "(ORDER BY score DESC, doc_id)::BIGINT AS rank_dens FROM dens) " +
        "SELECT doc_id, rank_lex, rank_dens, " +
        O.r6("coalesce(1.0 / (60 + rank_lex), 0.0) + " +
          "coalesce(1.0 / (60 + rank_dens), 0.0)") + " AS rrf " +
        "FROM ra FULL JOIN rb USING (doc_id) " +
        "ORDER BY rrf DESC, doc_id LIMIT 20"),
    "q_ndcg" -> Gate(qNdcg _,
      "SELECT qid AS user_id, n_ranked, n_rel, dcg, ndcg, mrr FROM (" +
        Ranking.rankEvalOracleSql(
          "SELECT user_id AS qid, row_number() OVER (PARTITION BY user_id " +
            "ORDER BY value DESC, event_id ASC) AS rank, " +
            "CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2 " +
            "WHEN 'click' THEN 1 ELSE 0 END AS rel FROM events",
          k = 10) +
        ") ORDER BY user_id"),
    "q_prf" -> Gate(qPrf _, ModelEval.classificationReportOracleSql(
      "events", "value", posCase, threshold = 50.0)),
    "q_ap" -> Gate(qAp _, ModelEval.averagePrecisionOracleSql(
      "events", "value", posCase)),
    "q_ips" -> Gate(qIps _, ModelEval.ipsOracleSql(
      "SELECT event_type AS a, value AS r, " +
        "CASE WHEN user_id % 2 = 0 THEN 'purchase' ELSE 'click' END AS pi " +
        "FROM events")),
    "q_attribution" -> Gate(qAttribution _, graft.ops.Behavior.attributionOracleSql(
      "SELECT user_id AS u, ts, event_id AS id, event_type AS t FROM events",
      convType = "purchase")),
    "q_kcore" -> Gate(qKcore _,
      "SELECT x AS vertex, in_core, core_degree FROM (" +
        Graphs.kCoreOracleSql(O.coPurchaseEdges, k = 75, rounds = 12) +
        ") ORDER BY vertex"),
    "q_fd" -> Gate(qFd _,
      Seq(
        fdSql(Seq("o_orderkey"), "o_custkey"),
        fdSql(Seq("o_custkey"), "o_orderpriority"),
        fdSql(Seq("o_orderstatus", "o_orderpriority"), "o_custkey"),
      ).map(q => s"($q)").mkString(" UNION ALL ") + " ORDER BY fd"),
  )
}
